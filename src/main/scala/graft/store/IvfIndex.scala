package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Similarity

/** On-disk IVF (inverted-file) ANN index: the embeddings table written
  * `partitionBy("cell")`, where cell = nearest seed centroid
  * ([[Similarity.ivfAssign]], shuffle-free argmax projection).
  *
  * This materializes the scale claim behind v05: at query time the cell
  * predicate is a PARTITION filter, so Spark's file index prunes every
  * other cell's files before any IO — on a 1000-cell, 100 TB corpus a
  * probe reads ~0.1% of the data. The pruning is visible in the plan
  * (`PartitionFilters: [isnotnull(cell), (cell = N)]`) and asserted in
  * IvfIndexSpec, not just claimed.
  *
  * Recall/exactness contract: searching `nProbe` cells is exact for
  * vectors assigned to those cells; global recall is the standard IVF
  * trade-off (raise nProbe or train better seeds). Seeds live next to
  * the index so search and build can't drift.
  */
object IvfIndex {

  /** Train IVF seed centroids: spherical mini-k-means (maximize cosine).
    * Each iteration is one pass over `df` — the shuffle-free
    * [[Similarity.ivfAssign]] argmax projection, then per-(cell, dim)
    * sums (one shuffle, k×dim result rows) collected and L2-normalized
    * into the next codebook. Driver state is exactly the codebook
    * (k × dim floats) — bounded no matter the corpus size. Empty cells
    * keep their previous seed.
    *
    * Initialization is deterministic: the k vectors with the smallest
    * ids. At 100 TB you train on a sample (`df.sample(...)` from the
    * caller) — seed quality needs thousands of vectors per cell, not the
    * whole corpus — then assign the full corpus once via [[build]].
    *
    * Returns a (cell_id, seed_vec) frame ready for [[build]].
    */
  def trainSeeds(df: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 5): DataFrame = {
    require(k > 0, "k must be positive")
    require(iters >= 0, "iters must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._
    var seeds: Seq[(Long, Array[Float])] =
      df.select(col(idCol).cast("long"), col(vecCol))
        .orderBy(col(idCol)).limit(k)
        .collect().zipWithIndex
        .map { case (r, i) => (i.toLong, r.getSeq[Float](1).toArray) }
        .toSeq
    // Fail fast instead of silently training an underfilled codebook —
    // callers size cell pruning by k (same contract as PQ's train).
    require(seeds.length == k,
      s"corpus has only ${seeds.length} vectors, cannot train $k cells")
    for (_ <- 0 until iters) {
      val seedsDf = seeds.toDF("cell_id", "seed_vec")
      val sums = Similarity
        .ivfAssign(df, idCol, vecCol, seedsDf, "cell_id", "seed_vec")
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x").cast("double")).as("sx"))
        .collect() // k × dim rows — the codebook, nothing more
      val byCell = sums.groupBy(_.getLong(0))
      seeds = seeds.map { case (cid, old) =>
        byCell.get(cid).fold((cid, old)) { rows =>
          val v = new Array[Double](old.length)
          rows.foreach(r => v(r.getInt(1)) = r.getDouble(2))
          val n = math.sqrt(v.map(x => x * x).sum)
          if (n == 0) (cid, old)
          else (cid, v.map(x => (x / n).toFloat))
        }
      }
    }
    seeds.toDF("cell_id", "seed_vec")
  }

  /** Build: assign every vector to its nearest seed, write partitioned
    * by cell. One narrow projection + one write; no shuffle beyond the
    * writer's own file layout.
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      path: String): Unit =
    writeLayout(
      Similarity.ivfAssign(df, idCol, vecCol, seeds, seedIdCol, seedVecCol),
      seeds, seedIdCol, seedVecCol, idCol, path)

  /** The build writes both faces share: the cell-partitioned `vectors`
    * layout, the seeds, the id column and the layout's column types.
    */
  private def writeLayout(assigned: DataFrame, seeds: DataFrame,
      seedIdCol: String, seedVecCol: String, idCol: String,
      path: String): Unit = {
    assigned.write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
    writeSeeds(seeds, seedIdCol, seedVecCol, path)
    writeIdCol(assigned.sparkSession, idCol, path)
    writeVectorsRecord(assigned, path)
  }

  /** [[build]] with int8 scalar-quantized storage ([[graft.operators
    * .ScalarQuant]]): each vector persists as (codes array<tinyint>,
    * scale double) INSTEAD of the float32 array — ~4× fewer bytes on
    * disk and, because [[searchQuantized]]'s scan reads only
    * (id, codes, scale), ~4× fewer scan bytes per probe on top of the
    * cell pruning. The price is the standard SQ8 trade: scores are
    * computed on dequantized codes (per-component error ≤ scale/2), so
    * ranking near the top-k boundary can differ from the float index —
    * when exact order matters, over-fetch here and rescore the
    * candidate set against a full-precision column kept elsewhere
    * (v11's retrieve-then-rescore shape, [[graft.operators.Similarity
    * .knnQuantizedRescore]]).
    */
  def buildQuantized(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      path: String): Unit =
    writeLayout(
      graft.operators.ScalarQuant.quantize(
        Similarity.ivfAssign(df, idCol, vecCol, seeds, seedIdCol, seedVecCol),
        vecCol).drop(vecCol),
      seeds, seedIdCol, seedVecCol, idCol, path)

  /** INCREMENTAL index maintenance: assign a delta batch against the
    * index's OWN frozen on-disk seeds and append into the existing
    * cell-partitioned layout. Because cell is the argmax against the
    * same codebook the index was built with, appended files land
    * inside existing `cell=N` directories, so every search face
    * (the solo and batch `cell IN` pruning, the quantized probe)
    * serves base ∪ delta with no rebuild and no re-shuffle of data
    * already on disk — the daily-ingest shape of a 100-TB ANN store.
    * v20 pins the semantics (append ≡ one-shot rebuild, per cell);
    * IvfIndexSpec pins the on-disk face (search over an appended
    * index ≡ search over a rebuilt one, partition pruning intact).
    * Retrain-and-rebuild remains a separate, rarer operation — the
    * v18 cell-balance profile is the signal that it's due.
    */
  def append(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    appendLayout(
      Similarity.ivfAssign(df, idCol, vecCol, readSeeds(df.sparkSession, path),
        "cell", "seed_vec"),
      path)

  /** Append assigned rows to `vectors` after checking they carry exactly
    * the columns and types recorded at build, in any order (parquet
    * reads columns by name): a delta missing a column (or typing it
    * differently) would make every read of those rows return nulls or
    * fail, long after the append that caused it.
    */
  private def appendLayout(assigned: DataFrame, path: String): Unit = {
    val want = vectorsRecord(assigned.sparkSession, path)
    val got = dataColumns(assigned)
    def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    require(shape(got) == shape(want),
      s"appended rows do not match the vectors layout of $path: " +
        s"got ${got.simpleString}, the index was built with ${want.simpleString}")
    assigned.write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
  }

  /** [[append]] for a [[buildQuantized]] index: the delta batch is
    * int8-quantized with the same per-vector scale derivation as the
    * base build, so appended rows are indistinguishable from built
    * ones to [[searchQuantized]].
    */
  def appendQuantized(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit =
    appendLayout(
      graft.operators.ScalarQuant.quantize(
        Similarity.ivfAssign(df, idCol, vecCol,
          readSeeds(df.sparkSession, path), "cell", "seed_vec"),
        vecCol).drop(vecCol),
      path)

  /** Per-document DELETE as a tombstone write: appends the ids to
    * `<path>/tombstones` (one long column, parquet). No index data
    * moves — every search face anti-joins the tombstone set out of its
    * candidates (a broadcast anti-join on the already-pruned probe
    * scan; the set is deleted-ids-sized, tiny next to the index by
    * contract), and the next [[compact]] drops the rows PHYSICALLY and
    * clears the tombstones. This is the standard LSM/GDPR shape: a
    * delete is cheap and immediately visible; reclamation rides the
    * maintenance pass the index already schedules. Shared by the float
    * and the quantized layout (tombstones key on id, not on storage).
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteIds(ids.toDF("id"))(path)
  }

  /** [[delete]] for an id FRAME — the bulk form (e.g. "every doc_id
    * the compliance query matched"), one distributed write, no driver
    * materialization of the id list.
    */
  def deleteIds(ids: DataFrame)(path: String): Unit =
    ids.select(col(ids.columns.head).cast("long").as("id"))
      .write.mode(SaveMode.Append).parquet(s"$path/tombstones")

  /** `tombstones/`: the deleted ids, shared by every index here
    * ([[TextIndex.delete]] and [[TextIndex.deleteBatch]] write it too).
    */
  private[store] val TombstonesSchema = StructType(Seq(
    StructField("id", LongType)))

  /** The live tombstone set, or None when nothing was ever deleted —
    * None keeps every read path's plan byte-identical to a
    * tombstone-free index (no join node appears at all).
    */
  private[store] def tombstones(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val p = new Path(s"$path/tombstones")
    if (Commit.fs(spark, path).exists(p))
      Some(spark.read.schema(TombstonesSchema).parquet(p.toString))
    else None
  }

  /** Anti-join the tombstone set out of a candidate frame. Broadcast:
    * the set is bounded by deletions since the last compact, so the
    * pruned cell scan never re-shuffles on id.
    */
  private[store] def dropTombstoned(df: DataFrame, idCol: String,
      spark: SparkSession, path: String): DataFrame =
    tombstones(spark, path).fold(df) { t =>
      df.join(broadcast(t), df(idCol) === t("id"), "left_anti")
    }

  /** Compact an appended index back to one file per cell, dropping
    * tombstoned rows physically. Each [[append]] adds at least one
    * file to every touched `cell=N` directory, and a year of daily
    * ingest turns a probe's one-partition scan into hundreds of file
    * opens — the classic small-file tax. Compaction is one read (minus
    * the tombstone anti-join, when tombstones exist) + one hash
    * repartition ON THE CELL KEY + one partitioned write: every cell
    * lands wholly in one task, so the writer emits exactly one file
    * per cell, layout (and therefore partition pruning) unchanged.
    *
    * The directory swap is [[Commit.swap]] via `vectors_compacting`
    * and `vectors_old`, so the data is ALWAYS present under some name
    * and the next compact heals a crashed one. Tombstones are cleared
    * only AFTER the swap commits; a crash before that point re-drops
    * the same rows next time (idempotent). Returns
    * (dataFilesBefore, dataFilesAfter).
    */
  def compact(spark: SparkSession, path: String): (Long, Long) =
    // resolve the stored id column only when tombstones exist, so a
    // tombstone-free compact works on indexes without the marker
    compactLayout(spark, path, "vectors", vectorsSchema(spark, path),
      storedIdCol(spark, path))

  /** The shared compact core: read `<path>/<dirName>` with the
    * caller's pinned `schema`, anti-join any
    * tombstones (on `idCol`, resolved lazily — only when tombstones
    * exist), fold to one file per cell, and swap the directory in with
    * [[Commit.swap]]. Shared
    * with [[IvfPqIndex.compact]] so the PQ layout can't drift from the
    * float layout's crash-safety story.
    */
  private[store] def compactLayout(spark: SparkSession, path: String,
      dirName: String, schema: StructType, idCol: => String,
      partCol: String = "cell",
      clearTombstones: Boolean = true): (Long, Long) = {
    val dir = new Path(s"$path/$dirName")
    val tmp = s"$path/${dirName}_compacting"
    val fs = Commit.fs(spark, path)
    val before = Commit.swap(fs, dir, new Path(tmp),
        new Path(s"$path/${dirName}_old")) {
      val before = Commit.parquetFiles(fs, dir).size.toLong
      val src0 = spark.read.schema(schema).parquet(dir.toString)
      // Unreferenced cells are DEAD by invariant: a cell directory whose
      // id the seeds table does not list is a [[splitCell]] leftover (the
      // superseded source cell, or staged halves from a crashed split
      // whose seeds flip never landed) — no search face can ever probe
      // it, so compaction drops it physically. This is what makes
      // splitCell crash-tolerant without a journal: every crash point
      // leaves at worst dead extra bytes, reclaimed here.
      val liveCells =
        if (!fs.exists(new Path(s"$path/seeds"))) None
        else Some(cellIdsOf(readSeeds(spark, path)).toSeq)
      val src = liveCells.fold(src0)(cs => src0.filter(col("cell").isin(cs: _*)))
      tombstones(spark, path).fold(src) { t =>
        src.join(broadcast(t), src(idCol) === t("id"), "left_anti")
      }
        .repartition(col(partCol))
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partCol)
        .parquet(tmp)
      before
    }
    // A multi-directory layout (TextIndex's postings + postings_pos)
    // compacts its sibling dirs against the SAME tombstone set first
    // and clears it only with the last one.
    if (clearTombstones) fs.delete(new Path(s"$path/tombstones"), true)
    (before, Commit.parquetFiles(fs, dir).size.toLong)
  }

  /** Split a HOT cell in place — the incremental rebalance real ANN
    * deployments run when the v18 balance profile flags a cell,
    * instead of retraining the whole codebook: train 2 sub-seeds on
    * the cell's own vectors ([[trainSeeds]] spherical k-means, local
    * to the cell), reassign ONLY that cell's rows, and swap the
    * codebook entry. Everything outside the hot cell — data files,
    * cell ids, pruning behavior — is untouched, which is the point:
    * on a 1000-cell 100-TB index this moves one cell's bytes, not
    * the corpus.
    *
    * Commit order is append-new → flip-seeds → drop-old, under the
    * invariant [[compact]] enforces (an on-disk cell the seeds table
    * does not list is dead and gets reclaimed): a crash after the
    * append leaves invisible staged halves; a crash after the seeds
    * flip leaves the superseded source cell invisible; both are dead
    * bytes until the next compact, never wrong or missing search
    * results — the seeds flip is the single commit point. Not atomic
    * for a reader that caches seeds across the flip (the [[compact]]
    * maintenance-window caveat). Tombstones key on id and ride along
    * untouched. Float layout only: sub-seed training needs the
    * vectors, which the quantized layouts do not store.
    *
    * Returns the two new cell ids.
    */
  def splitCell(spark: SparkSession, path: String, idCol: String,
      vecCol: String, cell: Long, iters: Int = 5): (Long, Long) = {
    val seeds = readSeeds(spark, path)
    val cellIds = cellIdsOf(seeds)
    require(cellIds.contains(cell), s"no such cell in the codebook: $cell")
    val hot = readVectors(spark, path)
      .filter(col("cell") === cell) // partition-pruned: only this cell's IO
      .drop("cell")
    val nextId = nextCellId(spark, path, cellIds, "vectors")
    val sub = trainSeeds(hot, idCol, vecCol, k = 2, iters = iters)
      .select((col("cell_id") + nextId).as("cell_id"), col("seed_vec"))
    // 1) append the reassigned halves (invisible: not in seeds yet)
    Similarity.ivfAssign(hot, idCol, vecCol, sub, "cell_id", "seed_vec")
      .write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
    // 2) flip the codebook — the commit point. Collected first: the
    // codebook is tiny by contract, and an Overwrite of the seeds dir
    // from a plan still READING it would fail/corrupt.
    val kept = seeds.filter(col("cell") =!= cell).collect()
      .map(r => (r.getLong(r.fieldIndex("cell")),
        r.getSeq[Float](r.fieldIndex("seed_vec"))))
    val subRows = sub.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    import spark.implicits._
    writeSeeds((kept ++ subRows).toSeq.toDF("cell", "seed_vec"),
      "cell", "seed_vec", path)
    // 3) drop the superseded source cell (best-effort; dead if it stays)
    Commit.fs(spark, path).delete(new Path(s"$path/vectors/cell=$cell"), true)
    (nextId, nextId + 1)
  }

  /** Smallest cell id safe for staged writes: new ids must never
    * collide with STAGED partitions a crashed predecessor left behind
    * (appended at step 1, seeds flip at step 2 never landed) — those
    * cell=N dirs are dead-by-invariant but physically present, and an
    * id derived from the codebook alone would append live rows into
    * them, resurrecting duplicate (or another cell's) vectors when
    * the new flip lands. The floor is max(codebook, on-disk cell
    * dirs) + 1: collision-proof against every crash point without
    * requiring a compact first. Shared by [[splitCell]] and
    * [[mergeCells]].
    */
  private[store] def nextCellId(spark: SparkSession, path: String,
      cellIds: Array[Long], layout: String): Long = {
    val diskMax = Commit.fs(spark, path).listStatus(new Path(s"$path/$layout"))
      .iterator.map(_.getPath.getName)
      .collect { case n if n.startsWith("cell=") => n.drop(5).toLong }
      .foldLeft(Long.MinValue)(math.max)
    math.max(cellIds.max, diskMax) + 1
  }

  /** Merge two COLD cells in place — [[splitCell]]'s inverse, run when
    * the v18 balance profile shows two low-occupancy cells each paying
    * probe fan-out for a handful of vectors: both cells' rows move
    * under ONE new cell id whose seed is the elementwise mean of the
    * two retired seed vectors (codebook-local arithmetic — no data
    * pass trains anything, which is the point of a maintenance merge;
    * if the merged region later runs hot, [[splitCell]] re-learns real
    * sub-structure from the rows themselves). Same commit protocol and
    * crash contract as the split: append both cells' rows under the
    * new id (invisible — not in seeds), flip the codebook (the single
    * commit point: both old entries out, the mean entry in), then
    * best-effort drop of the two retired dirs; every crash point
    * leaves at worst dead extra bytes for [[compact]] to reclaim, and
    * [[nextCellId]]'s disk floor keeps retries collision-proof.
    * Tombstones key on id and ride along untouched. Float layout only,
    * matching [[splitCell]]. Returns the merged cell id.
    */
  def mergeCells(spark: SparkSession, path: String, a: Long,
      b: Long): Long =
    mergeCellsIn(spark, path, "vectors", vectorsSchema(spark, path), a, b)

  /** [[mergeCells]]'s body for any cell-partitioned layout under `path`
    * (`vectors` here, `codes` for [[IvfPqIndex.mergeCells]]), read with
    * the caller's pinned `schema`: one copy of the append → seeds flip
    * → drop protocol.
    */
  private[store] def mergeCellsIn(spark: SparkSession, path: String,
      layout: String, schema: StructType, a: Long, b: Long): Long = {
    require(a != b, s"mergeCells needs two distinct cells, got $a twice")
    val seeds = readSeeds(spark, path)
    val cellIds = cellIdsOf(seeds)
    Seq(a, b).foreach(c => require(cellIds.contains(c),
      s"no such cell in the codebook: $c"))
    val nextId = nextCellId(spark, path, cellIds, layout)
    // 1) append both cells' rows under the new id (invisible)
    spark.read.schema(schema).parquet(s"$path/$layout")
      .filter(col("cell").isin(a, b)) // partition-pruned: two cells' IO
      .drop("cell")
      .withColumn("cell", lit(nextId))
      .write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/$layout")
    // 2) flip the codebook — the commit point (collected first, as in
    // splitCell: overwriting the seeds dir from a plan reading it
    // would fail/corrupt).
    val rows = seeds.collect()
      .map(r => (r.getLong(r.fieldIndex("cell")),
        r.getSeq[Float](r.fieldIndex("seed_vec"))))
    val sa = rows.find(_._1 == a).get._2
    val sb = rows.find(_._1 == b).get._2
    val mean = sa.zip(sb).map { case (x, y) => (x + y) / 2f }
    val kept = rows.filterNot(r => r._1 == a || r._1 == b)
    import spark.implicits._
    writeSeeds((kept :+ ((nextId, mean))).toSeq.toDF("cell", "seed_vec"),
      "cell", "seed_vec", path)
    // 3) drop the retired source cells (best-effort; dead if they stay)
    val fs = Commit.fs(spark, path)
    Seq(a, b).foreach(c =>
      fs.delete(new Path(s"$path/$layout/cell=$c"), true))
    nextId
  }

  /** The index's id column, recorded at [[build]] time as a 1-row
    * parquet next to the seeds — the stored layout can carry arbitrary
    * payload columns (labels, metadata) alongside the id, so the
    * column cannot be inferred from the schema. Read lazily: only the
    * tombstone paths need it.
    */
  private def writeIdCol(spark: SparkSession, idCol: String, path: String): Unit = {
    import spark.implicits._
    Seq(idCol).toDF("id_col").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/idcol")
  }

  /** `idcol/`: the one-row id column name [[writeIdCol]] writes. */
  private[store] val IdColSchema = StructType(Seq(
    StructField("id_col", StringType)))

  private def storedIdCol(spark: SparkSession, path: String): String = {
    val p = new Path(s"$path/idcol")
    require(Commit.fs(spark, path).exists(p),
      s"$path/idcol missing — tombstone compaction needs the id column " +
        "recorded at build time (rebuild, or write the marker by hand)")
    spark.read.schema(IdColSchema).parquet(p.toString).head().getString(0)
  }

  /** The `vectors` layout carries whatever columns the caller built it
    * from, so its read schema cannot be a constant: [[build]] records
    * the data columns' types as JSON in `vectors_schema.json`, beside
    * `idcol`, and every read passes them back instead of paying a
    * footer-inference job. The record is a plain file read on the
    * driver, not a Spark job.
    */
  private def writeVectorsRecord(assigned: DataFrame, path: String): Unit = {
    val out = Commit.fs(assigned.sparkSession, path)
      .create(new Path(s"$path/$VectorsRecord"), true)
    try out.write(dataColumns(assigned).json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  private val VectorsRecord = "vectors_schema.json"

  /** The partition column as every cell-partitioned layout reads it back
    * (`cell=N` directory names infer as int).
    */
  private[store] val CellField = StructField("cell", IntegerType)

  /** The data columns of an assigned frame as parquet reads them back:
    * every field, element and map value nullable.
    */
  private def dataColumns(assigned: DataFrame): StructType = {
    def readBack(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = readBack(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(readBack(e), containsNull = true)
      case MapType(k, v, _) => MapType(readBack(k), readBack(v), true)
      case other => other
    }
    readBack(StructType(assigned.schema.filterNot(_.name == "cell")))
      .asInstanceOf[StructType]
  }

  /** The recorded data columns of `vectors`; fails with the remedy when
    * the index predates the record (a missing column must never read
    * back as silent nulls).
    */
  private def vectorsRecord(spark: SparkSession, path: String): StructType = {
    val p = new Path(s"$path/$VectorsRecord")
    val fs = Commit.fs(spark, path)
    require(fs.exists(p),
      s"$p missing — reading the vectors layout needs the column types " +
        "recorded at build time (rebuild the index with IvfIndex.build or " +
        "buildQuantized)")
    val in = fs.open(p)
    val json = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    DataType.fromJson(json).asInstanceOf[StructType]
  }

  /** The full read schema of `vectors`: the recorded columns, then
    * `cell`.
    */
  private[store] def vectorsSchema(spark: SparkSession, path: String)
      : StructType =
    StructType(vectorsRecord(spark, path) :+ CellField)

  /** The `vectors` layout read with its recorded schema. Scans still
    * read only the columns a plan uses, and a column the record lacks
    * fails at analysis instead of reading back as nulls.
    */
  private def readVectors(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(vectorsSchema(spark, path)).parquet(s"$path/vectors")

  /** `seeds/`: the codebook, (cell, seed_vec). The writer casts to the
    * pinned types, so a caller's int ids or its seed column names never
    * reach disk.
    */
  private[store] val SeedsSchema = StructType(Seq(
    StructField("cell", LongType),
    StructField("seed_vec", ArrayType(FloatType))))

  private[store] def writeSeeds(seeds: DataFrame, seedIdCol: String,
      seedVecCol: String, path: String): Unit =
    seeds.select(col(seedIdCol).cast(LongType).as("cell"),
        col(seedVecCol).cast(ArrayType(FloatType)).as("seed_vec"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/seeds")

  private[store] def readSeeds(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(SeedsSchema).parquet(s"$path/seeds")

  private def cellIdsOf(seeds: DataFrame): Array[Long] =
    seeds.select(col("cell")).collect().map(_.getLong(0))

  /** Search: the on-disk face of [[Similarity.ivfMultiProbeSearch]]
    * (delegated, like [[searchBatch]] and [[searchQuantized]], so every
    * face ranks cells through the one [[Similarity]] ranker): rank the
    * stored seeds with a codebook-sized job, then scan ONLY the nProbe
    * nearest cells — the cell filter prunes partitions before IO — and
    * take the exact top-k inside them (per-partition heap, no global
    * sort). Tombstoned ids ([[delete]]) are anti-joined out of the
    * pruned scan before scoring, so a deleted vector is invisible from
    * the moment the tombstone lands, not from the next compact.
    *
    * Job count: a search and its collect run 3 Spark jobs — the
    * codebook rank ([[Similarity.probeCells]]), the tombstone broadcast
    * (only when something was deleted) and the probed-cell top-k. The
    * seeds and tombstones read with their pinned schemas and `vectors`
    * with the types recorded at build ([[vectorsSchema]]), so no read
    * pays a footer-inference job (one job each).
    */
  def search(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Array[Float], k: Int, nProbe: Int = 1): DataFrame =
    Similarity.ivfMultiProbeSearch(
      dropTombstoned(readVectors(spark, path), idCol, spark, path),
      idCol, vecCol, readSeeds(spark, path), "cell", "seed_vec",
      query, nProbe, k)

  /** Batch search: the on-disk face of [[Similarity.ivfSearchBatch]]
    * (delegated, so the store and the spec-pinned operator can never
    * drift) — top-k for a whole probe FRAME in one pass over the
    * partitioned index. The probes collect to the driver, each one's
    * cells rank there against the codebook ([[search]]'s ranker), and
    * ONE map-only scan reads the index under `cell IN` the union of the
    * batch's probed cells — static partition pruning, so the files of
    * unprobed cells are skipped before IO and each probed cell's bytes
    * are read once, shared across all the queries that probe it — while
    * keeping a top-k heap per probe; the driver merges the task heaps.
    * Tombstoned ids are anti-joined out of the scan as in [[search]].
    *
    * Job count: a batch and its collect run 2 Spark jobs — the codebook
    * collect and the heap scan — plus the tombstone broadcast once
    * something was deleted, and one more when the probe frame itself
    * needs a job to collect (a local frame needs none). No shuffle. The
    * returned frame holds the rows; its plan shows the pruned scan —
    * asserted in IvfIndexSpec, not just claimed.
    */
  def searchBatch(spark: SparkSession, path: String, idCol: String,
      vecCol: String, probes: DataFrame, probeIdCol: String,
      probeVecCol: String, k: Int, nProbe: Int = 1): DataFrame =
    Similarity.ivfSearchBatch(
      dropTombstoned(readVectors(spark, path), idCol, spark, path),
      idCol, vecCol, readSeeds(spark, path), "cell", "seed_vec",
      probes, probeIdCol, probeVecCol, nProbe, k)

  /** Probe a [[buildQuantized]] index: the on-disk face of
    * [[Similarity.ivfQuantizedSearch]] (delegated, so the store and the
    * oracle-pinned operator — v13 — can never drift): same cell pruning
    * as [[search]], scores on dequantized codes with v11's exact
    * arithmetic. The scan reads ONLY (id, codes, scale) — asserted in
    * IvfIndexSpec, not just claimed.
    */
  def searchQuantized(spark: SparkSession, path: String, idCol: String,
      query: Array[Float], k: Int, nProbe: Int = 1): DataFrame =
    Similarity.ivfQuantizedSearch(
      dropTombstoned(readVectors(spark, path), idCol, spark, path),
      idCol, readSeeds(spark, path), "cell", "seed_vec",
      query, nProbe, k)
}
