package graft.store

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

import graft.operators.{ProductQuantizer, ScalarQuant, Similarity}
import graft.operators.ProductQuantizer.Codebooks

/** On-disk IVF (inverted-file) ANN index: the embeddings table written
  * `partitionBy("cell")` under `vectors/`, where cell = nearest seed
  * centroid ([[Similarity.ivfAssign]], shuffle-free argmax projection).
  *
  * This materializes the scale claim behind v05: at query time the cell
  * predicate is a PARTITION filter, so Spark's file index prunes every
  * other cell's files before any IO — on a 1000-cell, 100 TB corpus a
  * probe reads ~0.1% of the data. The pruning is visible in the plan
  * (`PartitionFilters: [isnotnull(cell), (cell = N)]`) and asserted in
  * IvfIndexSpec, not just claimed.
  *
  * One store, three vector encodings, chosen at build and recorded in
  * the index's [[Record]]: float ([[build]], the vectors as they are),
  * int8 ([[buildQuantized]], scalar-quantized codes) and PQ
  * ([[buildPq]], product-quantized codes). [[append]], [[search]],
  * [[searchBatch]], [[compact]], [[splitCell]] and [[mergeCells]] read
  * the record and encode or score accordingly ([[delete]] keys on id
  * and needs no encoding), so seeds, tombstones, compaction and cell
  * maintenance exist once for all three.
  *
  * Recall/exactness contract: searching `nProbe` cells is exact for
  * vectors assigned to those cells (under the encoding's score);
  * global recall is the standard IVF trade-off (raise nProbe or train
  * better seeds). Seeds live next to the index so search and build
  * can't drift.
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

  /** Build a float index: assign every vector to its nearest seed and
    * write the rows as they are, partitioned by cell. One narrow
    * projection + one write; no shuffle beyond the writer's own file
    * layout.
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      path: String): Unit =
    writeLayout(df, idCol, vecCol, seeds, seedIdCol, seedVecCol, path,
      Encoding.Float)

  /** [[build]] with int8 scalar-quantized storage ([[ScalarQuant]]):
    * each vector persists as (codes array<tinyint>, scale double)
    * INSTEAD of the float32 array — ~4× fewer bytes on disk and,
    * because the int8 scan reads only (id, codes, scale), ~4× fewer
    * scan bytes per probe on top of the cell pruning. The price is the
    * standard SQ8 trade: scores are computed on dequantized codes
    * (per-component error ≤ scale/2), so ranking near the top-k
    * boundary can differ from the float index — when exact order
    * matters, over-fetch here and rescore the candidate set against a
    * full-precision column kept elsewhere (v11's retrieve-then-rescore
    * shape, [[Similarity.knnQuantizedRescore]]).
    */
  def buildQuantized(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      path: String): Unit =
    writeLayout(df, idCol, vecCol, seeds, seedIdCol, seedVecCol, path,
      Encoding.Int8)

  /** [[build]] with product-quantized storage ([[ProductQuantizer]]):
    * the two-level IVF-PQ index. Each vector persists as `codes`
    * (array<int>, `blocks` small ints) INSTEAD of the float32 array, so
    * a probe's scan reads `blocks` ints per vector rather than the
    * d×4-byte embedding (~30× less IO at 64 dims) and scores by ADC
    * table lookups. `cb` persists beside the seeds, and every encode —
    * this build's and [[append]]'s — runs against the codebooks read
    * back from disk, so built and appended codes cannot drift. Codes
    * encode the RAW vector (not a residual against the cell's
    * centroid), which is what lets [[mergeCells]] move a code row to
    * another cell unchanged.
    *
    * Approximation contract: IVF recall (probe misses) × PQ recall
    * (quantization error) — pinned by a recall-floor test like the
    * in-memory PQ, not an oracle row. [[searchBatch]] refuses a PQ
    * index: the batch heap scan scores vectors, not ADC tables.
    */
  def buildPq(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      cb: Codebooks, path: String): Unit = {
    writeCodebooks(df.sparkSession, cb, path)
    writeLayout(df, idCol, vecCol, seeds, seedIdCol, seedVecCol, path,
      Encoding.Pq)
  }

  /** The write every build shares: the cell-partitioned `vectors`
    * layout in `encoding`, the seeds and the [[Record]].
    */
  private def writeLayout(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String, path: String,
      encoding: String): Unit = {
    val stored = encode(
      Similarity.ivfAssign(df, idCol, vecCol, seeds, seedIdCol, seedVecCol),
      vecCol, encoding, path)
    stored.write.mode(SaveMode.Overwrite)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
    writeSeeds(seeds, seedIdCol, seedVecCol, path)
    writeRecord(df.sparkSession,
      Record(dataColumns(stored), idCol, vecCol, encoding), path)
  }

  /** Assigned rows as `encoding` stores them: the float vector as is,
    * or in its place int8 (codes, scale) or PQ `codes` encoded against
    * the index's own codebooks.
    */
  private def encode(assigned: DataFrame, vecCol: String, encoding: String,
      path: String): DataFrame = encoding match {
    case Encoding.Float => assigned
    case Encoding.Int8 => ScalarQuant.quantize(assigned, vecCol).drop(vecCol)
    case Encoding.Pq =>
      require(!assigned.columns.contains("codes"), "a pq index stores a " +
        "'codes' column but the input already has one — rename it first")
      assigned.withColumn("codes", ProductQuantizer.codesCol(col(vecCol),
        loadCodebooks(assigned.sparkSession, path))).drop(vecCol)
  }

  /** INCREMENTAL index maintenance: assign a delta batch against the
    * index's OWN frozen on-disk seeds, encode it as the [[Record]] says
    * (the same derivation as the build, PQ against the same on-disk
    * codebooks), and append into the existing cell-partitioned layout.
    * Because cell is the argmax against the same codebook the index
    * was built with, appended files land inside existing `cell=N`
    * directories, so every search face serves base ∪ delta with no
    * rebuild and no re-shuffle of data already on disk — the
    * daily-ingest shape of a 100-TB ANN store. v20 pins the semantics
    * (append ≡ one-shot rebuild, per cell); IvfIndexSpec pins the
    * on-disk face for every encoding (search over an appended index ≡
    * search over a rebuilt one, partition pruning intact).
    * Retrain-and-rebuild remains a separate, rarer operation — the v18
    * cell-balance profile is the signal that it's due.
    *
    * `idCol` and `vecCol` must be the columns the index was built
    * from, and the encoded rows must carry exactly the recorded columns
    * and types, in any order (parquet reads columns by name): a delta
    * missing a column (or typing it differently) would make every read
    * of those rows return nulls or fail, long after the append that
    * caused it.
    */
  def append(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    val rec = record(spark, path)
    rec.requireColumns(path, idCol, vecCol)
    val stored = encode(
      Similarity.ivfAssign(df, idCol, vecCol, readSeeds(spark, path),
        "cell", "seed_vec"),
      vecCol, rec.encoding, path)
    val got = dataColumns(stored)
    def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    require(shape(got) == shape(rec.columns),
      s"appended rows do not match the vectors layout of $path: " +
        s"got ${got.simpleString}, the index was built with " +
        rec.columns.simpleString)
    stored.write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
  }

  /** Per-document DELETE as a tombstone write: appends the ids to
    * `<path>/tombstones` (one long column, parquet). No index data
    * moves — every search face anti-joins the tombstone set out of its
    * candidates (a broadcast anti-join on the already-pruned probe
    * scan; the set is deleted-ids-sized, tiny next to the index by
    * contract), and the next [[compact]] drops the rows PHYSICALLY and
    * clears the tombstones. This is the standard LSM/GDPR shape: a
    * delete is cheap and immediately visible; reclamation rides the
    * maintenance pass the index already schedules. Shared by every
    * encoding (tombstones key on id, not on storage).
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
  def compact(spark: SparkSession, path: String): (Long, Long) = {
    val rec = record(spark, path)
    compactLayout(spark, path, "vectors", rec.schema, rec.idCol)
  }

  /** The shared compact core: read `<path>/<dirName>` with the
    * caller's pinned `schema`, anti-join any tombstones (on `idCol`),
    * fold to one file per partition, and swap the directory in with
    * [[Commit.swap]]. Shared with [[TextIndex.compact]]'s layouts so
    * every store keeps the same crash-safety story.
    */
  private[store] def compactLayout(spark: SparkSession, path: String,
      dirName: String, schema: StructType, idCol: String,
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
    * untouched. Float encoding only: sub-seed training needs the
    * vectors, which the int8 and PQ encodings do not store — on those
    * it fails naming the encoding.
    *
    * Returns the two new cell ids.
    */
  def splitCell(spark: SparkSession, path: String, idCol: String,
      vecCol: String, cell: Long, iters: Int = 5): (Long, Long) = {
    val rec = record(spark, path)
    require(rec.encoding == Encoding.Float,
      s"splitCell trains sub-seeds on float vectors, and $path is a " +
        s"${rec.encoding} index that does not store them")
    val seeds = readSeeds(spark, path)
    val cellIds = cellIdsOf(seeds)
    require(cellIds.contains(cell), s"no such cell in the codebook: $cell")
    val hot = readVectors(spark, path, rec)
      .filter(col("cell") === cell) // partition-pruned: only this cell's IO
      .drop("cell")
    val nextId = nextCellId(spark, path, cellIds)
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
  private def nextCellId(spark: SparkSession, path: String,
      cellIds: Array[Long]): Long = {
    val diskMax = Commit.fs(spark, path).listStatus(new Path(s"$path/vectors"))
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
    * Tombstones key on id and ride along untouched. Every encoding:
    * stored rows move between cells unchanged — int8 codes scale per
    * vector, and PQ codes encode the raw vector, not a residual against
    * the owning cell's centroid (a residual encoding could NOT merge
    * without re-encoding every row against the new centroid). Returns
    * the merged cell id.
    */
  def mergeCells(spark: SparkSession, path: String, a: Long,
      b: Long): Long = {
    require(a != b, s"mergeCells needs two distinct cells, got $a twice")
    val rec = record(spark, path)
    val seeds = readSeeds(spark, path)
    val cellIds = cellIdsOf(seeds)
    Seq(a, b).foreach(c => require(cellIds.contains(c),
      s"no such cell in the codebook: $c"))
    val nextId = nextCellId(spark, path, cellIds)
    // 1) append both cells' rows under the new id (invisible)
    readVectors(spark, path, rec)
      .filter(col("cell").isin(a, b)) // partition-pruned: two cells' IO
      .drop("cell")
      .withColumn("cell", lit(nextId))
      .write.mode(SaveMode.Append)
      .partitionBy("cell")
      .parquet(s"$path/vectors")
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
      fs.delete(new Path(s"$path/vectors/cell=$c"), true))
    nextId
  }

  /** The vector encodings one index can store. */
  private[store] object Encoding {
    val Float = "float"
    val Int8 = "int8"
    val Pq = "pq"
    val All = Set(Float, Int8, Pq)
  }

  /** An index's build-time record, `vectors_schema.json`: the data
    * columns of `vectors` as parquet reads them back, the id column,
    * the vector column the index was built from and the [[Encoding]]
    * it is stored in. The stored layout can carry arbitrary payload
    * columns (labels, metadata) beside the id, and the int8 and PQ
    * encodings replace the vector column, so none of this can be
    * inferred from the files. Every read passes `schema` instead of
    * paying a footer-inference job, and a column the record lacks fails
    * at analysis instead of reading back as nulls.
    */
  private[store] final case class Record(columns: StructType, idCol: String,
      vecCol: String, encoding: String) {

    /** The full read schema of `vectors`: the data columns, then `cell`. */
    def schema: StructType = StructType(columns :+ CellField)

    /** Fails unless (`idCol`, `vecCol`) are the columns the index was
      * built from.
      */
    def requireColumns(path: String, id: String, vec: String): Unit =
      require(id == idCol && vec == vecCol,
        s"$path is a $encoding index built from ($idCol, $vecCol), " +
          s"not ($id, $vec)")
  }

  private val RecordFile = "vectors_schema.json"

  private val Rebuild =
    "rebuild the index with IvfIndex.build, buildQuantized or buildPq"

  /** Writes `rec` as one JSON file, a plain file write on the driver. */
  private def writeRecord(spark: SparkSession, rec: Record,
      path: String): Unit = {
    val json = JsonMethods.compact(JObject(
      "encoding" -> JString(rec.encoding),
      "id_col" -> JString(rec.idCol),
      "vec_col" -> JString(rec.vecCol),
      "columns" -> JsonMethods.parse(rec.columns.json)))
    val out = Commit.fs(spark, path).create(new Path(s"$path/$RecordFile"), true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The index's [[Record]], read on the driver (no Spark job). Fails
    * with the rebuild remedy when there is none (a PQ index written
    * under `codes/` has none) or when it predates the encoding (a bare
    * column schema): a misread layout must never serve wrong rows.
    */
  private[store] def record(spark: SparkSession, path: String): Record = {
    val p = new Path(s"$path/$RecordFile")
    val fs = Commit.fs(spark, path)
    require(fs.exists(p), s"$p missing — every face reads the encoding " +
      s"and column types recorded at build time ($Rebuild)")
    val in = fs.open(p)
    val json = try JsonMethods.parse(
        new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    (json \ "encoding", json \ "id_col", json \ "vec_col") match {
      case (JString(enc), JString(id), JString(vec)) if Encoding.All(enc) =>
        Record(DataType.fromJson(JsonMethods.compact(json \ "columns"))
          .asInstanceOf[StructType], id, vec, enc)
      case _ => throw new IllegalArgumentException(s"$p records no vector " +
        s"encoding: the index was written in an older layout ($Rebuild)")
    }
  }

  /** The partition column as every cell-partitioned layout reads it back
    * (`cell=N` directory names infer as int).
    */
  private[store] val CellField = StructField("cell", IntegerType)

  /** The data columns of an encoded frame as parquet reads them back:
    * every field, element and map value nullable.
    */
  private def dataColumns(stored: DataFrame): StructType = {
    def readBack(t: DataType): DataType = t match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = readBack(f.dataType), nullable = true)))
      case ArrayType(e, _) => ArrayType(readBack(e), containsNull = true)
      case MapType(k, v, _) => MapType(readBack(k), readBack(v), true)
      case other => other
    }
    readBack(StructType(stored.schema.filterNot(_.name == "cell")))
      .asInstanceOf[StructType]
  }

  /** The `vectors` layout read with its recorded schema. Scans still
    * read only the columns a plan uses.
    */
  private def readVectors(spark: SparkSession, path: String,
      rec: Record): DataFrame =
    spark.read.schema(rec.schema).parquet(s"$path/vectors")

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

  /** `codebooks/` of a PQ index: one (block, code, codeword) row per
    * codeword.
    */
  private[store] val CodebooksSchema = StructType(Seq(
    StructField("block", IntegerType),
    StructField("code", IntegerType),
    StructField("codeword", ArrayType(FloatType))))

  private def writeCodebooks(spark: SparkSession, cb: Codebooks,
      path: String): Unit = {
    import spark.implicits._
    cb.codewords.iterator.zipWithIndex.flatMap { case (cws, b) =>
      cws.iterator.zipWithIndex.map { case (cw, c) => (b, c, cw.toSeq) }
    }.toSeq.toDF("block", "code", "codeword")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
  }

  /** The per-block codebooks a [[buildPq]] index persisted. */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.schema(CodebooksSchema)
      .parquet(s"$path/codebooks").collect()
    require(rows.nonEmpty, s"no codebooks at $path/codebooks")
    val blocks = rows.iterator.map(_.getInt(0)).max + 1
    val codes = rows.iterator.map(_.getInt(1)).max + 1
    val byKey = rows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
    Codebooks(blocks, byKey((0, 0)).length,
      Array.tabulate(blocks, codes)((b, c) => byKey((b, c))))
  }

  /** Search: rank the stored seeds ([[Similarity.probeCells]], the one
    * cell ranker of every face), then scan ONLY the nProbe nearest
    * cells — the cell filter prunes partitions before IO — and take the
    * exact top-k inside them (per-partition heap, no global sort).
    * Tombstoned ids ([[delete]]) are anti-joined out of the pruned scan
    * before scoring, so a deleted vector is invisible from the moment
    * the tombstone lands, not from the next compact. The score follows
    * the recorded encoding, each face delegated to the oracle-pinned
    * operator so the store and the operator can never drift:
    *   - float: cosine, [[Similarity.ivfMultiProbeSearch]];
    *   - int8: cosine on dequantized codes with v11's exact arithmetic,
    *     [[Similarity.ivfQuantizedSearch]] (v13) — the scan reads ONLY
    *     (id, codes, scale);
    *   - PQ: ADC table lookups ([[ProductQuantizer.adcScoreCol]]) through
    *     [[Similarity.probeSearch]] — the scan reads (id, codes).
    * On the int8 and PQ encodings `idCol` and `vecCol` must name the
    * columns the index was built from.
    *
    * Job count: a search and its collect run 3 Spark jobs — the
    * codebook rank, the tombstone broadcast (only when something was
    * deleted) and the probed-cell top-k — plus the codebooks collect on
    * a PQ index. The seeds and tombstones read with their pinned
    * schemas and `vectors` with the types in the [[Record]], so no read
    * pays a footer-inference job.
    */
  def search(spark: SparkSession, path: String, idCol: String,
      vecCol: String, query: Array[Float], k: Int, nProbe: Int = 1): DataFrame = {
    val rec = record(spark, path)
    val vectors = dropTombstoned(readVectors(spark, path, rec), idCol, spark, path)
    val seeds = readSeeds(spark, path)
    rec.encoding match {
      case Encoding.Float =>
        Similarity.ivfMultiProbeSearch(vectors, idCol, vecCol, seeds, "cell",
          "seed_vec", query, nProbe, k)
      case Encoding.Int8 =>
        rec.requireColumns(path, idCol, vecCol)
        Similarity.ivfQuantizedSearch(vectors, idCol, seeds, "cell",
          "seed_vec", query, nProbe, k)
      case Encoding.Pq =>
        rec.requireColumns(path, idCol, vecCol)
        Similarity.probeSearch(vectors, idCol, seeds, "cell", "seed_vec",
          query, nProbe, k, ProductQuantizer.adcScoreCol(col("codes"),
            loadCodebooks(spark, path), query))
    }
  }

  /** Batch search — top-k for a whole probe FRAME in one pass over the
    * partitioned index. The probes collect to the driver, each one's
    * cells rank there against the codebook ([[search]]'s ranker), and
    * ONE map-only scan reads the index under `cell IN` the union of the
    * batch's probed cells — static partition pruning, so the files of
    * unprobed cells are skipped before IO and each probed cell's bytes
    * are read once, shared across all the queries that probe it — while
    * keeping a top-k heap per probe; the driver merges the task heaps.
    * Tombstoned ids are anti-joined out of the scan as in [[search]].
    * Delegated, so the store and the spec-pinned operator can never
    * drift: [[Similarity.ivfSearchBatch]] on a float index,
    * [[Similarity.ivfSearchBatchQuantized]] (dequantized codes, the same
    * arithmetic as the int8 [[search]]) on an int8 one. A PQ index is
    * refused: the heap scan scores vectors, not ADC tables — probe it
    * with [[search]].
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
      probeVecCol: String, k: Int, nProbe: Int = 1): DataFrame = {
    val rec = record(spark, path)
    require(rec.encoding != Encoding.Pq, s"searchBatch scores float or " +
      s"int8 vectors, and $path is a pq index: probe it with search")
    val vectors = dropTombstoned(readVectors(spark, path, rec), idCol, spark, path)
    val seeds = readSeeds(spark, path)
    if (rec.encoding == Encoding.Float)
      Similarity.ivfSearchBatch(vectors, idCol, vecCol, seeds, "cell",
        "seed_vec", probes, probeIdCol, probeVecCol, nProbe, k)
    else {
      rec.requireColumns(path, idCol, vecCol)
      Similarity.ivfSearchBatchQuantized(vectors, idCol, seeds, "cell",
        "seed_vec", probes, probeIdCol, probeVecCol, nProbe, k)
    }
  }
}
