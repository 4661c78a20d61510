package graft.store

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSession}
import graft.functions.vectors

/** The IVF index must actually prune partitions (visible in the physical
  * plan), and its in-cell results must be exact.
  */
class IvfIndexSpec extends AnyFunSuite {
  import TestSession.{sf, spark}

  private lazy val path = {
    val p = Files.createTempDirectory("graft-ivf").toString
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p)
    p
  }

  private lazy val query: Array[Float] =
    Tables.embeddings(spark, sf).filter(col("vec_id") === 42)
      .head().getSeq[Float](1).toArray

  test("search plan prunes to the probed cell's partition") {
    val df = IvfIndex.search(spark, path, "vec_id", "embedding", query, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    assert("cell#\\d+L? IN|cell#\\d+L? =".r.findFirstIn(plan).isDefined,
      "expected a cell partition filter in:\n" + plan.take(800))
    assert(df.count() == 5)
  }

  test("in-cell results are exact (match brute force over that cell)") {
    val rows = IvfIndex.search(spark, path, "vec_id", "embedding", query, k = 5)
      .collect()
    val probedCell = rows.head.getAs[Number]("cell").longValue
    val got = rows.map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val brute = spark.read.parquet(s"$path/vectors")
      .filter(col("cell") === probedCell)
      .withColumn("score", vectors.cosineSimilarity(col("embedding"), lit(query)))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(5).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getDouble(r.fieldIndex("score")))).toSeq
    assert(got == brute)
  }

  /** Rows of [[IvfIndex.searchBatch]] and, per probe, of
    * [[IvfIndex.search]] as (probe, rank, id) sets; plus the batch frame.
    */
  private def batchAndSolo(index: String, probes: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
    val batch = IvfIndex.searchBatch(spark, index, "vec_id", "embedding",
      probes, "probe_id", "embedding", k = 5)
    val got = batch.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = probes.collect().flatMap { p =>
      val q = p.getSeq[Float](1).toArray
      IvfIndex.search(spark, index, "vec_id", "embedding", q, k = 5)
        .collect().zipWithIndex
        .map { case (r, i) => (p.getLong(0), (i + 1).toLong, r.getLong(1)) }
    }.toSet
    (batch, got, expected)
  }

  test("searchBatch matches per-probe search and prunes partitions dynamically") {
    val probes = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    // Equality per probe against the single-query face (same cells,
    // same arithmetic, same ties).
    val (batch, got, expected) = batchAndSolo(path, probes)
    assert(got == expected)
    // A cell-ranking near-tie: seed 0 = 3q and seed 1 = q are parallel,
    // so both centroids score 1.0 under the clamped cosine and the tie
    // goes to cell 0 — where ivfAssign also puts q. An unclamped
    // ranker scores cos(q, q) = 1.0000000000000002 and probes cell 1
    // instead; both faces must probe the same cell.
    import spark.implicits._
    val q = Array(-0.5668011903762817f, -0.15576684474945068f,
      -0.9419184327125549f, -0.5566166639328003f)
    val tiePath = Files.createTempDirectory("graft-ivf-tie").toString
    val docs = (0 until 6).map { j =>
      (j.toLong, q.zipWithIndex.map { case (x, i) =>
        if (j > 0 && i == j % q.length) x + 0.01f * j else x }.toSeq)
    }.toDF("vec_id", "embedding")
    IvfIndex.build(docs, "vec_id", "embedding",
      Seq((0L, q.map(_ * 3f).toSeq), (1L, q.toSeq)).toDF("seed_id", "seed_vec"),
      "seed_id", "seed_vec", tiePath)
    val (_, tieGot, tieExpected) =
      batchAndSolo(tiePath, Seq((0L, q.toSeq)).toDF("probe_id", "embedding"))
    assert(tieGot.nonEmpty && tieGot == tieExpected)
    // The scale pin: the batch is driver-finished over ONE `vectors`
    // scan whose partition filter is `cell IN` the union of the cells
    // the solo face probes for each query, so unprobed cells' files
    // are skipped before IO for the whole batch at once, and nothing
    // is exchanged.
    val soloCells = probes.collect().flatMap { p =>
      IvfIndex.search(spark, path, "vec_id", "embedding",
          p.getSeq[Float](1).toArray, k = 5)
        .collect().map(_.getAs[Number]("cell").longValue)
    }.toSet
    val executed = batch.queryExecution.executedPlan
    val plan = executed.toString
    assert(plan.contains("CommandResult") && !plan.contains("Exchange"),
      "expected a driver-finished batch with no exchange:\n" + plan.take(1200))
    val scans = executed.collect {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan
    }.flatMap(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    })
    assert(scans.length == 1 &&
      scans.head.relation.location.rootPaths.forall(_.getName == "vectors"),
      "expected exactly one vectors scan in:\n" + plan.take(1200))
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, InSet, Literal}
    def cellOf(a: AttributeReference) = a.name == "cell"
    def num(v: Any) = v.asInstanceOf[Number].longValue
    val cellSets = scans.head.partitionFilters.collect {
      case In(a: AttributeReference, list) if cellOf(a) =>
        list.map(e => num(e.eval())).toSet
      case InSet(a: AttributeReference, set) if cellOf(a) => set.map(num)
      // the optimizer's form of a one-element IN
      case EqualTo(a: AttributeReference, l: Literal) if cellOf(a) =>
        Set(num(l.value))
    }
    assert(cellSets == Seq(soloCells),
      s"partition filter must be cell IN $soloCells:\n" + plan.take(1200))
  }

  test("nProbe widens the searched cells monotonically") {
    def ids(nProbe: Int) =
      IvfIndex.search(spark, path, "vec_id", "embedding", query, 50, nProbe)
        .collect().map(_.getLong(1)).toSet
    val one = ids(1)
    val two = ids(2)
    assert(one.subsetOf(two) || two.size >= one.size)
  }

  private lazy val qpath = {
    val p = Files.createTempDirectory("graft-ivfq").toString
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    IvfIndex.buildQuantized(e, "vec_id", "embedding", seeds,
      "seed_id", "seed_vec", p)
    p
  }

  private def dirBytes(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(java.nio.file.Files.size)
      .sum
  }

  test("quantized index: no float column on disk, scan reads only (id, codes, scale)") {
    val schema = spark.read.parquet(s"$qpath/vectors").schema
    assert(!schema.fieldNames.contains("embedding"),
      s"float32 vectors must not persist in the quantized index: $schema")
    assert(schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType),
      s"codes must store as array<tinyint>: ${schema("codes").dataType}")
    val probe = IvfIndex.search(spark, qpath, "vec_id", "embedding", query,
      k = 5)
    val Seq(scan) = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.requiredSchema.fieldNames.sorted.toSeq ==
      Seq("codes", "scale", "vec_id"),
      s"probe must read exactly (codes, scale, vec_id): ${scan.requiredSchema}")
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("cell"),
      "quantized probe must keep the cell partition pruning")
    // the scan-bytes claim, measured not asserted-by-doc: the quantized
    // cells hold well under half the float index's bytes (codes are
    // 1 byte/dim vs 4, minus parquet framing overhead)
    val ratio = dirBytes(s"$qpath/vectors").toDouble / dirBytes(s"$path/vectors")
    assert(ratio < 0.5, f"quantized/float on-disk ratio $ratio%.2f >= 0.5")
  }

  test("quantized probe: scores match v11's dequantized arithmetic; recall holds") {
    val got = IvfIndex.search(spark, qpath, "vec_id", "embedding", query,
      k = 10).collect()
    assert(got.length == 10)
    val probedCell = got.head.getAs[Number]("cell").longValue
    // brute-force the same cell on the QUANTIZED data with v11's exact
    // dequantize-then-cosine arithmetic — must match bit for bit
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val deq = transform(col("codes"), c => c.cast("double") * col("scale"))
      .cast(ArrayType(FloatType))
    val brute = spark.read.parquet(s"$qpath/vectors")
      .filter(col("cell") === probedCell)
      .withColumn("score", vectors.cosineSimilarity(deq, lit(query)))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getDouble(r.fieldIndex("score")))).toSeq
    assert(got.map(r => (r.getLong(1), r.getDouble(2))).toSeq == brute)
    // recall floor vs the float index over the same cell layout: SQ8
    // perturbs near-boundary ranks only, so the top-10 sets must agree
    // on at least 8 of 10 (deterministic fixture; observed 10/10)
    val floatTop = IvfIndex.search(spark, path, "vec_id", "embedding",
      query, k = 10).collect().map(_.getLong(1)).toSet
    val overlap = got.map(_.getLong(1)).count(floatTop.contains)
    assert(overlap >= 8, s"quantized top-10 recall $overlap/10 vs float index")
  }

  test("append: build(base) + append(delta) ≡ one-shot build; pruning intact") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-append").toString
    IvfIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      seeds, "seed_id", "seed_vec", p2)
    IvfIndex.append(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
      p2)
    // on-disk contents: (cell, vec_id) multiset identical to the
    // one-shot index built in this suite's shared fixture
    def cells(p: String) = spark.read.parquet(s"$p/vectors")
      .select(col("cell"), col("vec_id")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSet
    assert(cells(p2) == cells(path),
      "appended layout must equal the rebuilt layout cell for cell")
    // the search face over the appended index is bit-identical and
    // still prunes partitions before IO
    val a = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
    assert(a.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val got = a.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val ref = IvfIndex.search(spark, path, "vec_id", "embedding", query, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == ref)
  }

  test("compact: appended small files fold to one per cell; rows, search, pruning intact") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-compact").toString
    IvfIndex.build(e.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      seeds, "seed_id", "seed_vec", p2)
    for (r <- 1L to 3L)
      IvfIndex.append(e.filter(col("vec_id") % 4 === r), "vec_id",
        "embedding", p2)
    def rows(p: String) = spark.read.parquet(s"$p/vectors")
      .select(col("cell"), col("vec_id")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1))).toSet
    val preRows = rows(p2)
    val preSearch = IvfIndex.search(spark, p2, "vec_id", "embedding",
      query, k = 5).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val (before, after) = IvfIndex.compact(spark, p2)
    val nCells = spark.read.parquet(s"$p2/vectors")
      .select(col("cell")).distinct().count()
    assert(before > nCells,
      s"fixture must start fragmented: $before files over $nCells cells")
    assert(after == nCells,
      s"compaction must leave exactly one file per cell: $after vs $nCells")
    assert(rows(p2) == preRows, "compaction must not change contents")
    val post = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
    assert(post.queryExecution.executedPlan.toString
      .contains("PartitionFilters"), "pruning must survive compaction")
    assert(post.collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      == preSearch)
  }

  test("delete: tombstones hide ids from every face; compact drops them physically") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-del").toString
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    // delete the current top-2 so the tombstones demonstrably bite
    val top = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
      .collect().map(_.getLong(1)).toSeq
    val dead = top.take(2)
    IvfIndex.delete(spark, p2, dead)
    // reference: an index REBUILT without the deleted rows
    val p3 = Files.createTempDirectory("graft-ivf-del-ref").toString
    IvfIndex.build(e.filter(!col("vec_id").isin(dead: _*)), "vec_id",
      "embedding", seeds, "seed_id", "seed_vec", p3)
    def res(p: String) =
      IvfIndex.search(spark, p, "vec_id", "embedding", query, k = 5)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(res(p2) == res(p3),
      "post-delete search must equal rebuild-without-deleted")
    assert(res(p2).map(_._1).intersect(dead).isEmpty)
    // the batch face filters too
    val probes = e.filter(col("vec_id") === 42)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val batchIds = IvfIndex.searchBatch(spark, p2, "vec_id", "embedding",
      probes, "probe_id", "embedding", k = 5)
      .collect().map(_.getLong(2)).toSet
    assert(batchIds.intersect(dead.toSet).isEmpty,
      "searchBatch must not surface tombstoned ids")
    // compact: rows physically drop, tombstones clear, search unchanged
    val preRows = spark.read.parquet(s"$p2/vectors").count()
    val preSearch = res(p2)
    IvfIndex.compact(spark, p2)
    assert(spark.read.parquet(s"$p2/vectors").count() == preRows - dead.length,
      "compaction must physically drop the tombstoned rows")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$p2/tombstones")),
      "a committed compact must clear the tombstone set")
    assert(res(p2) == preSearch, "search must be unchanged by the compact")
    // second delete round after compact still works (fresh tombstone dir)
    IvfIndex.delete(spark, p2, Seq(top(2)))
    assert(!res(p2).map(_._1).contains(top(2)))
  }

  test("delete on a quantized index: searchQuantized hides tombstoned ids") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivfq-del").toString
    IvfIndex.buildQuantized(e, "vec_id", "embedding", seeds,
      "seed_id", "seed_vec", p2)
    val top = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
      .collect().map(_.getLong(1)).toSeq
    IvfIndex.delete(spark, p2, top.take(2))
    val after = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(after.intersect(top.take(2)).isEmpty)
    assert(after.length == 5, "the heap must backfill past tombstones")
    // quantized compact drops them physically (the record names vec_id
    // as the id among (codes, scale, cell))
    val preRows = spark.read.parquet(s"$p2/vectors").count()
    IvfIndex.compact(spark, p2)
    assert(spark.read.parquet(s"$p2/vectors").count() == preRows - 2)
  }

  test("compact heals a crashed predecessor's swap states") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-heal").toString
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    val want = spark.read.parquet(s"$p2/vectors").count()
    val fs = new org.apache.hadoop.fs.Path(p2).getFileSystem(
      spark.sessionState.newHadoopConf())
    // crash between the renames: vectors moved aside, replacement never
    // landed — the data exists only under vectors_old
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$p2/vectors"),
      new org.apache.hadoop.fs.Path(s"$p2/vectors_old")))
    val (before, after) = IvfIndex.compact(spark, p2)
    assert(before > 0 && after > 0)
    assert(spark.read.parquet(s"$p2/vectors").count() == want,
      "heal must restore the moved-aside data before compacting")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/vectors_old")))
    // crash after the swap, before cleanup: a superseded vectors_old
    // lingers next to a live vectors — the next compact removes it
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$p2/vectors_old"))
    IvfIndex.compact(spark, p2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/vectors_old")))
    assert(spark.read.parquet(s"$p2/vectors").count() == want)
  }

  test("appendQuantized: delta codes indistinguishable from built ones") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivfq-append").toString
    IvfIndex.buildQuantized(e.filter(col("vec_id") % 2 === 0), "vec_id",
      "embedding", seeds, "seed_id", "seed_vec", p2)
    IvfIndex.append(e.filter(col("vec_id") % 2 === 1), "vec_id",
      "embedding", p2)
    val schema = spark.read.parquet(s"$p2/vectors").schema
    assert(!schema.fieldNames.contains("embedding"),
      "appended rows must not reintroduce the float column")
    val got = IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val ref = IvfIndex.search(spark, qpath, "vec_id", "embedding", query,
      k = 5).collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == ref, "quantized search over appended ≡ over rebuilt")
  }

  test("splitCell: hot cell rebalances locally; content exact; crash leftovers reclaimed by compact") {
    val p2 = Files.createTempDirectory("graft-ivf-split").toString
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    def profile(pp: String) = spark.read.parquet(s"$pp/vectors")
      .groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    def allRows(pp: String) = spark.read.parquet(s"$pp/vectors")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val before = profile(p2)
    val hot = before.maxBy(_._2)._1
    val contentBefore = allRows(p2)

    val (a, b) = IvfIndex.splitCell(spark, p2, "vec_id", "embedding", hot)
    val after = profile(p2)
    // the hot cell is gone; its rows landed wholly in the two halves
    assert(!after.contains(hot) && after.contains(a) && after.contains(b))
    assert(after(a) + after(b) == before(hot),
      s"split must conserve the cell's rows: $before -> $after")
    assert(after(a).max(after(b)) < before(hot),
      "both halves must be strictly smaller than the hot cell")
    // every other cell untouched, total content exact
    (before - hot).foreach { case (c, n) => assert(after(c) == n) }
    assert(allRows(p2) == contentBefore, "no vector may change or vanish")
    // the codebook flipped: hot seed replaced by the two sub-seeds
    val cells = spark.read.parquet(s"$p2/seeds").select(col("cell"))
      .collect().map(_.getLong(0)).toSet
    assert(!cells.contains(hot) && cells.contains(a) && cells.contains(b))
    // pruning still works against a new half
    val q = spark.read.parquet(s"$p2/vectors").filter(col("cell") === a)
      .head().getSeq[Float](1).toArray
    val plan = IvfIndex.search(spark, p2, "vec_id", "embedding", q, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))

    // crash-leftover invariant: a cell dir the seeds do not list is
    // dead — searches never probe it, and compact reclaims it
    spark.read.parquet(s"$p2/vectors").filter(col("cell") === a)
      .withColumn("cell", lit(9999L))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").parquet(s"$p2/vectors")
    assert(profile(p2).contains(9999L)) // bytes exist on disk...
    IvfIndex.compact(spark, p2)
    assert(!profile(p2).contains(9999L),
      "compact must reclaim unreferenced cells")
    assert(allRows(p2) == contentBefore,
      "reclamation must not touch live rows")
  }

  test("mergeCells: two cold cells consolidate; content exact; split round-trips") {
    val p2 = Files.createTempDirectory("graft-ivf-merge").toString
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    def profile(pp: String) = spark.read.parquet(s"$pp/vectors")
      .groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    def allRows(pp: String) = spark.read.parquet(s"$pp/vectors")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val before = profile(p2)
    val contentBefore = allRows(p2)
    // the two coldest cells — the pair the v18 profile would flag
    val Seq(a, b) = before.toSeq.sortBy { case (c, n) => (n, c) }
      .take(2).map(_._1).sorted
    val merged = IvfIndex.mergeCells(spark, p2, a, b)
    val after = profile(p2)
    assert(!after.contains(a) && !after.contains(b) && after.contains(merged))
    assert(after(merged) == before(a) + before(b),
      s"merge must conserve both cells' rows: $before -> $after")
    (before - a - b).foreach { case (c, n) => assert(after(c) == n) }
    assert(allRows(p2) == contentBefore, "no vector may change or vanish")
    // the codebook flipped: one mean seed replaces the two retired ones
    val seedRows = spark.read.parquet(s"$p2/seeds")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(!seedRows.contains(a) && !seedRows.contains(b)
      && seedRows.contains(merged))
    // pruning still works against the merged cell
    val q = spark.read.parquet(s"$p2/vectors")
      .filter(col("cell") === merged).head().getSeq[Float](1).toArray
    val plan = IvfIndex.search(spark, p2, "vec_id", "embedding", q, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    // splitCell round-trips the merged cell (ids keep advancing — the
    // shared collision-proof floor)
    val (s1, s2) = IvfIndex.splitCell(spark, p2, "vec_id", "embedding", merged)
    assert(s1 > merged && s2 > merged)
    val post = profile(p2)
    assert(post(s1) + post(s2) == before(a) + before(b))
    assert(allRows(p2) == contentBefore)
  }

  test("splitCell: staged leftovers from a crashed split never collide with new ids") {
    val p2 = Files.createTempDirectory("graft-ivf-split-crash").toString
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    def profile(pp: String) = spark.read.parquet(s"$pp/vectors")
      .groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    def allRows(pp: String) = spark.read.parquet(s"$pp/vectors")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val contentBefore = allRows(p2)
    val before = profile(p2)
    val hot = before.maxBy(_._2)._1
    val seedsMax = spark.read.parquet(s"$p2/seeds").select(col("cell"))
      .collect().map(_.getLong(0)).max
    // Simulate a split that crashed between append (step 1) and the
    // seeds flip (step 2): staged halves sit at the exact ids a
    // codebook-only nextId would hand out again.
    val staged = Seq(seedsMax + 1, seedsMax + 2)
    staged.foreach { c =>
      spark.read.parquet(s"$p2/vectors").filter(col("cell") === hot)
        .withColumn("cell", lit(c))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .partitionBy("cell").parquet(s"$p2/vectors")
    }
    val stagedCount = profile(p2)(staged.head)
    // The retry (no compact in between — the dangerous window).
    val (a, b) = IvfIndex.splitCell(spark, p2, "vec_id", "embedding", hot)
    assert(!staged.contains(a) && !staged.contains(b),
      s"new ids $a/$b must skip the staged dirs $staged")
    val after = profile(p2)
    assert(after(a) + after(b) == before(hot),
      "the retry's halves must hold exactly the hot cell's rows")
    staged.foreach(c => assert(after(c) == stagedCount,
      "staged dead bytes are untouched, not resurrected"))
    // Live content (codebook-listed cells only) is exact: dead staged
    // rows are invisible to every search face, and compact drops them.
    val live = spark.read.parquet(s"$p2/seeds").select(col("cell"))
      .collect().map(_.getLong(0)).toSet
    assert(staged.forall(c => !live.contains(c)))
    IvfIndex.compact(spark, p2)
    assert(allRows(p2) == contentBefore,
      "post-compact content ≡ pre-crash content, duplicates gone")
    staged.foreach(c => assert(!profile(p2).contains(c)))
  }

  test("a solo search on an appended, tombstoned index runs at most 3 jobs") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-jobs").toString
    IvfIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      seeds, "seed_id", "seed_vec", p2)
    IvfIndex.append(e.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", p2)
    def rows(p: String) = IvfIndex.search(spark, p, "vec_id", "embedding",
        query, k = 5, nProbe = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val dead = rows(p2).take(2).map(_._1)
    IvfIndex.delete(spark, p2, dead)
    // the codebook rank, the tombstone broadcast, the probed-cell top-k
    val (got, jobs) = graft.JobCount(spark)(rows(p2))
    assert(jobs <= 3, s"solo search ran $jobs jobs")
    assert(got.length == 5 && got.forall(r => !dead.contains(r._1)))
    // the batch face on a local 3-probe frame: the codebook collect,
    // the tombstone broadcast, the heap scan
    import spark.implicits._
    val probes = e.filter(col("vec_id").isin(7, 42, 300)).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding"))))
      .toSeq.toDF("probe_id", "embedding")
    val (batch, batchJobs) = graft.JobCount(spark)(
      IvfIndex.searchBatch(spark, p2, "vec_id", "embedding", probes,
        "probe_id", "embedding", k = 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet)
    assert(batchJobs <= 3, s"batch search ran $batchJobs jobs")
    val solo = probes.collect().flatMap { p =>
      IvfIndex.search(spark, p2, "vec_id", "embedding",
          p.getSeq[Float](1).toArray, k = 5, nProbe = 2)
        .collect().zipWithIndex.map { case (r, i) =>
          (p.getLong(0), i + 1L, r.getLong(1), r.getDouble(2)) }
    }.toSet
    assert(batch.size == 15 && batch == solo)
    assert(batch.forall(r => !dead.contains(r._3)))
  }

  test("searchBatch on an empty probe frame returns the output schema and runs no job") {
    import spark.implicits._
    val none = Seq.empty[(Long, Seq[Float])].toDF("probe_id", "embedding")
    val (df, jobs) = graft.JobCount(spark) {
      val df = IvfIndex.searchBatch(spark, path, "vec_id", "embedding", none,
        "probe_id", "embedding", k = 5)
      assert(df.collect().isEmpty)
      df
    }
    assert(jobs == 0, s"an empty batch ran $jobs jobs")
    assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq(
      "probe_id" -> "bigint", "rank" -> "bigint", "vec_id" -> "bigint",
      "score" -> "double"))
  }

  test("the vectors layout reads its recorded types; no record or no such column fails loudly") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-record").toString
    IvfIndex.build(e.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      seeds, "seed_id", "seed_vec", p2)
    // the same columns in another order append: parquet reads by name
    val reordered = e.filter(col("vec_id") % 2 === 1)
      .select(e.columns.reverse.map(col): _*)
    IvfIndex.append(reordered, "vec_id", "embedding", p2)
    val odd = reordered.orderBy(col("vec_id")).head()
    val oddVec = odd.getSeq[Float](odd.fieldIndex("embedding")).toArray
    val hit = IvfIndex.search(spark, p2, "vec_id", "embedding", oddVec,
      k = 1, nProbe = 8).head()
    assert(hit.getLong(1) == odd.getLong(odd.fieldIndex("vec_id")) &&
      math.abs(hit.getDouble(2) - 1.0) < 1e-6, hit.toString)
    val noCol = intercept[org.apache.spark.sql.AnalysisException](
      IvfIndex.search(spark, p2, "vec_id", "embeding", query, k = 5))
    assert(noCol.getMessage.contains("embeding"), noCol.getMessage)
    // a delta of another shape would read back as nulls: refused
    val wrongShape = intercept[IllegalArgumentException](IvfIndex.append(
      e.select(col("vec_id").cast("int").as("vec_id"), col("embedding")),
      "vec_id", "embedding", p2))
    assert(wrongShape.getMessage.contains("do not match the vectors layout"))
    Commit.fs(spark, p2).delete(
      new org.apache.hadoop.fs.Path(s"$p2/vectors_schema.json"), false)
    val missing = intercept[IllegalArgumentException](
      IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5))
    assert(missing.getMessage.contains("rebuild the index"), missing.getMessage)
  }

  test("searchBatch on an int8 index equals per-probe search, bit for bit") {
    val probes = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 100 === 0 && col("vec_id") < 300)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    val batch = IvfIndex.searchBatch(spark, qpath, "vec_id", "embedding",
      probes, "probe_id", "embedding", k = 5, nProbe = 2)
    val got = batch.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), bits(r.getDouble(3)))).toSet
    val solo = probes.collect().flatMap { p =>
      IvfIndex.search(spark, qpath, "vec_id", "embedding",
          p.getSeq[Float](1).toArray, k = 5, nProbe = 2)
        .collect().zipWithIndex.map { case (r, i) =>
          (p.getLong(0), i + 1L, r.getLong(1), bits(r.getDouble(2))) }
    }.toSet
    assert(got.size == 15 && got == solo)
    // the batch scan reads the codes, never a float column
    val scans = batch.queryExecution.executedPlan.collect {
      case c: org.apache.spark.sql.execution.CommandResultExec =>
        c.commandPhysicalPlan
    }.flatMap(_.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.sorted.toSeq
    })
    assert(scans == Seq(Seq("codes", "scale", "vec_id")), scans)
  }

  test("searchBatch on a PQ index and splitCell on an int8 or PQ index fail naming the encoding") {
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val pq = Files.createTempDirectory("graft-ivfpq-refuse").toString
    IvfIndex.buildPq(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec",
      graft.operators.ProductQuantizer.train(e, "vec_id", "embedding",
        blocks = 4, codes = 8, iters = 2), pq)
    val probes = e.filter(col("vec_id") === 42)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val batch = intercept[IllegalArgumentException](IvfIndex.searchBatch(
      spark, pq, "vec_id", "embedding", probes, "probe_id", "embedding", k = 5))
    assert(batch.getMessage.contains("is a pq index"), batch.getMessage)
    Seq(qpath -> "int8", pq -> "pq").foreach { case (p, enc) =>
      val cell = spark.read.parquet(s"$p/seeds").head().getLong(0)
      val split = intercept[IllegalArgumentException](
        IvfIndex.splitCell(spark, p, "vec_id", "embedding", cell))
      assert(split.getMessage.contains(s"is a $enc index"), split.getMessage)
      // the vector column is not on disk: a wrong name fails by the record
      val wrong = intercept[IllegalArgumentException](
        IvfIndex.search(spark, p, "vec_id", "embeding", query, k = 5))
      assert(wrong.getMessage.contains(s"$enc index built from " +
        "(vec_id, embedding)"), wrong.getMessage)
    }
    // the solo face serves the PQ index
    assert(IvfIndex.search(spark, pq, "vec_id", "embedding", query, k = 5)
      .count() == 5)
  }

  test("an index written before the encoding record fails with the rebuild remedy") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val p2 = Files.createTempDirectory("graft-ivf-old").toString
    IvfIndex.build(e, "vec_id", "embedding", seeds, "seed_id", "seed_vec", p2)
    // the older float layout: the record held only the column schema, and
    // the id column lived in a one-row `idcol/` parquet
    val fs = Commit.fs(spark, p2)
    val columns = IvfIndex.record(spark, p2).columns.json
    val out = fs.create(new Path(s"$p2/vectors_schema.json"), true)
    try out.write(columns.getBytes("UTF-8")) finally out.close()
    Seq("vec_id").toDF("id_col").write.parquet(s"$p2/idcol")
    val probes = e.filter(col("vec_id") === 42)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def refused(face: => Any): Unit = {
      val err = intercept[IllegalArgumentException](face)
      assert(err.getMessage.contains("rebuild the index"), err.getMessage)
    }
    refused(IvfIndex.search(spark, p2, "vec_id", "embedding", query, k = 5))
    refused(IvfIndex.searchBatch(spark, p2, "vec_id", "embedding", probes,
      "probe_id", "embedding", k = 5))
    refused(IvfIndex.append(e.filter(col("vec_id") < 10), "vec_id",
      "embedding", p2))
    refused(IvfIndex.compact(spark, p2))
    refused(IvfIndex.mergeCells(spark, p2, 0L, 1L))
    refused(IvfIndex.splitCell(spark, p2, "vec_id", "embedding", 0L))
    // the older PQ layout: `codes/` beside the codebooks, no record at all
    fs.rename(new Path(s"$p2/vectors"), new Path(s"$p2/codes"))
    fs.delete(new Path(s"$p2/vectors_schema.json"), false)
    refused(IvfIndex.search(spark, p2, "id", "vec", query, k = 5))
  }
}
