package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.functions.vectors
import graft.operators.ProductQuantizer

/** On-disk IVF-PQ contract of a [[IvfIndex.buildPq]] index: partition
  * pruning visible in the plan, a codes-only scan (no vector column on
  * disk), round-tripped codebooks, and an end-to-end recall floor
  * against exact search.
  */
class IvfPqIndexSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  /** Clustered fixture (same family as ProductQuantizerSpec): 160
    * vectors, 16 dims, 4 clusters on two-axis combos + seeded noise.
    */
  private def vec(i: Int): Array[Float] = {
    val rnd = new scala.util.Random(i)
    val v = Array.fill(16)((rnd.nextDouble() * 0.2 - 0.1).toFloat)
    val c = i % 4
    v(c) = 1.0f
    v(8 + c) = 0.8f
    v
  }

  private lazy val corpus =
    (0 until 160).map(i => (i.toLong, vec(i))).toDF("id", "vec")

  private lazy val path = {
    val p = Files.createTempDirectory("graft-ivfpq").toString
    val seeds = IvfIndex.trainSeeds(corpus, "id", "vec", k = 4, iters = 3)
    val cb = ProductQuantizer.train(corpus, "id", "vec",
      blocks = 4, codes = 16, iters = 3)
    IvfIndex.buildPq(corpus, "id", "vec", seeds, "cell_id", "seed_vec", cb, p)
    p
  }

  test("search plan prunes to the probed cells' partitions") {
    val df = IvfIndex.search(spark, path, "id", "vec", vec(34), k = 5, nProbe = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    assert("cell#\\d+L? IN|cell#\\d+L? =".r.findFirstIn(plan).isDefined,
      "expected a cell partition filter in:\n" + plan.take(800))
    assert(df.count() == 5)
  }

  test("scan reads codes only — no vector column exists on the scan") {
    val df = IvfIndex.search(spark, path, "id", "vec", vec(34), k = 5, nProbe = 2)
    val scanned = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSeq
    }.flatten.toSet
    assert(scanned == Set("id", "codes"),
      s"codes scan must read exactly (id, codes), got: $scanned")
  }

  test("codebooks round-trip from disk") {
    val cb = ProductQuantizer.train(corpus, "id", "vec",
      blocks = 4, codes = 16, iters = 3)
    val back = IvfIndex.loadCodebooks(spark, path)
    assert(back.blocks == cb.blocks && back.codes == cb.codes &&
      back.blockDim == cb.blockDim)
    for (b <- 0 until cb.blocks; c <- 0 until cb.codes)
      assert(back.codewords(b)(c).toSeq == cb.codewords(b)(c).toSeq,
        s"codeword ($b,$c) drifted through disk")
  }

  test("all-cell probe recall vs exact cosine top-10 meets the PQ floor") {
    // nProbe = all cells isolates PQ quantization error (no IVF misses);
    // the floor matches the in-memory ADC property test.
    val hits = (0 until 8).map { probe =>
      val q = vec(probe * 17)
      val exact = corpus
        .withColumn("s", vectors.cosineSimilarity(col("vec"), lit(q)))
        .orderBy(col("s").desc, col("id")).limit(10)
        .collect().map(_.getLong(0)).toSet
      val got = IvfIndex.search(spark, path, "id", "vec", q, k = 10, nProbe = 4)
        .collect().map(_.getLong(1)).toSet
      (exact & got).size
    }
    val recall = hits.sum.toDouble / (8 * 10)
    assert(recall >= 0.6, s"IVF-PQ recall@10 too low: $recall (hits=$hits)")
  }

  test("append: build(base) + append(delta) ≡ one-shot build, codes bit-identical") {
    // v20's pin on the PQ layout: a delta encoded against the FROZEN
    // seeds and codebooks lands indistinguishable from a one-shot
    // build over the union — (cell, id, codes) multisets equal.
    val p2 = Files.createTempDirectory("graft-ivfpq-append").toString
    val seeds = IvfIndex.trainSeeds(corpus, "id", "vec", k = 4, iters = 3)
    val cb = ProductQuantizer.train(corpus, "id", "vec",
      blocks = 4, codes = 16, iters = 3)
    IvfIndex.buildPq(corpus.filter(col("id") % 2 === 0), "id", "vec",
      seeds, "cell_id", "seed_vec", cb, p2)
    IvfIndex.append(corpus.filter(col("id") % 2 === 1), "id", "vec", p2)
    def layout(p: String) = spark.read.parquet(s"$p/vectors")
      .collect()
      .map(r => (r.getAs[Number](r.fieldIndex("cell")).longValue,
        r.getLong(r.fieldIndex("id")),
        r.getSeq[Int](r.fieldIndex("codes")).toSeq)).toSet
    assert(layout(p2) == layout(path),
      "appended PQ layout must equal the one-shot layout code for code")
    // search face bit-identical over the appended index
    val got = IvfIndex.search(spark, p2, "id", "vec", vec(34), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val ref = IvfIndex.search(spark, path, "id", "vec", vec(34), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == ref)
  }

  test("compact folds appended files to one per cell; delete tombstones then drops rows") {
    val p2 = Files.createTempDirectory("graft-ivfpq-compact").toString
    val seeds = IvfIndex.trainSeeds(corpus, "id", "vec", k = 4, iters = 3)
    val cb = ProductQuantizer.train(corpus, "id", "vec",
      blocks = 4, codes = 16, iters = 3)
    IvfIndex.buildPq(corpus.filter(col("id") % 4 === 0), "id", "vec",
      seeds, "cell_id", "seed_vec", cb, p2)
    for (r <- 1L to 3L)
      IvfIndex.append(corpus.filter(col("id") % 4 === r), "id", "vec", p2)
    val preSearch = IvfIndex.search(spark, p2, "id", "vec", vec(34), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val (before, after) = IvfIndex.compact(spark, p2)
    val nCells = spark.read.parquet(s"$p2/vectors")
      .select(col("cell")).distinct().count()
    assert(before > nCells && after == nCells,
      s"expected $nCells files after compact, got $after (before $before)")
    assert(IvfIndex.search(spark, p2, "id", "vec", vec(34), k = 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq == preSearch,
      "compaction must not change search results")
    // tombstone delete: hidden immediately, dropped physically on compact
    val dead = preSearch.take(2).map(_._1)
    IvfIndex.delete(spark, p2, dead)
    val afterDel = IvfIndex.search(spark, p2, "id", "vec", vec(34), k = 5)
      .collect().map(_.getLong(1)).toSeq
    assert(afterDel.intersect(dead).isEmpty && afterDel.length == 5)
    val preRows = spark.read.parquet(s"$p2/vectors").count()
    IvfIndex.compact(spark, p2)
    assert(spark.read.parquet(s"$p2/vectors").count() == preRows - dead.length)
    assert(IvfIndex.search(spark, p2, "id", "vec", vec(34), k = 5)
      .collect().map(_.getLong(1)).toSeq == afterDel,
      "post-compact search must equal the tombstone-filtered search")
  }

  test("mergeCells: full-probe results are bit-identical; retired cells vanish; tombstones survive") {
    val p2 = Files.createTempDirectory("graft-ivfpq-merge").toString
    val seeds = IvfIndex.trainSeeds(corpus, "id", "vec", k = 4, iters = 3)
    val cb = ProductQuantizer.train(corpus, "id", "vec",
      blocks = 4, codes = 16, iters = 3)
    IvfIndex.buildPq(corpus, "id", "vec", seeds, "cell_id", "seed_vec", cb, p2)
    val q = vec(34)
    def full(n: Int) =
      IvfIndex.search(spark, p2, "id", "vec", q, k = 160, nProbe = n)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val before = full(4)
    // tombstone BEFORE the merge — it keys on id and must ride along
    val dead = before.head._1
    IvfIndex.delete(spark, p2, Seq(dead))
    val cells = spark.read.parquet(s"$p2/seeds")
      .select(col("cell")).collect().map(_.getLong(0)).sorted
    val merged = IvfIndex.mergeCells(spark, p2, cells(0), cells(1))
    // codes encode the raw vector, so every surviving (id, score) pair
    // is unchanged under recellation — only the dead id is gone
    assert(full(3) == before.filterNot(_._1 == dead),
      "full-probe search must be bit-identical after the merge")
    val after = spark.read.parquet(s"$p2/seeds")
      .select(col("cell")).collect().map(_.getLong(0)).sorted
    assert(after.length == 3 && after.contains(merged) &&
      !after.contains(cells(0)) && !after.contains(cells(1)))
    assert(!new java.io.File(s"$p2/vectors/cell=${cells(0)}").exists &&
      !new java.io.File(s"$p2/vectors/cell=${cells(1)}").exists,
      "retired cell directories must be dropped")
    // merged seed is the elementwise mean of the two retired seeds
    val sv = spark.read.parquet(s"$p2/seeds")
      .filter(col("cell") === merged).head().getSeq[Float](1)
    val Seq(sa, sb) = seeds.filter(col("cell_id").isin(cells(0), cells(1)))
      .orderBy(col("cell_id")).collect().map(_.getSeq[Float](1)).toSeq
    assert(sv == sa.zip(sb).map { case (x, y) => (x + y) / 2f })
  }

  test("single-cell probe stays inside one cell and is ADC-exact there") {
    val q = vec(34)
    val rows =
      IvfIndex.search(spark, path, "id", "vec", q, k = 5, nProbe = 1).collect()
    val cells = rows.map(_.getAs[Number]("cell").longValue).toSet
    assert(cells.size == 1, s"nProbe=1 must touch one cell, got $cells")
    // ADC order within the probed cell matches scoring the cell's codes
    // directly with the same codebooks.
    val cb = IvfIndex.loadCodebooks(spark, path)
    val brute = spark.read.parquet(s"$path/vectors")
      .filter(col("cell") === cells.head)
      .withColumn("score", ProductQuantizer.adcScoreCol(col("codes"), cb, q))
      .orderBy(col("score").desc, col("id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getLong(1)).toSeq == brute)
  }
}
