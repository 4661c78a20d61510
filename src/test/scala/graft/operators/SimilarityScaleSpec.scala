package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.functions.vectors
import graft.store.IvfIndex

/** The two large-probe-set scale paths: trained IVF codebooks and the
  * LSH-bucketed similarity join, on a deterministic 3-cluster fixture.
  */
class SimilarityScaleSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  /** 30 vectors in 8 dims: ids 0–9 cluster 0 (axis e0), 10–19 cluster 1
    * (e1), 20–29 cluster 2 (e2), each with a small deterministic noise
    * component in dims 4–7. Ids are ordered so the deterministic
    * k-smallest-ids seed init lands ALL THREE seeds in cluster 0 — the
    * worst case training has to climb out of.
    */
  private def vec(i: Int): Array[Float] = {
    val v = new Array[Float](8)
    v(i / 10) = 1.0f
    v(4 + i % 4) = 0.3f
    v
  }

  private lazy val corpus: DataFrame =
    (0 until 30).map(i => (i.toLong, vec(i))).toDF("id", "vec")

  private def meanCosine(seeds: DataFrame): Double =
    Similarity.ivfAssign(corpus, "id", "vec", seeds, "cell_id", "seed_vec")
      .join(seeds.withColumnRenamed("cell_id", "cell"), "cell")
      .select(avg(vectors.cosineSimilarity(col("vec"), col("seed_vec"))))
      .head().getDouble(0)

  test("trainSeeds improves mean assignment cosine over the raw init") {
    val init = (0 until 3).map(i => (i.toLong, vec(i))).toDF("cell_id", "seed_vec")
    val trained = IvfIndex.trainSeeds(corpus, "id", "vec", k = 3, iters = 5)
    assert(trained.count() == 3)
    // Codebook rows keep their shape: 8-dim, L2-normalized.
    trained.collect().foreach { r =>
      val s = r.getSeq[Float](1)
      assert(s.length == 8)
      val n = math.sqrt(s.map(x => x.toDouble * x.toDouble).sum)
      assert(math.abs(n - 1.0) < 1e-5)
    }
    val before = meanCosine(init)
    val after = meanCosine(trained)
    assert(after > before + 0.05,
      s"training did not improve assignment: before=$before after=$after")
  }

  test("trainSeeds is deterministic") {
    val a = IvfIndex.trainSeeds(corpus, "id", "vec", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)
    val b = IvfIndex.trainSeeds(corpus, "id", "vec", k = 3, iters = 3)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).toSeq.sortBy(_._1)
    assert(a == b)
  }

  /** Axis hyperplanes: cluster j's members have dot > 0 with plane j
    * only, so each cluster maps to its own bucket and the bucketed join
    * must reproduce the exact join on this fixture (recall 1).
    */
  private val planes: Seq[Array[Float]] = (0 until 3).map { j =>
    val p = new Array[Float](8); p(j) = 1.0f; p
  }

  test("bucketedSimilarityJoin matches exact top-k when buckets separate clusters") {
    val probes = Seq(0L, 10L, 20L).map(i => (i, vec(i.toInt))).toDF("id", "vec")
    def resultSet(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = resultSet(
      Similarity.similarityJoin(probes, corpus, "id", "vec", k = 3))
    val bucketed = resultSet(
      Similarity.bucketedSimilarityJoin(probes, corpus, "id", "vec", planes, k = 3))
    assert(bucketed == exact)
  }

  test("bucketed join scores only same-bucket pairs (probe in empty bucket → no rows)") {
    // A probe pointing along NEGATIVE e0: dot <= 0 with every plane →
    // bucket 0, which no corpus vector occupies.
    val v = new Array[Float](8); v(0) = -1.0f
    val lonely = Seq((99L, v)).toDF("id", "vec")
    assert(Similarity.bucketedSimilarityJoin(
      lonely, corpus, "id", "vec", planes, k = 3).isEmpty)
    // The exact join still finds neighbors for it — the documented
    // fallback for bucket misses.
    assert(Similarity.similarityJoin(
      lonely, corpus, "id", "vec", k = 3).count() == 3)
  }

  test("ivfSearchBatch: exhaustive nprobe equals exact; only probe-keyed exchanges") {
    val seeds = corpus.filter(col("id") < 3)
      .select(col("id").as("cell_id"), col("vec").as("seed_vec"))
    val assigned = Similarity.ivfAssign(
      corpus, "id", "vec", seeds, "cell_id", "seed_vec")
    val probes = corpus.filter(col("id") % 7 === 0)
      .select(col("id").as("probe_id"), col("vec"))
    val batch = Similarity.ivfSearchBatch(assigned, "id", "vec",
      seeds, "cell_id", "seed_vec", probes, "probe_id", "vec",
      nprobe = 3, k = 4)
    // nprobe = |cells| is brute force: rank-for-rank identical to the
    // exact broadcast join (both tie on neighbor id).
    val got = batch.select(col("probe_id"), col("rank"), col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.similarityJoin(
        probes.withColumnRenamed("probe_id", "id"), corpus, "id", "vec", k = 4)
      .select(col("probe_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exact)
    // The scale contract: cells rank on the driver and the corpus is
    // scored in one map-only pass whose per-probe heaps merge on the
    // driver — no exchange of any kind, and no probe × corpus product.
    val p = batch.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("BroadcastNestedLoopJoin"),
      s"the batch search must not exchange or cross-join:\n${p.take(600)}")
  }

  /** The sf0.001 embeddings assigned to 8 seeds (the v16/v17 fixture),
    * and probes at every 100th id below 500.
    */
  private lazy val sfFixture = {
    val e = graft.Tables.embeddings(spark, graft.TestSession.sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
    val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
      seeds, "seed_id", "seed_vec")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val probes = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 500)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    (seeds, assigned, probes)
  }

  test("ivfSearchBatchQuantized ≡ per-probe ivfQuantizedSearch bit for bit at nprobe 2") {
    val (seeds, assigned, probes) = sfFixture
    val quantized = ScalarQuant.quantize(assigned, "embedding").drop("embedding")
    val got = Similarity.ivfSearchBatchQuantized(quantized, "vec_id",
        seeds, "seed_id", "seed_vec", probes, "probe_id", "embedding",
        nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSet
    val want = probes.collect().flatMap { p =>
      Similarity.ivfQuantizedSearch(quantized, "vec_id", seeds, "seed_id",
          "seed_vec", p.getSeq[Float](1).toArray, nprobe = 2, k = 5)
        .collect().zipWithIndex.map { case (r, i) =>
          (p.getLong(0), i + 1L, r.getLong(1),
            java.lang.Double.doubleToRawLongBits(r.getDouble(2))) }
    }.toSet
    assert(got.size == 25 && got == want)
  }

  test("ivfSearchBatch: probe rows sharing an id give one top-k over both rows' candidates") {
    val (seeds, assigned, probes) = sfFixture
    val vs = probes.collect().map(_.getSeq[Float](1)).take(2)
    val dup = Seq((7L, vs(0)), (7L, vs(1))).toDF("probe_id", "embedding")
    val got = Similarity.ivfSearchBatch(assigned, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec", dup, "probe_id", "embedding",
        nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq.sortBy(_._2)
    // the union's top-k is the top-k of the two rows' own top-k lists
    val want = vs.flatMap { v =>
      Similarity.ivfMultiProbeSearch(assigned, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec", v.toArray, nprobe = 2, k = 5)
        .collect().map(r => (r.getDouble(2), r.getLong(1)))
    }.distinct.sortBy { case (score, id) => (-score, id) }.take(5)
      .zipWithIndex.map { case ((score, id), i) => (7L, i + 1L, id, score) }
      .toSeq
    assert(got == want)
  }
}
