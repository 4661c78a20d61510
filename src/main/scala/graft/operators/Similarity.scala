package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Similarity search over an embedding column (`array<float>`).
  *
  * Mirrors the reference's vector-search surface (SURVEY.md Q3/Q4 —
  * WEB-LOCAL `ingestion-pipeline-website-local.py:143–176`, where Weaviate
  * does the scan) re-expressed as Spark plans, plus the scale paths a
  * 100 TB corpus needs:
  *
  *   - [[knn]] — exact brute force; Catalyst plans the orderBy+limit as
  *     TakeOrderedAndProject: each partition keeps a k-element heap and only
  *     k rows per partition reach the driver. No global sort, no shuffle.
  *   - [[similarityJoin]] — top-k per probe row. The probe set is broadcast
  *     (dimension-table sized); the corpus streams through one pass.
  *   - [[lshBuckets]] / [[nearDupPairs]] — random-hyperplane bit signatures
  *     turn the O(n²) all-pairs problem into a shuffle on bucket id; only
  *     same-bucket pairs are scored. This is the partition-pruning path at
  *     scale: bucket id is the shuffle/partition key.
  *   - [[ivfAssign]] / [[ivfSearch]] — inverted-file ANN: every vector is
  *     assigned to its nearest seed centroid; a query scans only its cell.
  *     At cluster scale the assignment is the table's partition column, so
  *     a query prunes all but 1/k of the data before any scan.
  */
object Similarity {

  /** Exact cosine top-k against a constant query vector. */
  def knn(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int): DataFrame =
    corpus
      .withColumn("score", vectors.cosineSimilarity(col(vecCol), lit(query)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))

  /** Top-k corpus neighbors for every probe row (probes broadcast).
    *
    * Scale contract: EXACT, and sized for dimension-table probe sets —
    * every (probe, corpus) pair is scored and |corpus| × |probes| rows
    * flow through the per-probe rank window. That is the right trade for
    * hundreds-to-thousands of probes (one broadcast, no corpus shuffle);
    * for probe sets that are themselves corpus-sized use
    * [[bucketedSimilarityJoin]], which prunes pairs by LSH bucket before
    * any scoring at the cost of approximate recall.
    */
  def similarityJoin(probes: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    c.join(broadcast(p))
      .withColumn("score",
        vectors.cosineSimilarity(col("probe_vec"), col("neighbor_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Maximal-marginal-relevance selection: greedily pick `k` vectors
    * maximizing `lambda·sim(q,d) − (1−lambda)·max_{s∈selected} sim(d,s)`
    * — relevance traded against redundancy, the diversity-aware
    * retrieval mode RAG stacks pair with plain kNN. Ties break to the
    * smaller id; the first pick is the pure-relevance argmax.
    *
    * Execution: k driver-side rounds, each ONE corpus pass ending in a
    * TakeOrderedAndProject of a single row; the selected set (≤ k
    * vectors) travels as broadcast literals. Driver state is the k
    * picked vectors — bounded. k is a UI-sized constant; for large k
    * use plain [[knn]] and diversify client-side.
    *
    * Returns (rank, id, qsim, mmr) in selection order.
    */
  def mmr(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, lambda: Double = 0.5): DataFrame = {
    require(k >= 1 && lambda >= 0.0 && lambda <= 1.0)
    // Selected ids are tracked as longs on the driver; reject ids that a
    // long cast would silently null out (unlike knn/similarityJoin,
    // which are id-type-agnostic).
    require({
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(corpus.schema(idCol).dataType)
    }, s"mmr requires an integral id column, got ${corpus.schema(idCol).dataType}")
    implicit val spark: org.apache.spark.sql.SparkSession = corpus.sparkSession
    val scored = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("qsim", vectors.cosineSimilarity(col("v"), lit(query)))
    var selected = Vector.empty[(Long, Array[Float], Double, Double)] // id, vec, qsim, mmr
    while (selected.size < k) {
      val remaining = selected.foldLeft(scored) { case (df, (id, _, _, _)) =>
        df.filter(col("id") =!= id)
      }
      val simsToSel = selected.map { case (_, v, _, _) =>
        vectors.cosineSimilarity(col("v"), lit(v))
      }
      val mmrScore =
        if (simsToSel.isEmpty) col("qsim")
        else lit(lambda) * col("qsim") - lit(1.0 - lambda) *
          (if (simsToSel.size == 1) simsToSel.head else greatest(simsToSel: _*))
      val top = remaining.withColumn("mmr", mmrScore)
        .orderBy(col("mmr").desc, col("id"))
        .limit(1)
        .collect()
      if (top.isEmpty) return result(selected) // corpus smaller than k
      val r = top.head
      selected :+= ((r.getLong(r.fieldIndex("id")),
        r.getSeq[Float](r.fieldIndex("v")).toArray,
        r.getDouble(r.fieldIndex("qsim")),
        r.getDouble(r.fieldIndex("mmr"))))
    }
    result(selected)
  }

  private def result(sel: Vector[(Long, Array[Float], Double, Double)])(
      implicit spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    sel.zipWithIndex
      .map { case ((id, _, qsim, mmr), i) => (i.toLong + 1, id, qsim, mmr) }
      .toDF("rank", "id", "qsim", "mmr")
  }

  /** Two-stage ANN over int8-quantized storage ([[ScalarQuant]]): a
    * coarse top-`candidates` pass scoring cosine against the DEQUANTIZED
    * codes, then an exact float rescore of just those candidates — the
    * standard retrieve-then-rescore trade of quantized vector stores.
    * At corpus scale the coarse scan reads (codes, scale) only — ~4×
    * fewer bytes than the float vectors — and the exact vectors are
    * touched for `candidates` rows, not the corpus (here the vector
    * column rides the same frame; in a store layout the rescore is a
    * candidates-sized point-lookup join against the full-precision
    * column family). Both stages plan as TakeOrderedAndProject
    * (per-partition heaps, no global sort). Approximate only in the
    * coarse ORDER: a true top-k neighbor can be missed when
    * quantization error reorders it past rank `candidates` —
    * exact in the limit candidates = |corpus| (spec-pinned).
    *
    * Returns (id, qscore, score) for the exact top-k of the candidate
    * set, ties to the smaller id in both stages.
    */
  def knnQuantizedRescore(corpus: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], k: Int, candidates: Int): DataFrame = {
    require(k >= 1 && candidates >= k,
      s"need candidates >= k >= 1, got k=$k candidates=$candidates")
    ScalarQuant.quantize(corpus, vecCol)
      .withColumn("qscore",
        vectors.cosineSimilarity(ScalarQuant.scoringVec, lit(query)))
      .orderBy(col("qscore").desc, col(idCol))
      .limit(candidates)
      .withColumn("score", vectors.cosineSimilarity(col(vecCol), lit(query)))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("qscore"), col("score"))
  }

  /** Approximate top-k neighbors for LARGE probe sets: both sides are
    * bucketed by the same random-hyperplane signature and only
    * same-bucket (probe, corpus) pairs are scored — the join shuffles on
    * `bucket`, so the pair count is Σ_b |probes_b|·|corpus_b| instead of
    * |probes|·|corpus|, and neither side is broadcast. Approximate: a
    * true neighbor hashed to a different bucket is missed (recall rises
    * with fewer planes / falls with more; same trade as [[nearDupPairs]]).
    * Probes with an empty bucket return no rows — at scale, re-query the
    * misses through [[similarityJoin]] or an IVF probe.
    */
  def bucketedSimilarityJoin(probes: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, planes: Seq[Array[Float]],
      k: Int): DataFrame = {
    val p = lshBuckets(
      probes.select(col(idCol).as("probe_id"), col(vecCol).as("probe_vec")),
      "probe_vec", planes)
    val c = lshBuckets(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("neighbor_vec")),
      "neighbor_vec", planes)
      .withColumnRenamed("bucket", "bucket_c")
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    p.join(c, col("bucket") === col("bucket_c"))
      .withColumn("score",
        vectors.cosineSimilarity(col("probe_vec"), col("neighbor_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** Bit-signature bucket id from the signs of inner products with the
    * given hyperplanes (random-hyperplane LSH; here the planes are chosen
    * deterministically by the caller). bit i is set iff dot(v, plane_i)>0.
    */
  def lshBuckets(df: DataFrame, vecCol: String,
      planes: Seq[Array[Float]]): DataFrame = {
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      when(vectors.dotProduct(col(vecCol), lit(p)) > 0.0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    df.withColumn("bucket", bucket)
  }

  /** Same-bucket near-duplicate pairs with cosine >= threshold.
    * The self-join shuffles on `bucket`, never on the raw vectors, so the
    * pair count is sum over buckets of n_b², not n² — the LSH scale path.
    *
    * `maxBucket` is the skew guard for real corpora: a degenerate bucket
    * of m vectors contributes m²/2 pairs regardless of how well the rest
    * hash, so production runs cap bucket size (capped buckets need more
    * planes or a salted re-hash, not a bigger join). 0 = uncapped, which
    * keeps the exact all-pairs-within-bucket contract the oracle checks.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      planes: Seq[Array[Float]], threshold: Double,
      maxBucket: Long = 0): DataFrame = {
    val b0 = lshBuckets(df, vecCol, planes)
    val b =
      if (maxBucket <= 0) b0
      else {
        val sizes = b0.groupBy(col("bucket"))
          .agg(count(lit(1)).as("bucket_n"))
          .filter(col("bucket_n") <= maxBucket)
        b0.join(broadcast(sizes.select(col("bucket"))), "bucket")
      }
    val a = b.select(col("bucket"), col(idCol).as("a_id"), col(vecCol).as("a_vec"))
    val c = b.select(col("bucket").as("bucket_b"), col(idCol).as("b_id"),
      col(vecCol).as("b_vec"))
    a.join(c, col("bucket") === col("bucket_b") && col("a_id") < col("b_id"))
      .withColumn("score", vectors.cosineSimilarity(col("a_vec"), col("b_vec")))
      .filter(col("score") >= threshold)
      .select(col("bucket"), col("a_id"), col("b_id"), col("score"))
  }

  /** Assign every vector to its most-similar seed (IVF cell build).
    * Ties break to the smaller seed id.
    *
    * Shuffle-free: the centroid set is bounded (it's an IVF codebook), so
    * it is materialized on the driver and inlined as literals. Each row
    * computes a score array + argmax in one projection inside the scan —
    * no join, no window, no shuffle. `array_position(scores, array_max)`
    * returns the FIRST max (1-based), which with seeds sorted ascending by
    * id is exactly the smaller-id tie-break.
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String): DataFrame = {
    val seedRows = seeds.select(col(seedIdCol).cast("long"), col(seedVecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    val scores = array(seedRows.toIndexedSeq.map { case (_, v) =>
      vectors.cosineSimilarity(col(vecCol), lit(v))
    }: _*)
    val cellIds = array(seedRows.toIndexedSeq.map { case (id, _) => lit(id) }: _*)
    df.withColumn("cell",
      element_at(cellIds, array_position(scores, array_max(scores)).cast("int")))
  }

  /** ANN search: scan only the query's IVF cell, exact top-k inside it. */
  def ivfSearch(assigned: DataFrame, idCol: String, vecCol: String,
      query: Array[Float], queryCell: Long, k: Int): DataFrame =
    cellTopK(assigned, idCol, Seq(queryCell),
      vectors.cosineSimilarity(col(vecCol), lit(query)), k)

  /** Multi-probe ANN: scan the `nprobe` cells whose CENTROIDS are most
    * similar to the query (ties to the smaller cell id), exact top-k
    * inside their union — the standard IVF recall lever (a true
    * neighbor assigned to the runner-up cell is missed at nprobe=1 and
    * found at 2; [[graft.store.IvfIndex.search]] is the on-disk face of
    * the same contract, where each probed cell is a pruned partition).
    * Cell ranking runs as a codebook-sized Spark job through the SAME
    * cosine expression as the scan, so ranking and scoring can never
    * disagree on arithmetic.
    */
  def ivfMultiProbeSearch(assigned: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      query: Array[Float], nprobe: Int, k: Int): DataFrame =
    probeSearch(assigned, idCol, seeds, seedIdCol, seedVecCol, query,
      nprobe, k, vectors.cosineSimilarity(col(vecCol), lit(query)))

  /** [[ivfMultiProbeSearch]] over int8-quantized storage: the input
    * carries (codes, scale, cell) instead of a float vector column
    * ([[ScalarQuant.quantize]]'s output, [[graft.store.IvfIndex
    * .buildQuantized]]'s on-disk layout), cells rank exactly as the
    * float search's, and candidates score on dequantized codes with
    * v11's arithmetic ([[ScalarQuant.scoringVec]], then the same
    * cosine) — so the quantized probe reads ~4× fewer bytes per cell
    * and stays oracle-reproducible (v13).
    */
  def ivfQuantizedSearch(quantized: DataFrame, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      query: Array[Float], nprobe: Int, k: Int): DataFrame =
    probeSearch(quantized, idCol, seeds, seedIdCol, seedVecCol, query,
      nprobe, k, vectors.cosineSimilarity(ScalarQuant.scoringVec, lit(query)))

  /** The one single-query IVF probe: rank the codebook's cells with
    * [[probeCells]], then take the exact top-k of the probed cells
    * under `score` — cosine on float vectors, cosine on dequantized
    * codes, or PQ ADC ([[graft.store.IvfPqIndex.search]]). Every face
    * that ranks cells for one query, on-disk ones included, probes
    * through here, so no two faces can pick different cells for it.
    */
  private[graft] def probeSearch(corpus: DataFrame, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      query: Array[Float], nprobe: Int, k: Int, score: Column): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    cellTopK(corpus, idCol,
      probeCells(seeds, seedIdCol, seedVecCol, query, nprobe), score, k)
  }

  /** The exact top-k of a probed cell set: keep the rows of `cells`
    * (a partition filter on a cell-partitioned layout), score with
    * `score`, order by (score DESC, id ASC) — planned as
    * TakeOrderedAndProject, per-partition heaps, no global sort.
    * Returns (cell, id, score).
    */
  private def cellTopK(corpus: DataFrame, idCol: String, cells: Seq[Long],
      score: Column, k: Int): DataFrame =
    corpus
      .filter(col("cell").isin(cells: _*))
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col("cell"), col(idCol), col("score"))

  /** Batch ANN: exact top-k inside the probed cells for EVERY probe
    * row in ONE pass — the serving shape for query BATCHES, where the
    * single-probe faces ([[ivfSearch]]/[[ivfMultiProbeSearch]], whose
    * probe is a driver-side literal) would launch one job per query.
    *
    * Scale shape: probe cells rank per probe against the BROADCAST
    * codebook through the same cosine expression the scan scores with
    * (the per-probe rank window runs over |probes|·|cells| rows — both
    * query/codebook-sized); the corpus then joins the broadcast
    * (probe, cell) pairs on its own cell key, so the corpus side
    * NEVER shuffles — candidates score row-locally inside the scan
    * (nprobe·|corpus|/|cells| pairs per probe on balanced cells, never
    * all-pairs), and the per-probe top-k is the mergeable heap
    * aggregate ([[Sketches.TopKByScore]], q24's no-window-sort
    * argument): the only data-scale exchange carries ≤ k rows per
    * probe per task. nprobe = |cells| degenerates to exact brute
    * force — which makes recall@k evaluation (v16) a two-call
    * comparison through identical arithmetic.
    *
    * Output: (probeIdCol, rank, idCol, score), rank 1..k per probe by
    * (score DESC, id ASC).
    */
  def ivfSearchBatch(assigned: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    batchTopK(
      assigned, vectors.cosineSimilarity(col(vecCol), col("_ann_pv")),
      idCol, batchProbeCells(probes, probeIdCol, probeVecCol,
        seeds, seedIdCol, seedVecCol, nprobe), probeIdCol, k)
  }

  /** [[ivfSearchBatch]] over int8-quantized storage: the corpus side
    * carries (codes, scale, cell) — [[ScalarQuant.quantize]]'s output,
    * [[graft.store.IvfIndex.buildQuantized]]'s on-disk layout — so the
    * batch's coarse scan reads ~4× fewer bytes per probed cell, and
    * candidates score on dequantized codes with v11/v13's exact
    * arithmetic. Identical probe-cell ranking, join shape, and
    * per-probe heap as the float batch; only the score input differs.
    */
  def ivfSearchBatchQuantized(quantized: DataFrame, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    batchTopK(quantized,
      vectors.cosineSimilarity(ScalarQuant.scoringVec, col("_ann_pv")),
      idCol, batchProbeCells(probes, probeIdCol, probeVecCol,
        seeds, seedIdCol, seedVecCol, nprobe), probeIdCol, k)
  }

  /** Per-probe top-nprobe cells against the broadcast codebook —
    * (probe id, probe vec, cell), the broadcast side of every batch
    * search. The rank window runs over |probes|·|cells| rows, both
    * query/codebook-sized by contract.
    */
  private def batchProbeCells(probes: DataFrame, probeIdCol: String,
      probeVecCol: String, seeds: DataFrame, seedIdCol: String,
      seedVecCol: String, nprobe: Int): DataFrame = {
    val ranked = probes
      .select(col(probeIdCol).as("_ann_pid"), col(probeVecCol).as("_ann_pv"))
      .crossJoin(broadcast(seeds.select(col(seedIdCol).as("_ann_cell"),
        col(seedVecCol).as("_ann_cv"))))
      .withColumn("_ann_cs",
        vectors.cosineSimilarity(col("_ann_pv"), col("_ann_cv")))
    val w = Window.partitionBy(col("_ann_pid"))
      .orderBy(col("_ann_cs").desc, col("_ann_cell"))
    ranked
      .withColumn("_ann_rn", row_number().over(w))
      .filter(col("_ann_rn") <= nprobe)
      .select(col("_ann_pid"), col("_ann_pv"), col("_ann_cell"))
  }

  /** The shared tail of every batch search: broadcast-join the
    * (probe, cell) pairs to the corpus on its own cell key, score
    * row-locally with `scoreExpr` (which may reference `_ann_pv`),
    * and heap-aggregate per probe — the only data-scale exchange
    * carries ≤ k rows per probe per task.
    */
  private def batchTopK(corpus: DataFrame, scoreExpr: Column,
      idCol: String, probeCellPairs: DataFrame, probeIdCol: String,
      k: Int): DataFrame = {
    val topk = udaf(new Sketches.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(java.lang.Double, java.lang.Long)]())
    corpus
      .join(broadcast(probeCellPairs), col("cell") === col("_ann_cell"))
      .withColumn("_ann_score", scoreExpr)
      .groupBy(col("_ann_pid"))
      .agg(topk(col("_ann_score"), col(idCol)).as("_ann_top"))
      .select(col("_ann_pid").as(probeIdCol),
        posexplode(col("_ann_top")).as(Seq("_ann_r0", "_ann_p")))
      .select(col(probeIdCol), (col("_ann_r0") + 1).cast("long").as("rank"),
        col("_ann_p._2").as(idCol), col("_ann_p._1").as("score"))
  }

  /** The one cell ranker: the `nprobe` cells whose centroids are most
    * cosine-similar to the query (ties to the smaller cell id), ranked
    * through the SAME clamped cosine expression the scans score with and
    * [[ivfAssign]] assigns with — ranking, assignment and scoring can
    * never disagree on arithmetic. [[batchProbeCells]] is its per-probe
    * form for query batches.
    */
  private def probeCells(seeds: DataFrame, seedIdCol: String,
      seedVecCol: String, query: Array[Float], nprobe: Int): Seq[Long] =
    seeds
      .withColumn("_mp_s", vectors.cosineSimilarity(col(seedVecCol), lit(query)))
      .orderBy(col("_mp_s").desc, col(seedIdCol))
      .limit(nprobe)
      .select(col(seedIdCol).cast("long"))
      .collect().map(_.getLong(0)).toIndexedSeq
}
