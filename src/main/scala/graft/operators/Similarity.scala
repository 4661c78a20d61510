package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DriverRows
import org.apache.spark.sql.types._

import graft.functions.{CosineSimilarity, vectors}

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
    * Cells rank on the driver ([[probeCells]]) with the arithmetic the
    * scan's cosine expression runs, so ranking and scoring can never
    * disagree.
    */
  def ivfMultiProbeSearch(assigned: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      query: Array[Float], nprobe: Int, k: Int): DataFrame =
    probeSearch(assigned, idCol, seeds, seedIdCol, seedVecCol, query,
      nprobe, k, vectors.cosineSimilarity(col(vecCol), lit(query)))

  /** [[ivfMultiProbeSearch]] over int8-quantized storage: the input
    * carries (codes, scale, cell) instead of a float vector column
    * ([[ScalarQuant.quantize]]'s output, the on-disk layout of a
    * [[graft.store.IvfIndex.buildQuantized]] index), cells rank exactly
    * as the float search's, and candidates score on dequantized codes with
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
    * codes, or PQ ADC ([[graft.store.IvfIndex.search]] on a
    * [[graft.store.IvfIndex.buildPq]] index). Every face
    * that ranks cells for one query, on-disk ones included, probes
    * through here, so no two faces can pick different cells for it.
    */
  private[graft] def probeSearch(corpus: DataFrame, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      query: Array[Float], nprobe: Int, k: Int, score: Column): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    cellTopK(corpus, idCol,
      probeCells(seeds, seedIdCol, seedVecCol, Seq(query), nprobe).head, score, k)
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
    * row — the serving shape for query BATCHES, where the single-probe
    * faces ([[ivfSearch]]/[[ivfMultiProbeSearch]], whose probe is a
    * driver-side literal) would run one scan per query.
    *
    * The probes are query-sized by contract and collect to the driver;
    * [[probeCells]] ranks each probe's cells there (the codebook
    * collects once for the whole batch), and one map-only pass over the
    * corpus under `cell IN` the union of the probed cells — static
    * partition pruning on a cell-partitioned layout — keeps one
    * top-k heap per probe id ([[batchTopK]]). The driver merges the
    * task heaps: REPOSE's local-prune, global-merge top-k, with at most
    * tasks × probes × k rows crossing the wire and no exchange.
    * nprobe = |cells| degenerates to exact brute force — which makes
    * recall@k evaluation (v16) a two-call comparison through identical
    * arithmetic.
    *
    * Job count: the probe collect (none for a local frame), the
    * codebook collect and the heap scan. The result holds the rows
    * (collecting it runs no job); its plan shows the pruned scan.
    *
    * Output: (probeIdCol, rank, idCol, score), rank 1..k per probe by
    * (score DESC, id ASC); ids read as long.
    */
  def ivfSearchBatch(assigned: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    batchTopK(assigned, col(vecCol), idCol, seeds, seedIdCol, seedVecCol,
      probes, probeIdCol, probeVecCol, nprobe, k)
  }

  /** [[ivfSearchBatch]] over int8-quantized storage: the corpus side
    * carries (codes, scale, cell) — [[ScalarQuant.quantize]]'s output,
    * [[graft.store.IvfIndex.buildQuantized]]'s on-disk layout — so the
    * batch's scan reads ~4× fewer bytes per probed cell, and candidates
    * score on dequantized codes ([[ScalarQuant.scoringVec]], projected
    * in the scan) with v11/v13's exact arithmetic. Same cell ranker,
    * heap scan and job count as the float batch; only the scanned
    * vector differs. [[graft.store.IvfIndex.searchBatch]] on an int8
    * index is its on-disk face.
    */
  def ivfSearchBatchQuantized(quantized: DataFrame, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    require(nprobe >= 1 && k >= 1, s"nprobe=$nprobe k=$k must be positive")
    batchTopK(quantized, ScalarQuant.scoringVec, idCol, seeds, seedIdCol,
      seedVecCol, probes, probeIdCol, probeVecCol, nprobe, k)
  }

  /** The shared tail of both batch faces, scanning (cell, id, `vec`).
    * A probe with a null vector returns no rows; probe rows sharing an
    * id share one top-k over all their candidates. An empty probe frame
    * runs no codebook or scan job.
    */
  private def batchTopK(corpus: DataFrame, vec: Column, idCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      probes: DataFrame, probeIdCol: String, probeVecCol: String,
      nprobe: Int, k: Int): DataFrame = {
    val probeFrame = probes.select(col(probeIdCol),
      col(probeVecCol).cast(ArrayType(FloatType)))
    val live = probeFrame.collect().filterNot(_.isNullAt(1))
    val ids = live.map(_.get(0)).distinct
    val slotOf = ids.zipWithIndex.toMap
    val vecs = live.map(_.getSeq[Float](1).toArray)
    val cells = probeCells(seeds, seedIdCol, seedVecCol, vecs.toSeq, nprobe)
    val byCell = live.indices
      .flatMap(i => cells(i).map(c => c -> ((slotOf(live(i).get(0)), vecs(i)))))
      .groupMap(_._1)(_._2).map { case (c, ps) => c -> ps.toArray }
    val scan = corpus
      .filter(col("cell").isin(byCell.keys.toSeq.sorted: _*))
      .select(col("cell").cast(LongType), col(idCol).cast(LongType),
        vec.cast(ArrayType(FloatType)))
    val heaps =
      if (byCell.isEmpty) Array.empty[Seq[(Double, Long)]]
      else heapScan(scan, byCell, ids.length, k)
    val schema = StructType(Seq(
      probeFrame.schema.head.copy(name = probeIdCol),
      StructField("rank", LongType, nullable = false),
      StructField(idCol, LongType), StructField("score", DoubleType)))
    DriverRows.frame(scan, schema, heaps.toSeq.zipWithIndex.flatMap {
      case (heap, s) => heap.zipWithIndex.map { case ((score, id), r) =>
        Row(ids(s), r + 1L, id, score) }
    })
  }

  /** The one pass of a batch search: a map-only job over `scan`'s
    * (cell, id, vector) rows that scores each row against the probes of
    * its cell with [[CosineSimilarity.cosine]] (corpus first, probe
    * second — the expression's argument order) and folds the scores
    * into one [[Sketches.TopKByScore]] heap per probe slot with the
    * aggregator's own `reduce` (null skipped, NaN refused, duplicates
    * merged). The driver merges the task heaps with its `merge`.
    */
  private def heapScan(scan: DataFrame,
      byCell: Map[Long, Array[(Int, Array[Float])]], nSlots: Int,
      k: Int): Array[Seq[(Double, Long)]] = {
    val agg = new Sketches.TopKByScore(k)
    scan.queryExecution.toRdd.mapPartitions { it =>
      val probesOf = byCell.map { case (c, ps) =>
        c -> ps.map { case (s, v) => (s, UnsafeArrayData.fromPrimitiveArray(v)) }
      }
      val heaps = Array.fill(nSlots)(agg.zero)
      it.foreach { r =>
        if (!r.isNullAt(2)) probesOf.get(r.getLong(0)).foreach { ps =>
          val v = r.getArray(2)
          val id = if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
          ps.foreach { case (s, p) =>
            heaps(s) = agg.reduce(heaps(s),
              (java.lang.Double.valueOf(CosineSimilarity.cosine(v, p)), id))
          }
        }
      }
      Iterator.single(heaps)
    }.collect().foldLeft(Array.fill(nSlots)(agg.zero))((a, b) =>
      a.zip(b).map { case (x, y) => agg.merge(x, y) })
  }

  /** The one cell ranker of every IVF face, solo and batch: the `nprobe`
    * cells whose centroids are most cosine-similar to each query, as
    * the cell ids of each. The codebook collects once per call (one
    * job, none for a local frame) and ranks on the driver with
    * [[CosineSimilarity.cosine]] (seed first, query second), the
    * clamped arithmetic the scans score with and [[ivfAssign]] assigns
    * with — ranking, assignment and scoring can never disagree. Order
    * is (score DESC, cell ASC) compared as Spark sorts doubles (NaN
    * greatest); a seed with a null vector ranks last, as a null score
    * sorts last descending.
    */
  private[graft] def probeCells(seeds: DataFrame, seedIdCol: String,
      seedVecCol: String, queries: Seq[Array[Float]],
      nprobe: Int): Seq[Seq[Long]] = {
    lazy val codebook = seeds // no queries, no job
      .select(col(seedIdCol).cast(LongType), col(seedVecCol).cast(ArrayType(FloatType)))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None
        else Some(UnsafeArrayData.fromPrimitiveArray(r.getSeq[Float](1).toArray))))
    queries.map { q =>
      val qv = UnsafeArrayData.fromPrimitiveArray(q)
      codebook
        .map { case (cell, v) => (v.map(CosineSimilarity.cosine(_, qv)), cell) }
        .sorted(Ordering.Tuple2(CellScoreOrder, Ordering.Long))
        .take(nprobe).map(_._2).toSeq
    }
  }

  /** Descending score, as Spark sorts doubles, nulls last. */
  private val CellScoreOrder: Ordering[Option[Double]] = {
    case (Some(x), Some(y)) => SQLOrderingUtil.compareDoubles(y, x)
    case (x, y) => java.lang.Boolean.compare(x.isEmpty, y.isEmpty)
  }
}
