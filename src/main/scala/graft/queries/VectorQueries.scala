package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.vectors
import graft.operators.Similarity

/** Similarity-search queries over the `embeddings` table (SURVEY.md Q3/Q4
  * re-expressed; ANN scale paths beyond the reference).
  *
  * Determinism notes: cosine/dot accumulate left-to-right in double
  * precision (see [[graft.functions.CosineSimilarity]]), which matches
  * DuckDB's `list_cosine_similarity`/`list_inner_product` over `DOUBLE[]`
  * bit-for-bit, so raw scores are oracle-comparable without rounding.
  * All top-k and argmax steps break ties on vector id.
  */
object VectorQueries {

  /** The probe vector is a driver-side lookup (one tiny action), then a
    * broadcast literal in the scan — the same shape a parameterized query
    * service would produce.
    */
  private def probeVec(s: SparkSession, d: String, id: Long): Array[Float] =
    Tables.embeddings(s, d).filter(col("vec_id") === id)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  private def seedPlanes(s: SparkSession, d: String, n: Int): Seq[Array[Float]] =
    Tables.embeddings(s, d).filter(col("vec_id") < n)
      .orderBy(col("vec_id")).collect()
      .map(_.getSeq[Float](1).toArray).toSeq

  private val JlIn = 64 // v29 input dimensionality (the table's)
  private val JlOut = 16 // v29 projected dimensionality (4x reduction)

  /** v32's rank-discount table, micro-quantized ON THE DRIVER (the
    * BM25 inlined-literal rule: log2 never crosses an engine — both
    * sides receive these integers): disc(r) = ⌊1e6 / log2(r+1)⌋.
    */
  private val NdcgDisc: Map[Int, Long] = (1 to 10).map(r =>
    r -> math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong).toMap

  /** Ideal cumulative DCG at each k for relevance grades (10, 9, …, 1)
    * — the exact arm's top-10 re-ranked perfectly.
    */
  private val NdcgIdeal: Map[Int, Long] = (1 to 10).map(k =>
    k -> (1 to k).map(i => (11L - i) * NdcgDisc(i)).sum).toMap

  /** v29's ±1 sign matrix (Achlioptas's database-friendly JL variant —
    * "Database-friendly random projections", PODS 2001): entries are a
    * pure md5 parity of the cell coordinates, so BOTH engines receive
    * the identical matrix as literals and no RNG state exists anywhere.
    */
  private lazy val JlSigns: IndexedSeq[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until JlOut).map { j =>
      Array.tabulate(JlIn) { i =>
        val h = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0f else -1.0f
      }
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact brute-force kNN -> TakeOrderedAndProject (per-partition heap).
    "v01_knn_exact" -> { (s, d) =>
      Similarity.knn(Tables.embeddings(s, d), "vec_id", "embedding",
        probeVec(s, d, 0L), k = 10)
    },

    // Top-3 corpus neighbors for each of 5 probe vectors (broadcast join).
    "v02_similarity_join" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      Similarity.similarityJoin(
        probes = e.filter(col("vec_id") < 5),
        corpus = e.filter(col("vec_id") >= 5),
        idCol = "vec_id", vecCol = "embedding", k = 3)
        .orderBy(col("probe_id"), col("rank"))
    },

    // LSH-bucketed near-duplicate pairs: shuffle on bucket id, score only
    // same-bucket pairs (the O(n²) -> O(sum n_b²) scale path).
    "v03_near_dup_lsh" -> { (s, d) =>
      Similarity.nearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        seedPlanes(s, d, 8), threshold = 0.3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Per-label centroids: array aggregation via posexplode + exact
    // fixed-point sums (order-insensitive, oracle-stable). Components
    // are floor-quantized to 1e-9 BEFORE summing: floor(x*1e9) is the
    // same IEEE multiply + floor in every engine, unlike a decimal cast,
    // whose round-half ties engines break differently (Spark HALF_UP vs
    // DuckDB half-even — observed on the exact-binary float
    // 0.1494140625 at sf0.1).
    "v04_label_centroids" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("label"), (col("pos") + 1).cast("long").as("pos"))
        .agg((sum(floor(col("x").cast("double") * lit(1e9))).cast("double")
          / count(lit(1)) / lit(1e9)).as("centroid"))
        .orderBy(col("label"), col("pos"))
    },

    // The SQL surface end-to-end: the native cosine expression invoked
    // by NAME from SQL text (GraftExtensions registration) over a temp
    // view, with a scalar subquery for the probe vector. Same plan as
    // the Column-API form — registration must not change semantics.
    "v06_sql_surface" -> { (s, d) =>
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("embeddings_v")
      s.sql(
        """SELECT vec_id,
          | cosine_similarity(embedding,
          |   (SELECT embedding FROM embeddings_v WHERE vec_id = 3)) AS score
          |FROM embeddings_v ORDER BY score DESC, vec_id LIMIT 8""".stripMargin)
    },

    // Maximal-marginal-relevance: greedy diversity-aware top-4 (first
    // pick = pure relevance; each next pick trades relevance against
    // max similarity to the already-picked set, lambda = 0.5). k driver
    // rounds of one-pass + top-1; the oracle UNROLLS the same greedy
    // selection as four chained argmax CTEs.
    "v07_mmr" -> { (s, d) =>
      Similarity.mmr(Tables.embeddings(s, d), "vec_id", "embedding",
        probeVec(s, d, 0L), k = 4, lambda = 0.5)
        .select(col("rank"), col("id").as("vec_id"), col("qsim"), col("mmr"))
        .orderBy(col("rank"))
    },

    // One Lloyd k-means step (the unit [[graft.operators.KMeans.lloyd]]
    // iterates): assign every vector to its max-cosine seed (row-local
    // broadcast-codebook argmax, v05's shape), then the per-(cluster,dim)
    // fixed-point mean (v04's shape) plus member counts. Multi-iteration
    // convergence is KMeansSpec's; this row pins the step's arithmetic
    // against the oracle.
    "v08_kmeans_step" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("cell").as("cluster"),
          posexplode(col("embedding")).as(Seq("pos0", "x")))
        .groupBy(col("cluster"), (col("pos0") + 1).cast("long").as("pos"))
        .agg(count(lit(1)).as("n_members"),
          (sum(floor(col("x").cast("double") * lit(1e9))).cast("double")
            / count(lit(1)) / lit(1e9)).as("centroid"))
        .select(col("cluster"), col("pos"), col("centroid"), col("n_members"))
        .orderBy(col("cluster"), col("pos"))
    },

    // SemDeDup-style semantic dedup ([[graft.operators.SemanticDedup]]):
    // one-step Lloyd codebook (v08's arithmetic) → cell assignment with
    // the REFINED centroids (v05's shape) → within-cell cosine pairs
    // (v03's bucket-join shape, keyed by cell). The oracle unrolls the
    // same composition: seeds = 8 smallest-id vectors, one fixed-point
    // mean update rounded to float32 (matching lloyd's .toFloat), argmax
    // re-assignment, pair join. Within-cell-only is the contract — a
    // cross-cell near-dup pair is deliberately absent from both sides.
    "v09_semantic_dedup" -> { (s, d) =>
      graft.operators.SemanticDedup.semanticDupPairs(
        Tables.embeddings(s, d), "vec_id", "embedding",
        k = 8, iters = 1, threshold = 0.4)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Int8 scalar quantization ([[graft.operators.ScalarQuant]]): the
    // embedding-storage compression path, oracle-pinned per COMPONENT —
    // the query explodes (code, reconstruction error) to scalar rows so
    // every quantized value and its error bound is hash-compared, not
    // just an aggregate. Pure row-local projection (PlanSpec pins
    // no-shuffle).
    "v10_int8_quantize" -> { (s, d) =>
      graft.operators.ScalarQuant.quantize(Tables.embeddings(s, d), "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode(arrays_zip(col("codes"), col("embedding")))
            .as(Seq("pos0", "z")))
        .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("scale"), col("z.codes").cast("long").as("code"),
          abs(col("z.codes").cast("double") * col("scale")
            - col("z.embedding").cast("double")).as("recon_err"))
        .orderBy(col("vec_id"), col("pos"))
    },

    // Two-stage quantized ANN ([[Similarity.knnQuantizedRescore]]):
    // coarse top-50 on int8-dequantized cosine, exact float rescore to
    // top-10 — v10's storage compression driving an actual search. The
    // oracle replays both stages (dequantize → coarse rank → rescore
    // rank) with the same float32 rounding and id tie-breaks.
    "v11_quantized_knn" -> { (s, d) =>
      Similarity.knnQuantizedRescore(Tables.embeddings(s, d), "vec_id",
        "embedding", probeVec(s, d, 0L), k = 10, candidates = 50)
    },

    // Binary-signature two-stage search ([[graft.operators.BinaryQuant]]):
    // v11's coarse/rescore shape at the 1-bit point of the compression
    // curve — sign bits packed 32 per word, Hamming (popcount of XOR)
    // coarse ranking, exact cosine rescore. The oracle re-derives the
    // packing, the distance, and both ranked stages declaratively, so
    // the whole bit-level layout is cross-engine pinned.
    "v15_binary_knn" -> { (s, d) =>
      graft.operators.BinaryQuant.knnRescore(Tables.embeddings(s, d),
        "vec_id", "embedding", probeVec(s, d, 42L), k = 10, candidates = 50)
    },

    // Multi-probe IVF ([[Similarity.ivfMultiProbeSearch]]): v05 scans
    // one cell; this ranks the codebook by probe-to-centroid cosine and
    // scans the top-2 cells' union — the recall lever, oracle-pinned so
    // the cell ranking's tie-breaks and the union top-k are exact, not
    // just "more cells = more recall" hand-waving.
    "v12_ivf_multiprobe" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("embedding"), col("cell"))
      Similarity.ivfMultiProbeSearch(assigned, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec", probeVec(s, d, 42L), nprobe = 2, k = 5)
    },

    // Quantized multi-probe IVF ([[Similarity.ivfQuantizedSearch]]):
    // v12's cell ranking over v10's int8 storage — the operator behind
    // the on-disk [[graft.store.IvfIndex.buildQuantized]] layout
    // (IvfIndex.search delegates here on an int8 index). Scores on
    // dequantized codes (v11 arithmetic), so the ~4×-cheaper probe
    // stays oracle-exact.
    "v13_ivfq_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val quantized = graft.operators.ScalarQuant.quantize(
        Similarity.ivfAssign(e, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec")
          .select(col("vec_id"), col("embedding"), col("cell")),
        "embedding").drop("embedding")
      Similarity.ivfQuantizedSearch(quantized, "vec_id",
        seeds, "seed_id", "seed_vec", probeVec(s, d, 42L), nprobe = 2, k = 5)
    },

    // Semantic train/eval decontamination
    // ([[graft.operators.SemanticDedup.crossSemanticLeaks]]) — the
    // embedding-space half of the d37 leak sweep: flag every train
    // vector whose cosine against ANY eval vector (vec_id % 50 = 0,
    // d30's split) clears the threshold, with the worst-offending eval
    // doc as the decision record. Eval side broadcasts; the train
    // corpus never shuffles (PlanSpec-pinned). 0.35 bites on this
    // corpus: 24 of 490 train vectors flag at sf0.01, none at 0.5.
    "v14_semantic_decontaminate" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      graft.operators.SemanticDedup.crossSemanticLeaks(
        train = e.filter(col("vec_id") % 50 =!= 0),
        eval = e.filter(col("vec_id") % 50 === 0),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.35)
        .orderBy(col("train_id"))
    },

    // HOT-CELL SPLIT REBALANCE — the declarative semantics behind
    // [[graft.store.IvfIndex.splitCell]], under the oracle: the v18
    // balance profile names the hottest cell (count DESC, cell ASC),
    // COLD-CELL MERGE PROFILE — v26's inverse and the other half of
    // the [[graft.store.IvfIndex]] capacity pair ([[IvfIndex
    // .mergeCells]]'s declarative, SQL-provable face): the two
    // lowest-occupancy cells (ties to the smaller id) retire into one
    // new cell at the next free id, every other cell's count passes
    // through untouched, and the output is the post-merge balance
    // profile a capacity planner reads to confirm the probe fan-out
    // actually shrank. Scale shape: one broadcast-codebook argmax
    // projection, one codebook-sized count aggregate, the coldest
    // pick collected driver-side (codebook pattern), and a row-local
    // CASE relabel — the merge itself never shuffles the corpus.
    "v28_merge_rebalance" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("cell"))
      val cold = assigned.groupBy(col("cell")).count()
        .orderBy(col("count"), col("cell")).limit(2)
        .collect().map(_.getLong(0)).sorted
      assigned
        .withColumn("cell",
          when(col("cell").isin(cold(0), cold(1)), lit(8L))
            .otherwise(col("cell")))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"))
    },

    // HARD-NEGATIVE MINING — the contrastive-training data op: for
    // every vector, the most-similar vector carrying a DIFFERENT
    // label (the negative an embedding trainer most needs to see;
    // easy random negatives teach nothing). All-pairs argmax is the
    // naive form; here candidates come from v03's LSH buckets — the
    // shuffle is on bucket id, candidate pairs are O(Σ bucket²), and
    // a vector whose bucket holds no cross-label mate simply has no
    // row (at 6 planes / 64 buckets every sf0.01 vector finds one;
    // the miss path is fixture-independent because both arms share
    // the bucket semantics). The per-vector argmax is a struct MAX
    // (score DESC, then smaller neg id via negation) — a map-side
    // mergeable aggregate, never a rank window over the pair frame.
    "v30_hard_negatives" -> { (s, d) =>
      val b = Similarity.lshBuckets(Tables.embeddings(s, d), "embedding",
        seedPlanes(s, d, 6))
      val a = b.select(col("bucket"), col("vec_id"), col("label"),
        col("embedding").as("av"))
      val c = b.select(col("bucket").as("bb"), col("vec_id").as("nid"),
        col("label").as("nl"), col("embedding").as("nv"))
      a.join(c, col("bucket") === col("bb") && col("label") =!= col("nl"))
        .withColumn("score", vectors.cosineSimilarity(col("av"), col("nv")))
        .groupBy(col("vec_id"), col("label"))
        .agg(max(struct(col("score"), (-col("nid")).as("neg"),
          col("nid").as("pos"), col("nl"))).as("t"))
        .select(col("vec_id"), col("label"),
          col("t.pos").as("neg_id"), col("t.nl").as("neg_label"),
          col("t.score").as("score"))
        .orderBy(col("vec_id"))
    },

    // EMBEDDING-SPACE DRIFT MONITOR — q41's column-drift discipline
    // lifted to the vector table: per DIMENSION, the mean shift
    // between two corpus slices (even/odd vec_id halves stand in for
    // yesterday/today), the signal that catches a silent embedder
    // upgrade or a domain shift BEFORE it degrades every ANN index
    // built on the space (cells trained on yesterday's distribution
    // prune badly against today's). Components quantize to micro
    // units AT THE ROW (floor(double(x)·1e6) — the d40 rule: floats
    // widen exactly to double and both engines floor the same IEEE
    // product, so every downstream sum is exact integer arithmetic).
    // Shape: one scan, posexplode to (dim, slice) cells — 64 rows per
    // vector, collapsed map-side to ≤ 128 partial cells per task, so
    // the exchange carries cells, never components; output is the
    // 64-row dimension catalog. No window, no join.
    "v31_embedding_drift" -> { (s, d) =>
      Tables.embeddings(s, d)
        .select((col("vec_id") % 2).as("slice"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("slice"), col("dim"),
          floor(col("v").cast("double") * lit(1000000.0)).cast("long")
            .as("q"))
        .groupBy(col("dim"))
        .agg(
          sum(when(col("slice") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("slice") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("slice") === 0, col("q")).otherwise(0L)).as("sa"),
          sum(when(col("slice") === 1, col("q")).otherwise(0L)).as("sb"))
        .select(col("dim").cast("long").as("dim"), col("n_a"), col("n_b"),
          // Negative sums occur (34 of 64 dims at sf0.01) and BOTH
          // engines' integer division truncates toward zero (Spark
          // `div` ≡ DuckDB integer `//`; DuckDB floors only for
          // doubles) — verified, not assumed, since the two diverge
          // exactly on negative-with-remainder inputs.
          expr("sa div n_a").as("mean_a_micro"),
          expr("sb div n_b").as("mean_b_micro"),
          abs(expr("sa div n_a") - expr("sb div n_b")).as("shift_micro"))
        .orderBy(col("dim"))
    },

    // JOHNSON–LINDENSTRAUSS RECALL FACE — dimensionality reduction as
    // a first-class index structure: project 64-d embeddings to 16-d
    // through the deterministic ±1 sign matrix ([[JlSigns]] —
    // Achlioptas's variant, which needs no Gaussian sampling and keeps
    // every arithmetic step a float-exact ±add), search in the reduced
    // space, and score recall@5 against the exact arm (v16's pattern —
    // the calibration row a serving team reads before turning the
    // reduction on). The projection is a pure SCAN PROJECTION of 16
    // codegen'd dot products — no shuffle, no UDF; at 100 TB it cuts
    // every downstream byte 4× and is where an LSH bucketer would hang
    // (the reduced vectors, not the originals, get bucketed). Brute
    // in-reduced-space search stands in as the baseline arm here, same
    // as v01 does for the float path. Cosine over float-cast
    // projections keeps both engines on the proven float→double
    // widening path; ranking ties break on vec_id in both arms.
    "v29_jl_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val projCols = (0 until JlOut).map { j =>
        vectors.dotProduct(col("embedding"), typedLit(JlSigns(j)))
          .as(s"p$j")
      }
      val proj = e.select(col("vec_id") +: projCols: _*)
        .select(col("vec_id"),
          array((0 until JlOut).map(j => col(s"p$j")): _*)
            .cast("array<float>").as("pv"))
      def isProbe = col("vec_id") % 100 === 0 && col("vec_id") < 500
      val approx = Similarity.similarityJoin(
          proj.filter(isProbe), proj, "vec_id", "pv", k = 5)
        .select(col("probe_id"), col("neighbor_id"))
        .withColumn("_hit", lit(1L))
      Similarity.similarityJoin(
          e.filter(isProbe), e, "vec_id", "embedding", k = 5)
        // probes×5 rows — without the hint the static planner SMJs two
        // post-window frames it can't size.
        .join(broadcast(approx), Seq("probe_id", "neighbor_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
        .select(col("probe_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy(col("probe_id"))
    },

    // RESIDUAL-PQ ADC ([[graft.operators.ProductQuantizer
    // .adcResidualScoreCol]]) — the encoding production IVF-PQ
    // actually ships (Jégou et al. 2011): codes quantize v −
    // centroid(cell), not v, so the codebook's 4 codewords describe
    // within-cell displacement instead of re-describing the coarse
    // structure v23's raw-PQ codes waste resolution on; score = the
    // baked q·centroid term + the residual ADC chain, left-assoc
    // from the coarse term. Determinism protocol: coarse codebook =
    // the 4 smallest-id vectors, PQ codewords = the residuals of the
    // first 4 NON-seed vectors (seed self-residuals are zero —
    // degenerate), residual subtraction in FLOAT on both engines
    // (IEEE-exact), every dot in left-to-right double. The residual
    // column is NAMED before the 16 per-codeword probes fan out (the
    // d79 materialization rule). Scale shape: two broadcast-codebook
    // argmax projections + one top-k heap over the codes column —
    // the original vectors are read once to encode, never at search.
    "v27_residual_adc" -> { (s, d) =>
      import graft.operators.ProductQuantizer
      val e = Tables.embeddings(s, d)
      val coarse = seedPlanes(s, d, 4).toArray
      val q = probeVec(s, d, 0L)
      def dotD(a: Array[Float], b: Array[Float]): Double = {
        var sum = 0.0
        var i = 0
        while (i < a.length) { sum += a(i).toDouble * b(i).toDouble; i += 1 }
        sum
      }
      def resOf(v: Array[Float]): Array[Float] = {
        val ds = coarse.map(dotD(v, _))
        val cell = ds.indexOf(ds.max) // first max = array_position's tie
        Array.tabulate(v.length)(i => v(i) - coarse(cell)(i))
      }
      val init = seedPlanes(s, d, 8).toArray.drop(4).map(resOf)
      val bd = coarse.head.length / 4
      val cb = ProductQuantizer.Codebooks(4, bd,
        Array.tabulate(4, 4)((b, c) => init(c).slice(b * bd, (b + 1) * bd)))
      val dots = array(coarse.toIndexedSeq.map(sv =>
        vectors.dotProduct(col("embedding"), lit(sv))): _*)
      val assigned = e.select(col("vec_id"), col("embedding"),
        (array_position(dots, array_max(dots)) - 1).cast("int").as("cell"))
      val withRes = assigned.select(col("vec_id"), col("cell"),
        ProductQuantizer.residualCol(col("embedding"), col("cell"), coarse)
          .as("rv"))
      val encoded = withRes.select(col("vec_id"), col("cell"),
        ProductQuantizer.codesCol(col("rv"), cb).as("codes"))
      encoded
        .withColumn("score", ProductQuantizer.adcResidualScoreCol(
          col("cell"), col("codes"), cb, coarse, q))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("score"))
    },

    // two sub-seeds initialize deterministically from the cell's two
    // smallest ids ([[graft.store.IvfIndex.trainSeeds]]' init, iters
    // = 0 so the oracle replays it exactly — refinement is v08's
    // pinned territory), and ONLY that cell's members reassign; every
    // other cell's count passes through untouched. The output is the
    // post-split profile — the row a capacity planner reads to
    // confirm the hot cell actually divided (70 → 60 + 10 at
    // sf0.01). Scale shape: both assignments are broadcast-codebook
    // argmax projections, the profile is a codebook-sized aggregate,
    // and the split touches one cell's rows — the splitCell claim,
    // provable in SQL.
    "v26_split_rebalance" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val hot = assigned.groupBy(col("cell")).count()
        .orderBy(col("count").desc, col("cell")).head().getLong(0)
      val hotRows = assigned.filter(col("cell") === hot)
      val sub = hotRows.orderBy(col("vec_id")).limit(2).collect()
        .zipWithIndex.map { case (r, i) =>
          (8L + i, r.getSeq[Float](1))
        }.toSeq
      import s.implicits._
      val subDf = sub.toDF("cell_id", "seed_vec")
      assigned.filter(col("cell") =!= hot)
        .select(col("cell"), col("vec_id"))
        .unionByName(Similarity.ivfAssign(hotRows.drop("cell"),
          "vec_id", "embedding", subDf, "cell_id", "seed_vec")
          .select(col("cell"), col("vec_id")))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"))
    },

    // IVF-BLOCKED SEMANTIC DECONTAMINATION — v14 at the scale where
    // the eval side STOPS being broadcastable (a full benchmark
    // suite's embedding set, the d64-bloom argument in vector space):
    // both sides assign to the same frozen 8-seed codebook
    // (broadcast argmax, no shuffle), and candidates form only WITHIN
    // a cell — a plain cell-keyed equi join, co-partitioned when
    // `cell` is both tables' partition key, so the cross product
    // never happens. The exact arm (v14's pinned broadcast machinery)
    // runs alongside and every exact leak row carries the audit: did
    // the blocked pass recover the same best pair? pruned_hit = false
    // rows are the recall the cell blocking trades away (it bites at
    // sf0.01 — leaks near cell boundaries cross cells), exactly the
    // number an operator of this shape must SURFACE, not bury. The
    // blocked best-pair pick is a struct-max aggregate (score DESC,
    // eval_id ASC), never a per-train window.
    "v25_ivf_decontaminate" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      def assigned(part: DataFrame) =
        Similarity.ivfAssign(part, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec")
          .select(col("vec_id"), col("embedding"), col("cell"))
      val train = assigned(e.filter(col("vec_id") % 50 =!= 0))
        .select(col("vec_id").as("train_id"),
          col("embedding").as("tv"), col("cell"))
      val eval_ = assigned(e.filter(col("vec_id") % 50 === 0))
        .select(col("vec_id").as("p_eval_id"),
          col("embedding").as("ev"), col("cell"))
      val pruned = train.join(eval_, "cell")
        .withColumn("p_score",
          vectors.cosineSimilarity(col("tv"), col("ev")))
        .filter(col("p_score") >= 0.35)
        .groupBy(col("train_id"))
        .agg(max(struct(col("p_score"),
          (-col("p_eval_id")).as("_neg"), col("p_eval_id"))).as("b"))
        .select(col("train_id"), col("b.p_eval_id").as("pruned_eval_id"))
      graft.operators.SemanticDedup.crossSemanticLeaks(
        train = e.filter(col("vec_id") % 50 =!= 0),
        eval = e.filter(col("vec_id") % 50 === 0),
        idCol = "vec_id", vecCol = "embedding", threshold = 0.35)
        .join(pruned, Seq("train_id"), "left")
        .select(col("train_id"), col("eval_id"), col("score"),
          coalesce(col("pruned_eval_id") === col("eval_id"), lit(false))
            .as("pruned_hit"))
        .orderBy(col("train_id"))
    },

    // IVF ANN: assign all vectors to nearest of 8 seed centroids (shuffle-
    // free argmax projection), then search only the probe's cell. The probe
    // row is a driver-side point lookup (tiny action); the search itself is
    // one scan with the cell filter pushed down — at cluster scale `cell`
    // is the table's partition column and this prunes all but one cell.
    "v05_ivf_search" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val probe = assigned.filter(col("vec_id") === 42)
        .select(col("cell"), col("embedding")).head()
      Similarity.ivfSearch(assigned, "vec_id", "embedding",
        probe.getSeq[Float](1).toArray, probe.getLong(0), k = 5)
    },

    // Recall@k evaluation of the IVF index — THE tuning query for the
    // nprobe/recall trade every ANN deployment runs before serving:
    // both arms go through [[Similarity.ivfSearchBatch]] (the batch
    // serving shape: each probe's cells ranked on the driver against
    // the collected codebook, one map-only scan of the probed cells
    // keeping a per-probe q24 top-k heap, the heaps merged on the
    // driver — no exchange), with nprobe=1 as
    // the approximate arm and nprobe=8 — every cell — degenerating to
    // exact brute force through IDENTICAL arithmetic. Recall is then
    // pure set arithmetic per probe, and the oracle replays both arms
    // declaratively.
    "v16_ann_recall" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = Similarity.ivfAssign(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val probes = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 500)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      def arm(np: Int) = Similarity.ivfSearchBatch(
        assigned, "vec_id", "embedding", seeds, "seed_id", "seed_vec",
        probes, "probe_id", "embedding", nprobe = np, k = 5)
      val approx = arm(1).select(col("probe_id"), col("vec_id"))
        .withColumn("_hit", lit(1L))
      arm(8)
        .join(approx, Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
        .select(col("probe_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy(col("probe_id"))
    },

    // The quantized BATCH face ([[Similarity.ivfSearchBatchQuantized]])
    // — v13's int8 serving configuration answering a probe FRAME per
    // pass: the coarse scan reads codes+scale (~4× fewer bytes per
    // probed cell), candidates score on dequantized codes with v11's
    // exact arithmetic, and the per-probe top-k is the same driver cell
    // ranker and map-only heap scan as v16's float arms. At 100 TB this
    // is THE serving shape: quantized storage × batch probes × cell
    // pruning, in one pass over the probed cells.
    "v17_ivfq_batch" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val quantized = graft.operators.ScalarQuant.quantize(
        Similarity.ivfAssign(e, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec")
          .select(col("vec_id"), col("embedding"), col("cell")),
        "embedding").drop("embedding")
      val probes = e.filter(col("vec_id") % 100 === 0 && col("vec_id") < 500)
        .select(col("vec_id").as("probe_id"), col("embedding"))
      Similarity.ivfSearchBatchQuantized(quantized, "vec_id",
        seeds, "seed_id", "seed_vec", probes, "probe_id", "embedding",
        nprobe = 2, k = 5)
        .orderBy(col("probe_id"), col("rank"))
    },

    // IVF index HEALTH profile — the maintenance query every ANN
    // deployment runs before trusting its partition-pruning story:
    // per-cell population, corpus share, and balance (population ÷
    // perfectly-even size; 1.0 = even, ≫1 = a hot cell that turns
    // pruned probes into stragglers and is the signal to re-train
    // codebooks, v08's job). Assignment is the broadcast-codebook
    // argmax (no corpus shuffle); the histogram is one cell-keyed
    // aggregate to a codebook-sized frame; the totals row broadcasts
    // back (q37's bounds pattern) — nothing here scans the corpus
    // twice or shuffles it at all.
    // METADATA-FILTERED kNN — the "vectors + WHERE clause" query every
    // vector store eventually needs, in its two canonical strategies
    // side by side: PRE-filter (predicate pushed into the scan, exact
    // top-k over the surviving rows — right when the filter is
    // selective, and the only strategy that can't under-return) and
    // POST-filter (unfiltered top-3k over-fetch, filter, top-k — the
    // ANN-index-friendly shape, which keeps only what survives). Both
    // arms are replayed by the oracle; rank_pre is the contract, the
    // post arm's n_post ≤ k rows witness the under-return risk the
    // over-fetch factor tunes against (at sf0.01, label 3 ≈ 1/8 of
    // the corpus, so 3k over-fetch usually — not always — suffices;
    // the short row set is the point). PlanSpec pins the label
    // pushdown on the pre arm.
    "v22_filtered_knn" -> { (s, d) =>
      val q = probeVec(s, d, 7L)
      val e = Tables.embeddings(s, d)
      val pre = e.filter(col("label") === 3)
        .withColumn("score", vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("score"))
      val post = e
        .withColumn("score", vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(30)
        .filter(col("label") === 3)
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), lit(1L).as("in_post"))
      pre.join(post, Seq("vec_id"), "left")
        .select(col("vec_id"), col("score"),
          coalesce(col("in_post"), lit(0L)).as("in_post"))
        .orderBy(col("score").desc, col("vec_id"))
    },

    // PRODUCT-QUANTIZED ADC search under the oracle — the one PQ
    // claim its property tests could not hash-pin: with iters = 0 the
    // codebooks are DETERMINISTIC (block slices of the 4 smallest-id
    // vectors — [[graft.operators.ProductQuantizer.train]]'s init),
    // so encode (per-block argmax inner product, ties to the smaller
    // code) and the asymmetric-distance score (Σ over blocks of the
    // query↔codeword table lookup) replay exactly in SQL. The oracle
    // re-derives codebooks, codes, AND the 4-block score with the
    // block additions spelled left-associative — SUM's arbitrary
    // fold order over doubles would not be the engine's
    // `t0+t1+t2+t3`. Plan shape: the corpus never reads vectors at
    // search time — scoring is 4 array lookups per row over the codes
    // column + a TakeOrderedAndProject heap; trained codebooks swap
    // in without changing a line (the k-means refinement is
    // ProductQuantizerSpec's recall property, not an oracle claim).
    "v23_pq_adc" -> { (s, d) =>
      import graft.operators.ProductQuantizer
      val e = Tables.embeddings(s, d)
      val cb = ProductQuantizer.train(e, "vec_id", "embedding",
        blocks = 4, codes = 4, iters = 0)
      ProductQuantizer.search(
        ProductQuantizer.encode(e, "vec_id", "embedding", cb),
        cb, probeVec(s, d, 0L), k = 10)
        .select(col("id").as("vec_id"), col("score"))
        .orderBy(col("score").desc, col("vec_id"))
    },

    // PQ RECALL FLOOR — v16's recall@k evaluation over the ADC path
    // (the tuning query run before trusting a PQ deployment's
    // compression): per probe, the ADC top-5 (v23's serving shape —
    // codes-only scan, literal lookup tables, TakeOrdered heap) is
    // scored against the exact INNER-PRODUCT top-5 (what ADC
    // approximates — dot, not cosine, or the "miss" count would
    // conflate quantization loss with normalization). Recall is set
    // arithmetic on integers, so the row hashes exactly even though
    // both rankings are double-scored. Probes loop driver-side (each
    // ADC search is a point query with its own baked tables — the
    // codebook pattern); recall evaluation is an offline tuning job,
    // a handful of probes per run by design. iters = 0 keeps the
    // codebooks deterministic (v23's argument); the trained-codebook
    // recall property lives in ProductQuantizerSpec.
    "v24_pq_recall" -> { (s, d) =>
      import graft.operators.ProductQuantizer
      val e = Tables.embeddings(s, d)
      val cb = ProductQuantizer.train(e, "vec_id", "embedding",
        blocks = 4, codes = 4, iters = 0)
      val encoded = ProductQuantizer.encode(e, "vec_id", "embedding", cb)
      val probeIds = Seq(0L, 100L, 200L, 300L, 400L)
      val probes = e.filter(col("vec_id").isin(probeIds: _*))
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val arms = probeIds.sorted.map { pid =>
        val q = probes(pid)
        val exact = e
          .withColumn("score", vectors.dotProduct(col("embedding"), lit(q)))
          .orderBy(col("score").desc, col("vec_id"))
          .limit(5)
          .select(lit(pid).as("probe_id"), col("vec_id"))
        val adc = ProductQuantizer.search(encoded, cb, q, k = 5)
          .select(lit(pid).as("probe_id"), col("id").as("vec_id"),
            lit(1L).as("_hit"))
        (exact, adc)
      }
      arms.map(_._1).reduce(_ unionByName _)
        .join(arms.map(_._2).reduce(_ unionByName _),
          Seq("probe_id", "vec_id"), "left")
        .groupBy(col("probe_id"))
        .agg(sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
        .select(col("probe_id"), col("n_hit"),
          (col("n_hit").cast("double") / lit(5.0)).as("recall"))
        .orderBy(col("probe_id"))
    },

    // MATRYOSHKA-style truncated-prefix two-stage kNN: coarse-rank on
    // the first 16 of 64 dimensions (¼ the multiply-adds per corpus
    // row — the compute face of the storage cut v10/v15 make), keep
    // 50 candidates, exact full-dimension rescore to the top 10. The
    // nesting-trained-embedding serving pattern: both stages plan as
    // TakeOrderedAndProject (per-partition heaps, no global sort —
    // pinned), and the surviving coarse score rides along as the
    // witness that prefix and full rankings genuinely disagree (the
    // reorder is visible in the output). The oracle replays both
    // stages with DuckDB list slicing, so the row is hash-exact even
    // though stage 1 is approximate.
    "v21_prefix_rerank" -> { (s, d) =>
      val q = probeVec(s, d, 42L)
      Tables.embeddings(s, d)
        .withColumn("prefix_score", vectors.cosineSimilarity(
          slice(col("embedding"), 1, 16), lit(q.take(16))))
        .orderBy(col("prefix_score").desc, col("vec_id"))
        .limit(50)
        .withColumn("score",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("prefix_score"), col("score"))
    },

    // nDCG@k CURVE for the Matryoshka serving arm — ranking-quality
    // evaluation beyond hit-counting recall (v16/v29/d103 score "did
    // the doc appear"; nDCG scores "did it appear HIGH ENOUGH", which
    // is what a serving team actually tunes prefix length against).
    // Relevance = 11 − exact_rank from the full-dimension arm (graded,
    // not binary), served order = v21's prefix-coarse → full-rescore
    // two-stage, and the per-rank log2 discounts are micro-quantized
    // ON THE DRIVER and inlined into BOTH engines (the BM25
    // inlined-literal rule — no transcendental crosses an engine), so
    // every DCG sum is exact integer arithmetic. Output: the
    // ndcg@k curve k = 1..10 with per-rank gain witnesses; every
    // window here orders a 10-row frame (d103's ≤K-row rule). The
    // corpus pays two scans (coarse arm + exact arm), both ending in
    // per-partition top-k heaps.
    "v32_ndcg_curve" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = probeVec(s, d, 42L)
      val e = Tables.embeddings(s, d)
      val w10 = Window.orderBy(col("score").desc, col("vec_id"))
      val exact = e
        .withColumn("score",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
        .select(col("vec_id"),
          row_number().over(w10).cast("long").as("exact_rank"))
      val served = e
        .withColumn("prefix_score", vectors.cosineSimilarity(
          slice(col("embedding"), 1, 16), lit(q.take(16))))
        .orderBy(col("prefix_score").desc, col("vec_id")).limit(50)
        .withColumn("score",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
        .select(col("vec_id"),
          row_number().over(w10).cast("long").as("rank"))
      def byRank(vals: Map[Int, Long]): org.apache.spark.sql.Column =
        (2 to 10).foldLeft(when(col("rank") === 1, lit(vals(1)))) {
          (c, r) => c.when(col("rank") === r, lit(vals(r)))
        }
      served.join(exact, Seq("vec_id"), "left")
        .select(col("rank"), col("vec_id"),
          coalesce(lit(11L) - col("exact_rank"), lit(0L)).as("rel"),
          byRank(NdcgDisc).as("disc_micro"),
          byRank(NdcgIdeal).as("ideal_micro"))
        .withColumn("gain_micro", col("rel") * col("disc_micro"))
        .withColumn("dcg_micro",
          sum(col("gain_micro")).over(Window.orderBy(col("rank"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ndcg_at_k_micro",
          expr("dcg_micro * 1000000 div ideal_micro"))
        .orderBy(col("rank"))
    },

    // INCREMENTAL IVF maintenance identity ([[graft.store.IvfIndex
    // .append]]'s semantics under the oracle): assigning a base half
    // and a delta half SEPARATELY against the same frozen codebook and
    // unioning equals the one-shot assignment of everything — per
    // cell, row for row. The oracle computes ONLY the direct pass
    // (v05's assignment CTE over all vectors); hash equality proves
    // the maintenance identity (q36/e14's merge≡direct argument in
    // vector space), which is exactly why append-only daily ingest
    // into a cell-partitioned 100-TB index never needs a rebuild
    // while the codebook stands. Per-cell stats are exact integers.
    "v20_ivf_append" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      def assign(part: DataFrame) =
        Similarity.ivfAssign(part, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec").select(col("cell"), col("vec_id"))
      assign(e.filter(col("vec_id") % 2 === 0))
        .union(assign(e.filter(col("vec_id") % 2 === 1)))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("vec_id")).as("id_sum"),
          min(col("vec_id")).as("id_min"),
          max(col("vec_id")).as("id_max"))
        .orderBy(col("cell"))
    },

    "v18_ivf_cell_profile" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val cells = Similarity.ivfAssign(e, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      val totals = cells.agg(sum(col("n_vecs")).cast("long").as("total"),
        count(lit(1)).as("n_cells"))
      cells.crossJoin(broadcast(totals))
        .select(col("cell"), col("n_vecs"),
          (col("n_vecs").cast("double") / col("total").cast("double"))
            .as("share"),
          (col("n_vecs").cast("double") * col("n_cells").cast("double")
            / col("total").cast("double")).as("balance"))
        .orderBy(col("cell"))
    },

    // The pure-SQL user face: v01's exact kNN spelled as ANSI SQL text
    // over a registered view, with the engine's native Catalyst
    // [[graft.functions.CosineSimilarity]] resolved through the SQL
    // function registry ([[graft.GraftExtensions]]) — proving a SQL-only
    // client gets the identical plan AND the identical bits as the
    // Column API (same codegen'd expression, same
    // TakeOrderedAndProject top-k; the oracle is byte-for-byte v01's).
    "v19_sql_knn" -> { (s, d) =>
      graft.GraftExtensions.register(s)
      Tables.embeddings(s, d).createOrReplaceTempView("graft_embeddings")
      s.sql(
        """SELECT vec_id,
          | cosine_similarity(embedding,
          |  (SELECT embedding FROM graft_embeddings WHERE vec_id = 0)) AS score
          |FROM graft_embeddings
          |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)
    }
  )

  /** v09's full pair-derivation SQL, shared verbatim with TextQueries'
    * d63 cascade (which embeds it as a CTE) so the two oracles can
    * never drift. */
  private[queries] val SemanticPairsSql: String =
    """WITH s0 AS (SELECT vec_id, embedding FROM embeddings
        |            ORDER BY vec_id LIMIT 8),
        |seeds AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell,
        |                 embedding AS sv FROM s0),
        |a0 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, s.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(s.sv AS DOUBLE[])) DESC,
        |                 s.cell) AS rn
        |    FROM embeddings e CROSS JOIN seeds s) t WHERE rn = 1),
        |m AS (
        |  SELECT cell, pos,
        |    CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*) / 1000000000.0 AS REAL) AS r
        |  FROM (SELECT cell, UNNEST(embedding) AS x,
        |          GENERATE_SUBSCRIPTS(embedding, 1) AS pos FROM a0) t
        |  GROUP BY cell, pos),
        |newc AS (
        |  SELECT su.cell, list(COALESCE(m.r, su.x) ORDER BY su.pos) AS cv
        |  FROM (SELECT cell, UNNEST(sv) AS x, GENERATE_SUBSCRIPTS(sv, 1) AS pos
        |        FROM seeds) su
        |  LEFT JOIN m ON m.cell = su.cell AND m.pos = su.pos
        |  GROUP BY su.cell),
        |a1 AS (
        |  SELECT vec_id, embedding, cell FROM (
        |    SELECT e.vec_id, e.embedding, c.cell,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(c.cv AS DOUBLE[])) DESC,
        |                 c.cell) AS rn
        |    FROM embeddings e CROSS JOIN newc c) t WHERE rn = 1)
        |SELECT cell, a_id, b_id, score FROM (
        |  SELECT x.cell, x.vec_id AS a_id, y.vec_id AS b_id,
        |    list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |                           CAST(y.embedding AS DOUBLE[])) AS score
        |  FROM a1 x JOIN a1 y ON x.cell = y.cell AND x.vec_id < y.vec_id) t
        |WHERE score >= 0.4 ORDER BY a_id, b_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "v01_knn_exact" ->
      """SELECT vec_id,
        | list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
        |FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    "v02_similarity_join" ->
      """SELECT probe_id, rank, neighbor_id, score FROM (
        | SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) AS score,
        |  ROW_NUMBER() OVER (PARTITION BY p.vec_id
        |   ORDER BY list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
        |     CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        | FROM embeddings p JOIN embeddings c
        |  ON p.vec_id < 5 AND c.vec_id >= 5) t
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    "v03_near_dup_lsh" ->
      """WITH seeds AS (
        |  SELECT vec_id AS si, CAST(embedding AS DOUBLE[]) AS sv
        |  FROM embeddings WHERE vec_id < 8),
        |b AS (
        |  SELECT e.vec_id, e.embedding,
        |   CAST(SUM(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), s.sv) > 0
        |     THEN (CAST(1 AS BIGINT) << si) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN seeds s GROUP BY e.vec_id, e.embedding)
        |SELECT bucket, a_id, b_id, score FROM (
        | SELECT x.bucket, x.vec_id AS a_id, y.vec_id AS b_id,
        |  list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |    CAST(y.embedding AS DOUBLE[])) AS score
        | FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id) t
        |WHERE score >= 0.3 ORDER BY a_id, b_id""".stripMargin,

    "v04_label_centroids" ->
      """SELECT label, pos,
        | CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |   / COUNT(*) / 1000000000.0 AS centroid
        |FROM (SELECT label, UNNEST(embedding) AS x,
        |       CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS BIGINT) AS pos FROM embeddings) t
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "v06_sql_surface" ->
      """SELECT vec_id,
        | list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 3)) AS score
        |FROM embeddings ORDER BY score DESC, vec_id LIMIT 8""".stripMargin,

    // Greedy MMR unrolled: pX = argmax over qs minus the picks so far;
    // operation order (0.5e0*qsim - 0.5e0*greatest(...)) mirrors the
    // Column expression; ties break on vec_id everywhere.
    "v07_mmr" ->
      """WITH qs AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |   list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |    (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS qsim
        |  FROM embeddings),
        |p1 AS (SELECT vec_id, v, qsim, qsim AS mmr FROM qs
        |       ORDER BY qsim DESC, vec_id LIMIT 1),
        |p2 AS (SELECT qs.vec_id, qs.v, qs.qsim,
        |        0.5e0 * qs.qsim - 0.5e0 * list_cosine_similarity(qs.v, p1.v) AS mmr
        |       FROM qs, p1 WHERE qs.vec_id <> p1.vec_id
        |       ORDER BY mmr DESC, qs.vec_id LIMIT 1),
        |p3 AS (SELECT qs.vec_id, qs.v, qs.qsim,
        |        0.5e0 * qs.qsim - 0.5e0 * greatest(
        |          list_cosine_similarity(qs.v, p1.v),
        |          list_cosine_similarity(qs.v, p2.v)) AS mmr
        |       FROM qs, p1, p2
        |       WHERE qs.vec_id <> p1.vec_id AND qs.vec_id <> p2.vec_id
        |       ORDER BY mmr DESC, qs.vec_id LIMIT 1),
        |p4 AS (SELECT qs.vec_id, qs.v, qs.qsim,
        |        0.5e0 * qs.qsim - 0.5e0 * greatest(
        |          list_cosine_similarity(qs.v, p1.v),
        |          list_cosine_similarity(qs.v, p2.v),
        |          list_cosine_similarity(qs.v, p3.v)) AS mmr
        |       FROM qs, p1, p2, p3
        |       WHERE qs.vec_id <> p1.vec_id AND qs.vec_id <> p2.vec_id
        |         AND qs.vec_id <> p3.vec_id
        |       ORDER BY mmr DESC, qs.vec_id LIMIT 1)
        |SELECT CAST(1 AS BIGINT) AS rank, vec_id, qsim, mmr FROM p1
        |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, qsim, mmr FROM p2
        |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, qsim, mmr FROM p3
        |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, qsim, mmr FROM p4
        |ORDER BY rank""".stripMargin,

    // v05's assignment CTE + v04's fixed-point mean, composed.
    "v08_kmeans_step" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1)
        |SELECT cell AS cluster, pos,
        | CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS DOUBLE)
        |   / COUNT(*) / 1000000000.0 AS centroid,
        | CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM (SELECT cell, UNNEST(embedding) AS x,
        |       CAST(GENERATE_SUBSCRIPTS(embedding, 1) AS BIGINT) AS pos
        |      FROM assigned) t
        |GROUP BY cell, pos ORDER BY cluster, pos""".stripMargin,

    // One Lloyd step (v08's CTEs, plus the float32 rounding lloyd applies
    // to each refreshed centroid and the emptied-cell COALESCE fallback),
    // then re-assignment against the refined codebook and the within-cell
    // pair join. seeds = the 8 smallest vec_ids with cells numbered in
    // id order, exactly KMeans.lloyd's zipWithIndex seeding.
    "v09_semantic_dedup" -> SemanticPairsSql,

    // scale = max|x|/127; code = floor(x/scale + 0.5) — the same IEEE
    // ops in both engines (round-half-up chosen over half-even exactly
    // because engines agree on floor and disagree on tie-rounding).
    "v10_int8_quantize" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |        list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |          x -> abs(x)), 'max') / 127.0e0 AS scale
        |       FROM embeddings),
        |q AS (SELECT vec_id, scale, v,
        |       list_transform(v, x -> CASE WHEN scale = 0.0e0 THEN 0.0e0
        |         ELSE FLOOR(x / scale + 0.5e0) END) AS cds
        |      FROM s),
        |u AS (SELECT vec_id, scale, v, cds,
        |       UNNEST(range(1, len(v) + 1)) AS i FROM q)
        |SELECT vec_id, CAST(i AS BIGINT) AS pos, scale,
        | CAST(cds[i] AS BIGINT) AS code,
        | abs(cds[i] * scale - v[i]) AS recon_err
        |FROM u ORDER BY vec_id, pos""".stripMargin,

    // v10's quantization CTEs, dequantized through the same REAL (f32)
    // rounding Spark's array<float> cast applies, then the two ranked
    // stages as window/limit chains.
    "v11_quantized_knn" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |        list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |          x -> abs(x)), 'max') / 127.0e0 AS scale
        |       FROM embeddings),
        |q AS (SELECT vec_id, v,
        |       CAST(CAST(list_transform(v, x ->
        |         (CASE WHEN scale = 0.0e0 THEN 0.0e0
        |          ELSE FLOOR(x / scale + 0.5e0) END) * scale) AS REAL[])
        |        AS DOUBLE[]) AS dv
        |      FROM s),
        |probe AS (SELECT CAST(embedding AS DOUBLE[]) AS pv
        |          FROM embeddings WHERE vec_id = 0),
        |coarse AS (SELECT q.vec_id, q.v,
        |            list_cosine_similarity(q.dv, probe.pv) AS qscore
        |           FROM q, probe
        |           ORDER BY qscore DESC, vec_id LIMIT 50)
        |SELECT vec_id, qscore,
        | list_cosine_similarity(v, (SELECT pv FROM probe)) AS score
        |FROM coarse ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // The 32-bits-per-word sign packing spelled declaratively: word w =
    // Σ_i 2^i over strictly-positive components 32w+i, Hamming =
    // Σ_w popcount(xor) — v11's coarse/rescore CTE shape on top.
    "v15_binary_knn" ->
      """WITH sig AS (
        |  SELECT vec_id, embedding,
        |   list_transform(range(0, 2), w ->
        |    CAST(list_sum(list_transform(range(0, 32), i ->
        |     CASE WHEN embedding[32*w + i + 1] > 0
        |          THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
        |    AS BIGINT)) AS bsig
        |  FROM embeddings),
        |qsig AS (SELECT bsig AS qb, CAST(embedding AS DOUBLE[]) AS qv
        |         FROM sig WHERE vec_id = 42),
        |coarse AS (
        |  SELECT s.vec_id, s.embedding,
        |   CAST(list_sum(list_transform(range(0, 2), w ->
        |    CAST(bit_count(xor(s.bsig[w + 1], qsig.qb[w + 1])) AS BIGINT)))
        |    AS BIGINT) AS hamming
        |  FROM sig s, qsig
        |  ORDER BY hamming, s.vec_id LIMIT 50)
        |SELECT vec_id, hamming,
        | list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT qv FROM qsig)) AS score
        |FROM coarse ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // v05's assignment CTEs; the probed set becomes the top-2 centroid
    // ranks instead of the probe's own assigned cell.
    "v12_ivf_multiprobe" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |probe AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |          FROM embeddings WHERE vec_id = 42),
        |cells AS (
        |  SELECT cell FROM (
        |   SELECT s.cell,
        |    ROW_NUMBER() OVER (ORDER BY list_cosine_similarity(s.cv, probe.qv) DESC,
        |                       s.cell) AS rn
        |   FROM seeds s, probe) t WHERE rn <= 2)
        |SELECT a.cell, a.vec_id,
        | list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  (SELECT qv FROM probe)) AS score
        |FROM assigned a JOIN cells ON a.cell = cells.cell
        |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin,

    // v12's assignment + cell-ranking CTEs over v10/v11's quantization:
    // scores on the quantize→dequantize round trip through the same
    // REAL (f32) rounding Spark's array<float> cast applies.
    "v13_ivfq_search" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |q AS (SELECT vec_id, cell,
        |       CAST(CAST(list_transform(v, x ->
        |         (CASE WHEN scale = 0.0e0 THEN 0.0e0
        |          ELSE FLOOR(x / scale + 0.5e0) END) * scale) AS REAL[])
        |        AS DOUBLE[]) AS dv
        |      FROM (SELECT vec_id, cell, CAST(embedding AS DOUBLE[]) AS v,
        |             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> abs(x)), 'max') / 127.0e0 AS scale
        |            FROM assigned) s),
        |probe AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |          FROM embeddings WHERE vec_id = 42),
        |cells AS (
        |  SELECT cell FROM (
        |   SELECT s.cell,
        |    ROW_NUMBER() OVER (ORDER BY list_cosine_similarity(s.cv, probe.qv) DESC,
        |                       s.cell) AS rn
        |   FROM seeds s, probe) t WHERE rn <= 2)
        |SELECT q.cell, q.vec_id,
        | list_cosine_similarity(q.dv, (SELECT qv FROM probe)) AS score
        |FROM q JOIN cells ON q.cell = cells.cell
        |ORDER BY score DESC, q.vec_id LIMIT 5""".stripMargin,

    // v02's pairwise-cosine shape across the d30 split, thresholded,
    // then the per-train-doc argmax (ties to smaller eval id).
    "v14_semantic_decontaminate" ->
      """WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |e AS (SELECT vec_id, v FROM t WHERE vec_id % 50 = 0),
        |tr AS (SELECT vec_id, v FROM t WHERE vec_id % 50 <> 0),
        |p AS (SELECT tr.vec_id AS train_id, e.vec_id AS eval_id,
        |       list_cosine_similarity(tr.v, e.v) AS score
        |      FROM tr CROSS JOIN e),
        |f AS (SELECT train_id, eval_id, score,
        |       ROW_NUMBER() OVER (PARTITION BY train_id
        |         ORDER BY score DESC, eval_id) AS rn
        |      FROM p WHERE score >= 0.35e0)
        |SELECT train_id, eval_id, score FROM f WHERE rn = 1
        |ORDER BY train_id""".stripMargin,

    // v27: v23's codebook CTEs over FLOAT residuals (v − seed(cell),
    // float subtraction, then DOUBLE dots); codewords from the first
    // four non-seed residuals; score chain left-assoc from the coarse
    // q·centroid term.
    "v27_residual_adc" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS FLOAT[]) AS vf,
        |            CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |seeds AS (SELECT vec_id AS cell, vf AS cw, v AS cwd
        |          FROM e WHERE vec_id < 4),
        |cs AS (SELECT e.vec_id, s.cell,
        |        list_inner_product(e.v, s.cwd) AS sc
        |       FROM e CROSS JOIN seeds s),
        |cells AS (SELECT vec_id, cell FROM (
        |           SELECT vec_id, cell,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id
        |             ORDER BY sc DESC, cell) AS rn
        |           FROM cs) x WHERE rn = 1),
        |r AS (SELECT e.vec_id, c.cell,
        |       list_transform(range(1, len(e.vf)+1),
        |        i -> CAST(e.vf[i] - s.cw[i] AS DOUBLE)) AS rv
        |      FROM e JOIN cells c ON e.vec_id = c.vec_id
        |      JOIN seeds s ON c.cell = s.cell),
        |blocks AS (SELECT unnest(range(4)) AS b),
        |cw AS (SELECT b.b, rr.vec_id - 4 AS code,
        |        rr.rv[b.b*16+1 : b.b*16+16] AS w
        |       FROM blocks b
        |       CROSS JOIN (SELECT vec_id, rv FROM r
        |                   WHERE vec_id >= 4 AND vec_id < 8) rr),
        |sc2 AS (SELECT r.vec_id, cw.b, cw.code,
        |        list_inner_product(r.rv[cw.b*16+1 : cw.b*16+16], cw.w) AS s
        |       FROM r CROSS JOIN cw),
        |codes AS (SELECT vec_id, b, code FROM (
        |           SELECT vec_id, b, code,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, b
        |             ORDER BY s DESC, code) AS rn
        |           FROM sc2) x WHERE rn = 1),
        |tabs AS (SELECT cw.b, cw.code,
        |          list_inner_product(q.qv[cw.b*16+1 : cw.b*16+16], cw.w) AS t
        |         FROM cw CROSS JOIN q),
        |cellsc AS (SELECT s.cell, list_inner_product(q.qv, s.cwd) AS csc
        |           FROM seeds s CROSS JOIN q),
        |adc AS (SELECT c.vec_id,
        |         (((MAX(z.csc)
        |           + MAX(CASE WHEN c.b = 0 THEN t.t END))
        |           + MAX(CASE WHEN c.b = 1 THEN t.t END))
        |           + MAX(CASE WHEN c.b = 2 THEN t.t END))
        |           + MAX(CASE WHEN c.b = 3 THEN t.t END) AS score
        |        FROM codes c
        |        JOIN cells cl ON c.vec_id = cl.vec_id
        |        JOIN cellsc z ON cl.cell = z.cell
        |        JOIN tabs t ON c.b = t.b AND c.code = t.code
        |        GROUP BY c.vec_id)
        |SELECT vec_id, score FROM adc
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // v26: v05's assignment CTE, the (count DESC, cell) hot pick, two
    // smallest-id sub-seeds, and the members-only reassignment — ties
    // in both argmaxes go to the smaller cell id, matching
    // ivfAssign's first-max convention.
    // v30: v03's bucket CTE, cross-label same-bucket pairs, ranked
    // window argmax (score DESC, neg id) — the struct-max mirror.
    "v30_hard_negatives" ->
      """WITH seeds AS (
        |  SELECT vec_id AS si, CAST(embedding AS DOUBLE[]) AS sv
        |  FROM embeddings WHERE vec_id < 6),
        |b AS (
        |  SELECT e.vec_id, e.label, e.embedding,
        |   CAST(SUM(CASE WHEN list_inner_product(CAST(e.embedding AS DOUBLE[]), s.sv) > 0
        |     THEN (CAST(1 AS BIGINT) << si) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e CROSS JOIN seeds s
        |  GROUP BY e.vec_id, e.label, e.embedding)
        |SELECT vec_id, label, neg_id, neg_label, score FROM (
        | SELECT x.vec_id, x.label, y.vec_id AS neg_id, y.label AS neg_label,
        |  list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |    CAST(y.embedding AS DOUBLE[])) AS score,
        |  ROW_NUMBER() OVER (PARTITION BY x.vec_id
        |   ORDER BY list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
        |     CAST(y.embedding AS DOUBLE[])) DESC, y.vec_id) AS rn
        | FROM b x JOIN b y
        |  ON x.bucket = y.bucket AND x.label <> y.label) t
        |WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // v31: per-row micro quantization (floor of the identical IEEE
    // double product), then plain integer cell sums per (dim, slice).
    "v31_embedding_drift" ->
      """WITH e AS (SELECT vec_id % 2 AS slice,
        |        generate_subscripts(embedding, 1) - 1 AS dim,
        |        unnest(embedding) AS v
        |       FROM embeddings),
        |q AS (SELECT slice, CAST(dim AS BIGINT) AS dim,
        |       CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q
        |      FROM e),
        |m AS (SELECT dim,
        |       CAST(SUM(CASE WHEN slice = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |        AS n_a,
        |       CAST(SUM(CASE WHEN slice = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |        AS n_b,
        |       CAST(SUM(CASE WHEN slice = 0 THEN q ELSE 0 END) AS BIGINT)
        |        AS sa,
        |       CAST(SUM(CASE WHEN slice = 1 THEN q ELSE 0 END) AS BIGINT)
        |        AS sb
        |      FROM q GROUP BY 1)
        |SELECT dim, n_a, n_b, sa // n_a AS mean_a_micro,
        | sb // n_b AS mean_b_micro,
        | ABS(sa // n_a - sb // n_b) AS shift_micro
        |FROM m ORDER BY dim""".stripMargin,

    // v29: the sign matrix is injected as literal lists (both engines
    // receive the identical matrix — no hash mirroring), projections
    // are float-cast inner products, both arms are ranked windows.
    "v29_jl_recall" -> {
      val lists = (0 until JlOut).map(j => "[" +
        JlSigns(j).map(v => if (v > 0) "1.0" else "-1.0").mkString(",") +
        "]")
      val projList = "[" +
        lists.map(l => s"list_inner_product(ev, $l)").mkString(",\n        |   ") +
        "]"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
         |           FROM embeddings),
         |p AS (SELECT vec_id,
         |       CAST(CAST($projList AS REAL[]) AS DOUBLE[]) AS pv
         |      FROM e),
         |pp AS (SELECT vec_id AS probe_id, pv AS qpv FROM p
         |       WHERE vec_id % 100 = 0 AND vec_id < 500),
         |ep AS (SELECT vec_id AS probe_id, ev AS qv FROM e
         |       WHERE vec_id % 100 = 0 AND vec_id < 500),
         |ap AS (SELECT probe_id, vec_id FROM (
         |   SELECT pr.probe_id, p.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY pr.probe_id
         |     ORDER BY list_cosine_similarity(p.pv, pr.qpv) DESC,
         |      p.vec_id) AS rn
         |   FROM p CROSS JOIN pp pr) r WHERE rn <= 5),
         |ex AS (SELECT probe_id, vec_id FROM (
         |   SELECT pr.probe_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY pr.probe_id
         |     ORDER BY list_cosine_similarity(e.ev, pr.qv) DESC,
         |      e.vec_id) AS rn
         |   FROM e CROSS JOIN ep pr) r WHERE rn <= 5)
         |SELECT ex.probe_id,
         | CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_hit,
         | CAST(SUM(CASE WHEN ap.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS DOUBLE) / 5.0e0 AS recall
         |FROM ex LEFT JOIN ap
         | ON ex.probe_id = ap.probe_id AND ex.vec_id = ap.vec_id
         |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin
    },

    // v28: v26's assignment CTE, the two (count ASC, cell) coldest,
    // and the CASE relabel to the next free id.
    "v28_merge_rebalance" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |   SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |cold AS (SELECT cell FROM assigned GROUP BY cell
        |         ORDER BY COUNT(*), cell LIMIT 2)
        |SELECT CASE WHEN cell IN (SELECT cell FROM cold)
        |        THEN CAST(8 AS BIGINT) ELSE cell END AS cell,
        | CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM assigned GROUP BY 1 ORDER BY cell""".stripMargin,

    "v26_split_rebalance" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |hot AS (SELECT cell FROM assigned GROUP BY cell
        |        ORDER BY COUNT(*) DESC, cell LIMIT 1),
        |sub AS (SELECT 8 + ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell_id,
        |         CAST(embedding AS DOUBLE[]) AS sv
        |        FROM assigned WHERE cell = (SELECT cell FROM hot)
        |        ORDER BY vec_id LIMIT 2),
        |re AS (SELECT vec_id, cell_id FROM (
        |        SELECT a.vec_id, s.cell_id,
        |         ROW_NUMBER() OVER (PARTITION BY a.vec_id
        |          ORDER BY list_cosine_similarity(
        |            CAST(a.embedding AS DOUBLE[]), s.sv) DESC, s.cell_id) AS rn
        |        FROM assigned a CROSS JOIN sub s
        |        WHERE a.cell = (SELECT cell FROM hot)) x WHERE rn = 1),
        |after AS (SELECT cell, vec_id FROM assigned
        |          WHERE cell <> (SELECT cell FROM hot)
        |          UNION ALL SELECT cell_id, vec_id FROM re)
        |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM after GROUP BY cell ORDER BY cell""".stripMargin,

    // v25: v05's assignment CTE over both sides, the cell-equi
    // candidate join with the per-train (score DESC, eval_id) pick,
    // and v14's exact chain carrying the audit flag.
    "v25_ivf_decontaminate" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |tr AS (SELECT vec_id AS train_id, CAST(embedding AS DOUBLE[]) AS tv,
        |        cell FROM assigned WHERE vec_id % 50 <> 0),
        |ev AS (SELECT vec_id AS p_eval_id, CAST(embedding AS DOUBLE[]) AS evv,
        |        cell FROM assigned WHERE vec_id % 50 = 0),
        |pruned AS (SELECT train_id, p_eval_id AS pruned_eval_id FROM (
        |            SELECT t.train_id, e.p_eval_id,
        |             ROW_NUMBER() OVER (PARTITION BY t.train_id
        |              ORDER BY list_cosine_similarity(t.tv, e.evv) DESC,
        |               e.p_eval_id) AS rn
        |            FROM tr t JOIN ev e ON t.cell = e.cell
        |            WHERE list_cosine_similarity(t.tv, e.evv) >= 0.35e0) x
        |           WHERE rn = 1),
        |p2 AS (SELECT t.vec_id AS train_id, e2.vec_id AS eval_id,
        |        list_cosine_similarity(CAST(t.embedding AS DOUBLE[]),
        |          CAST(e2.embedding AS DOUBLE[])) AS score
        |       FROM embeddings t CROSS JOIN embeddings e2
        |       WHERE t.vec_id % 50 <> 0 AND e2.vec_id % 50 = 0),
        |exact AS (SELECT train_id, eval_id, score FROM (
        |           SELECT train_id, eval_id, score,
        |            ROW_NUMBER() OVER (PARTITION BY train_id
        |             ORDER BY score DESC, eval_id) AS rn
        |           FROM p2 WHERE score >= 0.35e0) f WHERE rn = 1)
        |SELECT x.train_id, x.eval_id, x.score,
        | COALESCE(p.pruned_eval_id = x.eval_id, FALSE) AS pruned_hit
        |FROM exact x LEFT JOIN pruned p USING (train_id)
        |ORDER BY x.train_id""".stripMargin,

    "v05_ivf_search" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |probe AS (
        |  SELECT cell AS probe_cell, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM assigned WHERE vec_id = 42)
        |SELECT a.cell, a.vec_id,
        | list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), p.qv) AS score
        |FROM assigned a JOIN probe p ON a.cell = p.probe_cell
        |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin,

    // Both arms replayed declaratively: v05's assignment CTE, the
    // probe-side cell rank (ties to the smaller cell), the nprobe=1
    // arm restricted to the probe's top cell, the exhaustive arm over
    // the whole corpus (= nprobe=8, every cell), overlap counted per
    // probe. All ranks break ties on vec_id exactly as TopKByScore.
    "v16_ann_recall" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 500),
        |pcell AS (
        |  SELECT probe_id, qv, cell FROM (
        |   SELECT p.probe_id, p.qv, s.cell,
        |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |     ORDER BY list_cosine_similarity(p.qv, s.cv) DESC, s.cell) AS rn
        |   FROM probes p CROSS JOIN seeds s) r WHERE rn = 1),
        |ivf AS (
        |  SELECT probe_id, vec_id FROM (
        |   SELECT pc.probe_id, a.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY pc.probe_id
        |     ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |       pc.qv) DESC, a.vec_id) AS rn
        |   FROM assigned a JOIN pcell pc ON a.cell = pc.cell) r WHERE rn <= 5),
        |ex AS (
        |  SELECT probe_id, vec_id FROM (
        |   SELECT p.probe_id, e.vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |     ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
        |       p.qv) DESC, e.vec_id) AS rn
        |   FROM embeddings e CROSS JOIN probes p) r WHERE rn <= 5)
        |SELECT ex.probe_id,
        | CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_hit,
        | CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS DOUBLE) / 5.0e0 AS recall
        |FROM ex LEFT JOIN ivf i
        | ON ex.probe_id = i.probe_id AND ex.vec_id = i.vec_id
        |GROUP BY ex.probe_id ORDER BY ex.probe_id""".stripMargin,

    // v13's replay (assignment → int8 quantize/dequantize → cell rank
    // → in-cell top-k) generalized to the probe set: every window
    // partitions by probe_id.
    "v17_ivfq_batch" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, e.embedding, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, embedding, cell FROM (
        |   SELECT vec_id, embedding, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |q AS (SELECT vec_id, cell,
        |       CAST(CAST(list_transform(v, x ->
        |         (CASE WHEN scale = 0.0e0 THEN 0.0e0
        |          ELSE FLOOR(x / scale + 0.5e0) END) * scale) AS REAL[])
        |        AS DOUBLE[]) AS dv
        |      FROM (SELECT vec_id, cell, CAST(embedding AS DOUBLE[]) AS v,
        |             list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
        |               x -> abs(x)), 'max') / 127.0e0 AS scale
        |            FROM assigned) s),
        |probes AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 500),
        |cells AS (
        |  SELECT probe_id, qv, cell FROM (
        |   SELECT p.probe_id, p.qv, s.cell,
        |    ROW_NUMBER() OVER (PARTITION BY p.probe_id
        |     ORDER BY list_cosine_similarity(s.cv, p.qv) DESC, s.cell) AS rn
        |   FROM probes p CROSS JOIN seeds s) t WHERE rn <= 2)
        |SELECT probe_id, CAST(rn AS BIGINT) AS rank, vec_id, score FROM (
        | SELECT c.probe_id, q.vec_id,
        |  list_cosine_similarity(q.dv, c.qv) AS score,
        |  ROW_NUMBER() OVER (PARTITION BY c.probe_id
        |   ORDER BY list_cosine_similarity(q.dv, c.qv) DESC, q.vec_id) AS rn
        | FROM q JOIN cells c ON q.cell = c.cell) t
        |WHERE rn <= 5 ORDER BY probe_id, rank""".stripMargin,

    // v18: v05's assignment CTE + a plain cell histogram with the
    // totals row joined back.
    // v22: both filter strategies replayed; the left join marks which
    // of the exact pre-filter top-k the post-filter arm would surface.
    "v22_filtered_knn" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 7),
        |pre AS (
        |  SELECT vec_id,
        |   list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) AS score
        |  FROM embeddings, q WHERE label = 3
        |  ORDER BY score DESC, vec_id LIMIT 10),
        |ov AS (
        |  SELECT vec_id, label,
        |   list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv) AS score
        |  FROM embeddings, q
        |  ORDER BY score DESC, vec_id LIMIT 30),
        |post AS (
        |  SELECT vec_id, CAST(1 AS BIGINT) AS in_post FROM ov
        |  WHERE label = 3 ORDER BY score DESC, vec_id LIMIT 10)
        |SELECT pre.vec_id, pre.score,
        | COALESCE(post.in_post, 0) AS in_post
        |FROM pre LEFT JOIN post ON pre.vec_id = post.vec_id
        |ORDER BY pre.score DESC, pre.vec_id""".stripMargin,

    // v23: codebooks = block slices of vec_id 0..3 (iters = 0 init),
    // encode = per-(vec, block) argmax over 4 codewords (ROW_NUMBER
    // ties to the smaller code = the engine's first-max), score = the
    // 4 table lookups added LEFT-ASSOCIATIVELY (a SUM would fold the
    // doubles in arbitrary order).
    "v23_pq_adc" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |blocks AS (SELECT unnest(range(4)) AS b),
        |cw AS (SELECT b.b, c.vec_id AS code,
        |        c.v[b.b*16+1 : b.b*16+16] AS w
        |       FROM blocks b
        |       CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 4) c),
        |sc AS (SELECT e.vec_id, cw.b, cw.code,
        |        list_inner_product(e.v[cw.b*16+1 : cw.b*16+16], cw.w) AS s
        |       FROM e CROSS JOIN cw),
        |codes AS (SELECT vec_id, b, code FROM (
        |           SELECT vec_id, b, code,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, b
        |             ORDER BY s DESC, code) AS rn
        |           FROM sc) x WHERE rn = 1),
        |tabs AS (SELECT cw.b, cw.code,
        |          list_inner_product(q.qv[cw.b*16+1 : cw.b*16+16], cw.w) AS t
        |         FROM cw CROSS JOIN q),
        |adc AS (SELECT c.vec_id,
        |         ((MAX(CASE WHEN c.b = 0 THEN t.t END)
        |           + MAX(CASE WHEN c.b = 1 THEN t.t END))
        |          + MAX(CASE WHEN c.b = 2 THEN t.t END))
        |          + MAX(CASE WHEN c.b = 3 THEN t.t END) AS score
        |        FROM codes c JOIN tabs t ON c.b = t.b AND c.code = t.code
        |        GROUP BY c.vec_id)
        |SELECT vec_id, score FROM adc
        |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,

    // v24: v23's codebook/code/table CTEs parameterized over the probe
    // set; both top-5 arms rank (score DESC, vec_id) and recall is the
    // per-probe intersection count — integers, so the hash is exact.
    "v24_pq_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, v AS qv FROM e
        |           WHERE vec_id % 100 = 0 AND vec_id < 500),
        |blocks AS (SELECT unnest(range(4)) AS b),
        |cw AS (SELECT b.b, c.vec_id AS code,
        |        c.v[b.b*16+1 : b.b*16+16] AS w
        |       FROM blocks b
        |       CROSS JOIN (SELECT vec_id, v FROM e WHERE vec_id < 4) c),
        |sc AS (SELECT e.vec_id, cw.b, cw.code,
        |        list_inner_product(e.v[cw.b*16+1 : cw.b*16+16], cw.w) AS s
        |       FROM e CROSS JOIN cw),
        |codes AS (SELECT vec_id, b, code FROM (
        |           SELECT vec_id, b, code,
        |            ROW_NUMBER() OVER (PARTITION BY vec_id, b
        |             ORDER BY s DESC, code) AS rn
        |           FROM sc) x WHERE rn = 1),
        |tabs AS (SELECT p.probe_id, cw.b, cw.code,
        |          list_inner_product(p.qv[cw.b*16+1 : cw.b*16+16], cw.w) AS t
        |         FROM cw CROSS JOIN probes p),
        |adc AS (SELECT t.probe_id, c.vec_id,
        |         ((MAX(CASE WHEN c.b = 0 THEN t.t END)
        |           + MAX(CASE WHEN c.b = 1 THEN t.t END))
        |          + MAX(CASE WHEN c.b = 2 THEN t.t END))
        |          + MAX(CASE WHEN c.b = 3 THEN t.t END) AS score
        |        FROM codes c JOIN tabs t ON c.b = t.b AND c.code = t.code
        |        GROUP BY t.probe_id, c.vec_id),
        |adc_top AS (SELECT probe_id, vec_id FROM (
        |             SELECT probe_id, vec_id,
        |              ROW_NUMBER() OVER (PARTITION BY probe_id
        |               ORDER BY score DESC, vec_id) AS rn
        |             FROM adc) x WHERE rn <= 5),
        |exact AS (SELECT p.probe_id, e.vec_id,
        |           list_inner_product(e.v, p.qv) AS score
        |          FROM e CROSS JOIN probes p),
        |exact_top AS (SELECT probe_id, vec_id FROM (
        |               SELECT probe_id, vec_id,
        |                ROW_NUMBER() OVER (PARTITION BY probe_id
        |                 ORDER BY score DESC, vec_id) AS rn
        |               FROM exact) x WHERE rn <= 5)
        |SELECT x.probe_id,
        | CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_hit,
        | CAST(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        |   AS DOUBLE) / 5e0 AS recall
        |FROM exact_top x
        |LEFT JOIN adc_top a
        |  ON x.probe_id = a.probe_id AND x.vec_id = a.vec_id
        |GROUP BY x.probe_id ORDER BY x.probe_id""".stripMargin,

    // v32: both arms replayed (v21's two-stage + the exact arm), the
    // SAME driver-computed discount/ideal literals injected as CASE
    // tables — the two engines never evaluate log2 themselves.
    "v32_ndcg_curve" -> {
      def caseOf(vals: Map[Int, Long]) = (1 to 10)
        .map(r => s"WHEN ${r} THEN CAST(${vals(r)} AS BIGINT)")
        .mkString(" ")
      s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv,
        |            CAST(embedding[1:16] AS DOUBLE[]) AS qp
        |           FROM embeddings WHERE vec_id = 42),
        |coarse AS (
        |  SELECT e.vec_id, e.embedding,
        |   list_cosine_similarity(CAST(e.embedding[1:16] AS DOUBLE[]), q.qp)
        |    AS prefix_score
        |  FROM embeddings e, q
        |  ORDER BY prefix_score DESC, e.vec_id LIMIT 50),
        |served0 AS (
        |  SELECT c.vec_id,
        |   list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv)
        |    AS score
        |  FROM coarse c, q ORDER BY score DESC, c.vec_id LIMIT 10),
        |served AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (
        |            ORDER BY score DESC, vec_id) AS BIGINT) AS rank
        |           FROM served0),
        |exact0 AS (
        |  SELECT e.vec_id,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv)
        |    AS score
        |  FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 10),
        |exact AS (SELECT vec_id, CAST(ROW_NUMBER() OVER (
        |           ORDER BY score DESC, vec_id) AS BIGINT) AS exact_rank
        |          FROM exact0),
        |j AS (SELECT s.rank, s.vec_id,
        |       CAST(COALESCE(11 - x.exact_rank, 0) AS BIGINT) AS rel,
        |       CASE s.rank ${caseOf(NdcgDisc)} END AS disc_micro,
        |       CASE s.rank ${caseOf(NdcgIdeal)} END AS ideal_micro
        |      FROM served s LEFT JOIN exact x ON s.vec_id = x.vec_id)
        |SELECT rank, vec_id, rel, disc_micro, ideal_micro,
        | CAST(rel * disc_micro AS BIGINT) AS gain_micro,
        | CAST(SUM(rel * disc_micro) OVER (ORDER BY rank
        |  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS dcg_micro,
        | CAST(SUM(rel * disc_micro) OVER (ORDER BY rank
        |  ROWS UNBOUNDED PRECEDING) * 1000000 // ideal_micro AS BIGINT)
        |  AS ndcg_at_k_micro
        |FROM j ORDER BY rank""".stripMargin
    },

    // v21: both stages replayed — DuckDB's 1-based inclusive slice
    // [1:16] is Spark's slice(embedding, 1, 16); candidate ties and
    // final ties break on vec_id in both engines.
    "v21_prefix_rerank" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv,
        |            CAST(embedding[1:16] AS DOUBLE[]) AS qp
        |           FROM embeddings WHERE vec_id = 42),
        |coarse AS (
        |  SELECT e.vec_id, e.embedding,
        |   list_cosine_similarity(CAST(e.embedding[1:16] AS DOUBLE[]), q.qp)
        |    AS prefix_score
        |  FROM embeddings e, q
        |  ORDER BY prefix_score DESC, e.vec_id LIMIT 50)
        |SELECT c.vec_id, c.prefix_score,
        | list_cosine_similarity(CAST(c.embedding AS DOUBLE[]), q.qv) AS score
        |FROM coarse c, q
        |ORDER BY score DESC, c.vec_id LIMIT 10""".stripMargin,

    // v20: the oracle runs ONLY the direct one-shot assignment — hash
    // equality against the engine's base∪delta union is the proof.
    "v20_ivf_append" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |   SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1)
        |SELECT cell, COUNT(*) AS n_vecs,
        | CAST(SUM(vec_id) AS BIGINT) AS id_sum,
        | MIN(vec_id) AS id_min, MAX(vec_id) AS id_max
        |FROM assigned GROUP BY cell ORDER BY cell""".stripMargin,

    "v18_ivf_cell_profile" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |   SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |c AS (SELECT cell, COUNT(*) AS n_vecs FROM assigned GROUP BY cell),
        |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
        |       COUNT(*) AS n_cells FROM c)
        |SELECT cell, n_vecs,
        | CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS share,
        | CAST(n_vecs AS DOUBLE) * CAST(n_cells AS DOUBLE)
        |  / CAST(total AS DOUBLE) AS balance
        |FROM c, t ORDER BY cell""".stripMargin,

    // v19 ≡ v01 by construction — same oracle.
    "v19_sql_knn" ->
      """SELECT vec_id,
        | list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |  (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS score
        |FROM embeddings ORDER BY score DESC, vec_id LIMIT 10""".stripMargin
  )
}
