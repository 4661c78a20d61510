package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-point deterministic PageRank — iterative link-authority
  * scoring (source weighting for corpus curation, product centrality
  * over co-occurrence graphs) expressed as the standard
  * join-contributions / re-aggregate loop, with one deliberate twist:
  * rank mass lives in integer MICRO-UNITS and every redistribution is
  * integer floor division, so each iteration is exact BIGINT
  * arithmetic — bit-identical across engines, partition layouts, and
  * merge orders (q29's oracle replays all three iterations
  * declaratively), where a floating-point PageRank's sums drift with
  * reduction order and can never be hash-checked. The quantization
  * error is ≤ 1 micro-unit per edge per iteration — irrelevant for
  * ranking, decisive for reproducibility (the d40 fixed-point-logprob
  * argument, applied to graph propagation).
  *
  * 100-TB shape: one iteration = one equi-join of the edge list with
  * the rank frame on `src` (plus the out-degree frame riding the same
  * key) and one sum keyed by `dst` — both shuffles on node keys, the
  * partitioning Catalyst/AQE reuses across iterations; nothing is
  * ever collected and no adjacency is materialized per-node. Each
  * iteration truncates lineage on the same checkpoint cadence as the
  * connected-components loop (`text/Dedup.scala` dupComponents, d19),
  * with superseded iterations freed eagerly ([[LineageCheckpoint]]).
  *
  * Dangling nodes (no out-edges) keep receiving rank but redistribute
  * none — their mass leaves the system, the usual simplification; on
  * a symmetric co-occurrence graph there are none.
  */
object GraphRank {

  /** `iters` rounds over `edges`: rank' = base + (dampNum · Σ_{u→v}
    * (rank_u div deg_u)) div dampDen, starting every node (either
    * endpoint of any edge) at `initMicro`. Returns (node, rank).
    *
    * Parallel edges collapse (simple-graph semantics) so a noisy edge
    * list can't inflate out-degrees; pass `assumeDistinct = true` when
    * the caller already deduplicated (q29 does) to skip the extra
    * exchange.
    *
    * `teleport = Some(frame)` makes the walk PERSONALIZED (topic-
    * sensitive PageRank, Haveliwala 2002): only the nodes in the
    * frame's `teleportCol` column receive the initial mass and the
    * per-iteration base — rank then measures authority AS SEEN FROM
    * the seed set (a brand's neighborhood, a trusted source list)
    * instead of globally; nodes the seeds never reach stay at exactly
    * 0. The seed indicator rides the persisted node frame as one
    * extra long column, so the personalized walk costs the same
    * joins/exchanges as the global one, and the arithmetic stays
    * exact integer (seed·base is a product of longs) — with
    * `teleport = None` every indicator is 1 and the computation is
    * bit-identical to the unpersonalized form.
    *
    * `checkpointDir = Some(path)` switches the per-iteration lineage
    * truncation from `localCheckpoint` to RELIABLE `checkpoint()`
    * against that path (HDFS/object storage on a cluster) — the mode
    * that survives executor loss on a long fault-tolerant run, exactly
    * as [[graft.text.Dedup.dupComponents]] offers. Ranks are identical
    * in both modes (pinned in GraphRankSpec).
    *
    * `convergeTol = Some(t)` turns `iters` into a MAXIMUM: the loop
    * stops as soon as no node's rank moved by more than `t`
    * micro-units in a round (checked on the just-checkpointed frame by
    * carrying the previous rank alongside — one job per round; the
    * extra old-rank join is node-keyed, the partitioning every other
    * per-iteration exchange already uses),
    * and FAILS LOUDLY if `iters` rounds pass without convergence — a
    * truncated unconverged walk must never silently read as a ranking.
    * Exact integer dynamics can 2-cycle at the last micro-unit, so a
    * small nonzero tolerance (default-worthy: ~1e-4 of the initial
    * mass) is the robust choice; `None` preserves the fixed-iteration
    * contract and plan shape exactly.
    *
    * `skewSalt = S > 1` salts the per-iteration contribution join for
    * POWER-LAW OUT-DEGREE graphs (q21's pattern applied to the loop):
    * on a web-scale graph a hub source's edges all land in one `src`
    * join partition — a straggler task of out-degree(hub) rows every
    * iteration. The salted form first attaches rank and degree to each
    * source (node-keyed 1:1 join, hub-free), replicates that frame S
    * ways, and keys the edge side by (src, hash(dst) mod S), spreading
    * each hub's edges uniformly over S partitions at the cost of S×
    * the (small) rank-frame shuffle. The dst-keyed SUM needs no salt:
    * partial aggregation already combines hot destinations map-side.
    * Arithmetic is unchanged — ranks are bit-identical for any S
    * (pinned in GraphRankSpec), so salting is purely a physical
    * straggler fix. Default 0 keeps the simpler two-join shape.
    */
  /** HITS (Kleinberg 1999) hubs & authorities — the second classic
    * link-analysis recurrence, on [[pageRank]]'s machinery: per round,
    * auth(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} auth(v), each
    * half-step MAX-normalized in integer micro-units — score' =
    * (unitMicro · raw) div max(raw) — so the best node sits at exactly
    * `unitMicro`, every value is a BIGINT in [0, unitMicro], and the
    * whole recurrence is floor-division-exact: bit-identical across
    * engines and layouts, replayable unrolled in an oracle (q39), where
    * float HITS with L2 normalization could never be hash-checked.
    * On a bipartite graph (customer→part, q39) the two scores separate
    * cleanly: hubs measure source breadth, authorities popularity
    * among broad sources — co-HITS, the recommender bootstrap.
    *
    * Same 100-TB shape as pageRank: each half-step is one node-keyed
    * equi-join + one keyed sum; the 1-row max broadcasts like q37's
    * bounds; both score chains checkpoint eagerly on their OWN
    * [[LineageCheckpoint]] rotation (two interleaved chains — a shared
    * rotation would free the auth frame the final result still reads).
    * Overflow bound: unitMicro · maxRaw must stay under 2⁶³ —
    * unitMicro=1e6 is safe to in-degrees of ~9×10⁶.
    *
    * Returns (node, hub, auth) from the final round.
    */
  /** `convergeTol = Some(tol)` turns `iters` into a MAXIMUM, the
    * [[pageRank]]/[[labelPropagation]] symmetry: the loop stops the
    * first round BOTH chains' max-abs score delta is ≤ tol (each
    * checked on the just-checkpointed frame by carrying the previous
    * score — no re-run of the iteration joins) and FAILS LOUDLY if
    * `iters` rounds pass without it, because integer-normalized HITS
    * can oscillate and a truncated oscillation must never silently
    * read as a ranking.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, unitMicro: Long = 1000000L,
      assumeDistinct: Boolean = false,
      checkpointDir: Option[String] = None,
      convergeTol: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(unitMicro > 0, s"unitMicro must be positive, got $unitMicro")
    val cast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = (if (assumeDistinct) cast else cast.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = edges.sparkSession
    val ckA = new LineageCheckpoint(spark, checkpointDir)
    val ckH = new LineageCheckpoint(spark, checkpointDir)
    // r22 (guide §1.2 step 1): each half-step's RAW sums materialize on
    // their own rotation before the max is taken. Lazy, the raw frame's
    // edge-sized join+aggregate was evaluated TWICE per half-step — once
    // inside the broadcast subquery computing the max, once on the
    // stream side of the rescale join (the band-self-join lesson: two
    // consumers of a lazy subtree pay it twice unless an exchange reuse
    // happens to line up, and here the broadcast side's extra max-agg
    // node breaks the match). Materialized, the max is a 1-column scan
    // of node-sized blocks and the rescale join reads the same blocks.
    // The rotation frees each raw frame when the opposite half-step's
    // raw lands (by then its consumer is checkpointed); `release()` in
    // the finally frees the last one.
    val ckRaw = new LineageCheckpoint(spark, checkpointDir)
    var hubs = nodes.select(col("node"), lit(unitMicro).as("hub"))
    // Uniform initial authorities exist only as the round-1 comparison
    // base for the convergence check; the score chain itself always
    // derives auths from hubs first.
    var auths: DataFrame = nodes.select(col("node"), lit(unitMicro).as("auth"))
    var converged = false
    try {
      var i = 0
      while (i < iters && !converged) {
        val aRaw = ckRaw(
          e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("hub")).as("ar")))
        val aMax = aRaw.agg(max(col("ar")).as("am"))
        val aNew = nodes.join(aRaw, Seq("node"), "left")
          .crossJoin(broadcast(aMax))
          .select(col("node"),
            expr(s"($unitMicro * coalesce(ar, CAST(0 AS BIGINT))) div am")
              .as("auth"))
        var aSettled = true
        convergeTol match {
          case None => auths = ckA(aNew)
          case Some(tol) =>
            val next = ckA(aNew
              .join(auths.select(col("node"), col("auth").as("_hi_old")),
                Seq("node"))
              .select(col("node"), col("auth"), col("_hi_old")))
            aSettled = next.filter(abs(col("auth") - col("_hi_old")) > tol).isEmpty
            auths = next.select(col("node"), col("auth"))
        }
        val hRaw = ckRaw(
          e.join(auths.withColumnRenamed("node", "dst"), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("auth")).as("hr")))
        val hMax = hRaw.agg(max(col("hr")).as("hm"))
        val hNew = nodes.join(hRaw, Seq("node"), "left")
          .crossJoin(broadcast(hMax))
          .select(col("node"),
            expr(s"($unitMicro * coalesce(hr, CAST(0 AS BIGINT))) div hm")
              .as("hub"))
        convergeTol match {
          case None => hubs = ckH(hNew)
          case Some(tol) =>
            val next = ckH(hNew
              .join(hubs.select(col("node"), col("hub").as("_hi_old")),
                Seq("node"))
              .select(col("node"), col("hub"), col("_hi_old")))
            converged = aSettled &&
              next.filter(abs(col("hub") - col("_hi_old")) > tol).isEmpty
            hubs = next.select(col("node"), col("hub"))
        }
        i += 1
      }
    } finally { e.unpersist(); nodes.unpersist(); ckRaw.release() }
    require(convergeTol.isEmpty || converged,
      s"HITS did not converge within $iters rounds (tol=${convergeTol.get})")
    hubs.join(auths, "node")
  }

  /** Synchronous LABEL PROPAGATION (Raghavan 2007) community
    * detection, deterministic: label₀(v) = v; each round every node
    * adopts the most frequent label among its in-neighbors, ties
    * broken to the SMALLEST label — spelled as the mergeable
    * `max_by(lbl, (cnt, -lbl))` aggregate, NOT a per-node window sort,
    * so at 100 TB only one (node, label) row per group per task
    * crosses the exchange (q24's argument applied to the LPA vote).
    * Classic async LPA is run-order-dependent; the synchronous total-
    * order form is bit-identical across engines and layouts, so q40's
    * oracle unrolls the rounds declaratively. Callers pass an
    * UNDIRECTED (symmetrized) edge list — propagation follows
    * src → dst.
    *
    * Same loop discipline as [[pageRank]]: edges persisted, each
    * round's label frame eagerly checkpointed with superseded rounds
    * freed ([[LineageCheckpoint]]). Returns (node, label).
    */
  /** `converge = true` turns `iters` into a MAXIMUM: the loop stops
    * the first round no node changed label (checked on the just-
    * checkpointed frame by carrying the previous label — one job per
    * round) and FAILS LOUDLY if `iters` rounds pass without a fixed
    * point, because sync LPA can 2-cycle on near-bipartite structure
    * and a truncated oscillation must never silently read as a
    * clustering.
    */
  /** Per-node TRIANGLE counts + degrees over the undirected simple
    * graph `edges` induces — the clustering-structure primitive under
    * local clustering coefficients, community cohesion, and spam/bot
    * neighborhood signals (the reusable form of the orientation the
    * d78 transitivity query inlines; d78 keeps its 1-row global
    * ratio, this emits the per-node face). Non-iterative, so unlike
    * the loops above it is ONE declarative plan: canonicalize {a < b}
    * undirected edges,
    * compute degrees, then count each triangle exactly once via
    * DEGREE ORDERING (Suri & Vassilvitskii, "Counting triangles and
    * the curse of the last reducer", WWW 2011): orient every edge from
    * its (degree, id)-smaller endpoint to the larger, generate wedges
    * only from ORIENTED out-neighbor pairs, and close each wedge
    * against the oriented edge set. Orientation is the whole scale
    * story — a hub of degree d contributes C(d,2) wedges under naive
    * node-iteration (the "last reducer" that dies on power-law
    * graphs), but oriented out-degrees are O(√m) for ANY graph, so
    * wedge volume is bounded by m^{3/2} and, more to the point, no
    * single key is quadratic in a hub's degree. Every stage is a hash
    * join or aggregate on node / (x, y) pair keys — no window, no
    * driver state, nothing collected; the per-node fold explodes each
    * triangle to its 3 corners (3 rows per triangle, the catalog-sized
    * tail). Returns (node, degree, triangles) for nodes in ≥ 1
    * triangle. Parallel/reversed edges collapse; self-loops drop.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val und = edges.select(
        least(col(srcCol).cast("long"), col(dstCol).cast("long")).as("a"),
        greatest(col(srcCol).cast("long"), col(dstCol).cast("long")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // Orient by the total (deg, id) order: ids are distinct, so the
    // order has no ties and the oriented graph is acyclic — each
    // triangle has exactly one wedge-apex (its smallest corner).
    // identical field names on both sides — casewhen requires the two
    // branches to be the same struct TYPE, names included.
    val keyA = struct(col("da").as("d"), col("a").as("i"))
    val keyB = struct(col("db").as("d"), col("b").as("i"))
    val oriented = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(keyA < keyB, col("a")).otherwise(col("b")).as("u"),
        when(keyA < keyB, col("b")).otherwise(col("a")).as("v"),
        when(keyA < keyB, keyB).otherwise(keyA).as("vkey"))
    // Wedges from each apex's out-neighbors, canonicalized x < y in
    // the SAME (deg, id) order the orientation used — so the closing
    // edge {x, y}, if present, is oriented exactly x → y.
    val e1 = oriented.select(col("u"), col("v").as("x"), col("vkey").as("xkey"))
    val e2 = oriented.select(col("u"), col("v").as("y"), col("vkey").as("ykey"))
    val tri = e1.join(e2, Seq("u"))
      .filter(col("xkey") < col("ykey"))
      .select(col("u"), col("x"), col("y"))
      .join(oriented.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"))
    tri.select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
      .join(deg, "node")
      .select(col("node"), col("deg").as("degree"), col("triangles"))
  }

  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, assumeDistinct: Boolean = false,
      checkpointDir: Option[String] = None,
      converge: Boolean = false): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val cast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val e = (if (assumeDistinct) cast else cast.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val ck = new LineageCheckpoint(edges.sparkSession, checkpointDir)
    var labels = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .select(col("node"), col("node").as("label"))
    var fixed = false
    try {
      var i = 0
      while (i < iters && !fixed) {
        val votes = e
          .join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("node"))
          .agg(max_by(col("label"),
            struct(col("cnt"), (lit(0L) - col("label")))).as("_lp_new"))
        if (converge) {
          val next = ck(labels.join(votes, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("_lp_new"), col("label")).as("label"),
              col("label").as("_lp_old")))
          fixed = next.filter(col("label") =!= col("_lp_old")).isEmpty
          labels = next.select(col("node"), col("label"))
        } else {
          labels = ck(labels.join(votes, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("_lp_new"), col("label")).as("label")))
        }
        i += 1
      }
    } finally e.unpersist()
    require(!converge || fixed,
      s"label propagation did not reach a fixed point within $iters rounds")
    labels
  }

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, initMicro: Long = 1000000L, baseMicro: Long = 150000L,
      dampNum: Long = 85L, dampDen: Long = 100L,
      assumeDistinct: Boolean = false,
      teleport: Option[DataFrame] = None,
      teleportCol: String = "node",
      checkpointDir: Option[String] = None,
      skewSalt: Int = 0,
      convergeTol: Option[Long] = None): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"damping must satisfy 0 <= num <= den, got $dampNum/$dampDen")
    require(skewSalt >= 0, s"skewSalt must be >= 0, got $skewSalt")
    val cast = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // The edge+degree and node frames are read by EVERY iteration.
    // Left lazy, each iteration's action would re-derive them — for
    // q29 that is the lineitem self-join + distinct recomputed up to
    // 2·iters+1 times. Persist both (disk-spillable: the edge list of
    // a 100-TB corpus graph outgrows executor memory), and
    // eagerly checkpoint each iteration's rank frame — the same
    // lineage-truncation cadence as the connected-components loop
    // (`text/Dedup.scala` dupComponents): the plan stays one join deep
    // instead of unrolling all iterations, and the final frame no
    // longer references the persisted inputs, so releasing them on
    // exit is safe. The rotation also frees each SUPERSEDED
    // iteration's checkpoint as soon as the next one materializes
    // ([[LineageCheckpoint]]) — without that, iters-1 dead rank frames
    // sit in executor memory until the ContextCleaner gets to them.
    val e = (if (assumeDistinct) cast else cast.distinct())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // r22 (guide §2.4/§3.1): the out-degree column RIDES the persisted
    // edge frame instead of joining per iteration — the old shape paid
    // one deg join (a broadcast build at local scale; at web scale deg
    // is node-sized and NOT broadcastable, i.e. a second shuffle) in
    // EVERY iteration for a value that never changes. One src-keyed
    // join at setup attaches it once; each iteration is then a single
    // equi-join of the edge+deg frame with the rank frame. Salt (when
    // requested) is pre-keyed on the same frame, as before.
    // Persisted PRE-PARTITIONED on the loop's join key (guide §2.4:
    // operations keyed the same way share one exchange, and an
    // InMemoryRelation preserves its child's partitioning): the
    // contribution join re-shuffled the edge-sized cache on `src` in
    // EVERY iteration; one repartition paid at setup removes that
    // exchange from all of them — only the node-sized rank frame moves
    // per round. Same for the node frame below: the post-aggregate
    // left join is keyed by `node`, and the aggregate's output already
    // carries hash(node) partitioning, so with the cache partitioned
    // the same way the per-iteration join plans exchange-free on both
    // sides.
    val eDeg0 = e.join(deg, "src")
    val eDeg = (if (skewSalt > 1)
        eDeg0.withColumn("_gr_salt", pmod(hash(col("dst")), lit(skewSalt)))
          .repartition(col("src"), col("_gr_salt"))
      else eDeg0.repartition(col("src")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bare = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nodes = (teleport match {
      case Some(t) =>
        val tn = t.select(col(teleportCol).cast("long").as("node"))
          .distinct().withColumn("_gr_in", lit(1L))
        bare.join(tn, Seq("node"), "left")
          .select(col("node"), coalesce(col("_gr_in"), lit(0L)).as("_gr_seed"))
      case None => bare.withColumn("_gr_seed", lit(1L))
    }).repartition(col("node")).persist(StorageLevel.MEMORY_AND_DISK)
    val checkpointed =
      new LineageCheckpoint(edges.sparkSession, checkpointDir)
    var ranks = nodes
      .select(col("node"), (lit(initMicro) * col("_gr_seed")).as("rank"))
    var converged = false
    try {
      var i = 0
      while (i < iters && !converged) {
        // Salted path: the rank frame (small side) replicates S ways and
        // meets the pre-salted edge+deg frame on (src, salt) — deg
        // already rides the edge side, so the small side stays rank-only.
        val contrib = (if (skewSalt > 1) {
          eDeg.join(ranks.withColumnRenamed("node", "src")
              .withColumn("_gr_salt",
                explode(sequence(lit(0), lit(skewSalt - 1)))),
            Seq("src", "_gr_salt"))
        } else {
          eDeg.join(ranks.withColumnRenamed("node", "src"), "src")
        })
          .groupBy(col("dst").as("node"))
          .agg(sum(expr("rank div deg")).as("s"))
        val newRank =
          (lit(baseMicro) * col("_gr_seed") +
            expr(s"($dampNum * coalesce(s, CAST(0 AS BIGINT))) div $dampDen"))
            .as("rank")
        convergeTol match {
          case None =>
            ranks = checkpointed( // eager: materialized before the next round
              nodes.join(contrib, Seq("node"), "left")
                .select(col("node"), newRank))
          case Some(tol) =>
            // One frame carries old and new rank: the checkpoint
            // materializes it (one job) and the convergence check is a
            // cheap scan of the materialized result — no re-run of the
            // iteration join.
            val next = checkpointed(
              nodes.join(contrib, Seq("node"), "left")
                .join(ranks.select(col("node"),
                  col("rank").as("_gr_old")), Seq("node"))
                .select(col("node"), newRank, col("_gr_old")))
            converged =
              next.filter(abs(col("rank") - col("_gr_old")) > tol).isEmpty
            ranks = next.select(col("node"), col("rank"))
        }
        // After the first iteration's action, everything derived from
        // the bare edge frame (eDeg's cache, nodes' cache) is
        // materialized — free the duplicate edge copy instead of
        // holding both for the loop's life (at corpus scale the edge
        // list is the dominant state).
        if (i == 0) e.unpersist()
        i += 1
      }
    } finally {
      e.unpersist(); eDeg.unpersist(); nodes.unpersist()
    }
    require(convergeTol.isEmpty || converged,
      s"PageRank did not converge within $iters rounds (tol=${convergeTol.get})")
    ranks
  }
}
