package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSession}

/** Plan contracts: the scale properties the queries claim (pushdown,
  * pruning, per-partition top-k, single-shuffle windows) asserted
  * against the actual physical plans — a regression here is a silent
  * 100×-scale problem long before it is a wall-clock problem.
  */
class PlanSpec extends AnyFunSuite {
  import TestSession.{sf, spark}

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  /** (requiredSchema fields, PushedFilters metadata) of every parquet
    * scan in the query's physical plan — plan.toString truncates long
    * lists, so assertions read the scan nodes directly.
    */
  private def scans(q: String): Seq[(Seq[String], String)] =
    fileScans(SparkEntry.queries(q)(spark, sf)).map(f =>
      (f.requiredSchema.fieldNames.toSeq,
        f.metadata.getOrElse("PushedFilters", "")))

  /** Every parquet scan node of a frame's physical plan. sparkPlan, not
    * executedPlan: AQE's wrapper node hides its subtree from collect()
    * until execution. A driver-finished frame (a `CommandResult` —
    * TextIndex's solo faces when the candidates fit) holds the rows its
    * source read produced; that read's scans count as the frame's.
    */
  private def fileScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case c: CommandResultExec => all(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    all(df.queryExecution.sparkPlan).collect { case f: FileSourceScanExec => f }
  }

  /** The plan shape of a driver-finished TextIndex search: the frame
    * holds the driver-scored rows, and its one source read is a
    * map-only pass over the pruned scan — no sort, no exchange, nothing
    * corpus-scale runs as a Spark stage after it.
    */
  private def driverFinished(p: String): Boolean =
    p.startsWith("CommandResult") && !p.contains("Sort") &&
      !p.contains("Exchange")

  test("q02: filters push into the parquet scan; unused columns pruned") {
    val Seq((cols, pushed)) = scans("q02_filter_project")
    assert(pushed.contains("IsNotNull(l_shipdate)"))
    assert(pushed.contains("GreaterThan(l_quantity,45.0)"))
    assert(!cols.contains("l_tax") && !cols.contains("l_returnflag"),
      s"unread columns must be pruned, scan reads: $cols")
  }

  test("q07/v01: top-k plans as TakeOrderedAndProject, not global sort") {
    assert(plan("q07_topk_orders").contains("TakeOrderedAndProject"))
    assert(plan("v01_knn_exact").contains("TakeOrderedAndProject"))
    // The SQL-text face must get the same physical top-k AND the same
    // codegen'd native expression as the Column API.
    val sqlFace = plan("v19_sql_knn")
    assert(sqlFace.contains("TakeOrderedAndProject"))
    assert(sqlFace.contains("cosine_similarity"),
      "the registry must resolve to the native Catalyst expression")
  }

  test("e02: sessionization uses exactly one hash shuffle (user_id)") {
    val p = plan("e02_sessionization")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected 1 user_id shuffle, found $hashExchanges:\n${p.take(600)}")
  }

  test("d01: chunking reads only doc_id and text") {
    val Seq((cols, _)) = scans("d01_char_chunks")
    assert(cols.sorted == Seq("doc_id", "text"),
      s"chunking must read exactly (doc_id, text), got: $cols")
  }

  test("d20/d21: section build and media decode are row-local — no hash shuffle") {
    // The only exchange allowed is the presentation orderBy's range
    // partitioning; a hash exchange would mean the 1→N flatMap or the
    // mapPartitions decode secretly aggregates or joins.
    Seq("d20_web_sections", "d21_media_decode").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle:\n${p.take(600)}")
      assert(!p.contains("Join"), s"$q must not join")
    }
  }

  test("d93: blocklist scan is a pure scan projection — no join, no hash shuffle") {
    val p = plan("d93_blocklist_scan")
    assert(!p.contains("Join"), s"pattern fan-out must be row-local:\n${p.take(600)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no aggregation/join shuffle — only the presentation sort:\n${p.take(600)}")
    assert(p.contains("aho_counts"),
      "the native AC expression must survive into the physical plan")
    assert(scans("d93_blocklist_scan").forall(_._1.sorted == Seq("doc_id", "text")),
      "the scan must read exactly (doc_id, text)")
  }

  test("d92: prefix-filter join — equi joins only, prefixes picked below the shingle join") {
    val p = plan("d92_prefix_filter_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate join degenerated to a cross product:\n${p.take(600)}")
    // The doc-keyed prefix windows (row_number + per-doc count share
    // one sort) must sit BELOW the candidate self-join: the plan has
    // window nodes AND the join count stays the prefix shape's five
    // (posting⋈df, the prefix self-join, candidates⋈sets twice, plus
    // nothing else) — a sixth join would mean the verify step stopped
    // being row-local.
    assert("Window \\[".r.findAllIn(p).nonEmpty,
      "prefix selection must be the doc-keyed window")
    val joins = "Join ".r.findAllIn(p).length
    assert(joins <= 5, s"expected ≤5 equi joins, found $joins:\n${p.take(800)}")
    // r21: the distinct-shingle sets are computed ONCE and locally
    // checkpointed (the posting explode and both verify joins read the
    // materialized frame), so the final plan's passes read the
    // checkpointed RDD and no parquet scan survives — the corpus
    // tokenize+shingle pass runs exactly once, at materialization.
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d92 must read the materialized shingle-set frame:\n${p.take(600)}")
    assert(scans("d92_prefix_filter_pairs").isEmpty,
      "no parquet re-scan may survive — the one corpus pass ran at " +
        "shingle-set materialization")
  }

  test("q06: pure scan-aggregate — no join, no window") {
    val p = plan("q06_revenue_delta")
    assert(!p.contains("Join") && !p.contains("Window"))
    assert(p.contains("PushedFilters:"))
  }

  test("d35: inverted-index Jaccard — equi joins only, one materialized shingle pass") {
    val p = plan("d35_ngram_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"posting-list join degenerated to a cross product:\n${p.take(600)}")
    // r21: the shingle-set frame is locally checkpointed (posting
    // explode + both size joins read it), so the served plan reads the
    // materialized RDD and the corpus pays exactly one tokenize pass.
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d35 must read the materialized shingle-set frame:\n${p.take(600)}")
    assert(scans("d35_ngram_jaccard").isEmpty,
      "no parquet re-scan may survive — the one corpus pass ran at " +
        "shingle-set materialization")
  }

  test("e06: interval join is an equi join on (key, bucket) — never a per-key cross product") {
    val p = plan("e06_interval_join")
    assert(p.contains("_iv_bucket"),
      s"bucket key missing from the join:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("e07: latest-state compaction partial-aggregates map-side, no window") {
    val p = plan("e07_last_state")
    assert(p.contains("partial_max_by"),
      s"map-side partial aggregation missing:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "compaction must not sort raw events through a per-key window")
  }

  test("q22: KMV sketch partial-aggregates before the exchange") {
    val p = plan("q22_kmv_distinct")
    assert(p.contains("partial_kmvdistinct"),
      s"KMV must combine map-side:\n${p.take(600)}")
  }

  test("q24: group top-k partial-aggregates map-side — no window sort of raw rows") {
    val p = plan("q24_group_topk")
    assert(p.contains("partial_topkbyscore"),
      s"top-k must combine map-side:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "the aggregate form must not sort whole groups through a window")
  }

  test("d05: minhash signatures are a pure projection — no hash shuffle, no join") {
    val p = plan("d05_minhash_signature")
    assert(!p.contains("Exchange hashpartitioning"),
      s"signature stage must not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"))
  }

  test("d04/d13/d17: one hash shuffle each (the single aggregate they claim)") {
    Seq("d04_exact_dedup", "d13_simhash", "d17_train_split").foreach { q =>
      val n = "Exchange hashpartitioning".r.findAllIn(plan(q)).length
      assert(n == 1, s"$q: expected exactly 1 hash shuffle, found $n")
    }
  }

  test("q20: rank-based quantiles — no Percentile buffer, spillable sort") {
    // Spark's `percentile` aggregate holds every group value in one
    // in-memory buffer (OOM at 1e8 rows/group). The two-pass plan must
    // instead rank via a disk-spillable window sort and keep the big
    // table's contribution inside ordinary partial aggregation.
    val p = plan("q20_quantiles")
    assert(!p.toLowerCase.contains("percentile"),
      s"q20 must not use the Percentile aggregate:\n${p.take(600)}")
    assert(p.contains("Window"), "q20 must rank via a window sort")
    assert(p.contains("partial"), "final agg must be map-side partial first")
  }

  test("d34: PII redaction is a pure projection over a pruned scan") {
    val p = plan("d34_pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction must ride the scan, not shuffle:\n${p.take(600)}")
    assert(!p.contains("Join"))
    val Seq((cols, _)) = scans("d34_pii_redact")
    assert(cols.sorted == Seq("doc_id", "text"),
      s"redaction must read exactly (doc_id, text), got: $cols")
  }

  test("d32: repetition stats are two map-side-combined aggregations") {
    val p = plan("d32_repetition_stats")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"d32: expected 2 hash shuffles ((doc,term) then doc), found $n")
    assert(p.contains("partial"), "aggregation must be map-side partial first")
    assert(!p.contains("Join"))
  }

  test("d33: span dedup is one window-hash shuffle plus one doc regroup — no join") {
    val p = plan("d33_global_chunk_dedup")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"d33: expected 2 hash shuffles (md5(chunk), doc_id), found $n")
    assert(!p.contains("Join"), "first-occurrence keep must be a window, not a self-join")
  }

  test("v08: k-means step assigns without a join and aggregates once") {
    val p = plan("v08_kmeans_step")
    assert(!p.contains("Join"),
      s"assignment must be a broadcast-codebook projection, not a join:\n${p.take(600)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"v08: expected 1 hash shuffle ((cluster,pos) agg), found $n")
    assert(p.contains("partial"), "mean must be map-side partial first")
  }

  test("e01 claim: date-partitioned events prune the scan to the filtered day") {
    // e01's scaladoc claims "at 100 TB the scan prunes on a date
    // partition column" — prove it: the same rollup over a
    // date-partitioned layout with a day filter must plan a
    // PartitionFilter and touch ONE partition, not list-and-filter rows.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-events-part")
      .resolve("events").toString
    graft.Tables.events(spark, sf)
      .withColumn("event_date",
        to_date(timestamp_micros(expr("ts_ns div 1000"))))
      .write.partitionBy("event_date").parquet(dir)
    val part = spark.read.parquet(dir)
    val nDays = part.select(col("event_date")).distinct().count()
    assert(nDays > 1, s"fixture degenerated: only $nDays event day(s)")
    val day = part.select(min(col("event_date"))).head().getDate(0)
    val rolled = part
      .filter(col("event_date") === lit(day))
      .groupBy(
        timestamp_micros(expr("(ts_ns div 1000) - (ts_ns div 1000) % 3600000000"))
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val Seq(scan) = rolled.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("event_date"),
      s"no partition filter in scan: ${scan.metadata.getOrElse("PartitionFilters", "")}")
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 pruned partition of $nDays, " +
        s"scanned ${scan.selectedPartitions.partitionCount}")
    assert(rolled.count() > 0)
  }

  test("v09/d37: dedup compositions plan equi joins only — no cross products") {
    Seq("v09_semantic_dedup", "d37_neardup_decontaminate").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q degenerated to a cross product:\n${p.take(600)}")
    }
  }

  test("v11: both quantized-ANN stages plan as per-partition top-k heaps") {
    val p = plan("v11_quantized_knn")
    val n = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(n == 2, s"expected coarse+rescore TakeOrderedAndProject pair, found $n")
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantized knn must not shuffle:\n${p.take(600)}")
  }

  test("d38: budgeted sampling partial-aggregates — no per-language window sort") {
    val p = plan("d38_language_budget")
    assert(p.contains("partial_topkbyscore"),
      s"budget pick must combine map-side:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "the sample must not sort whole languages through a window")
  }

  test("q25: the profile reads the fact table exactly once") {
    val n = scans("q25_table_profile").length
    assert(n == 1, s"profile must be one scan, found $n")
    val p = plan("q25_table_profile")
    assert(!p.contains("Join"), "profile must not join")
  }

  test("q26: sketch profile has no Expand — one scan, map-side-combined KMV") {
    // q25's exact countDistinct columns share an Expand that multiplies
    // every scan row 5× into the first aggregate; the sketch variant
    // must plan as a plain partial+final aggregate over the single scan.
    val p = plan("q26_profile_sketch")
    assert(!p.contains("Expand"),
      s"sketch profile must not expand scan rows:\n${p.take(600)}")
    assert(p.contains("partial_kmvdistinct"),
      "the KMV columns must combine map-side")
    assert(!p.contains("Join"), "profile must not join")
    assert(scans("q26_profile_sketch").length == 1,
      "profile must be one scan")
    // the contrast that motivates q26: the exact profile pays the Expand
    assert(plan("q25_table_profile").contains("Expand"))
  }

  test("d47: curriculum binning — no window sort, 1-row broadcast thresholds") {
    // The NTILE idiom this row replaces sorts every row on ONE
    // partition; the sketch-threshold form must show no Window at all,
    // a map-side-combined bottom-k aggregate, and the thresholds
    // arriving as a broadcast nested-loop join of a 1-row frame.
    val p = plan("d47_curriculum_bins")
    assert(!p.contains("Window"),
      s"binning must not sort data-scale rows through a window:\n${p.take(600)}")
    assert(p.contains("partial_bottomkquantile"),
      s"threshold sketch must combine map-side:\n${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "thresholds must broadcast, not shuffle")
  }

  test("d39: PPS sampling runs on a single group-keyed exchange") {
    val p = plan("d39_pps_sample")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"both windows must share one source-keyed exchange, found $n")
    assert(!p.contains("Join"))
  }

  test("d45: shard export — one shard-keyed hash exchange, no join") {
    // The operator's only exchange is the shard key the partitioned
    // writer reuses; the trailing orderBy is the oracle's determinism
    // sort (range exchange), not part of the operator.
    val p = plan("d45_shard_export")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected the single shard exchange, found $n:\n${p.take(600)}")
    assert(!p.contains("Join"))
  }

  test("v14: semantic decontamination broadcasts the eval side — the train corpus never hash-shuffles pre-filter") {
    val p = plan("v14_semantic_decontaminate")
    assert(p.contains("Broadcast"), s"eval side must broadcast:\n${p.take(600)}")
    // the one hash exchange is the per-train-doc argmax window over the
    // already-thresholded (rare) pairs, not the corpus
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected only the post-filter argmax exchange, found $n")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("d46: corpus overlap — one corpus-keyed partial aggregation, no join of the shingle sets") {
    val p = plan("d46_corpus_overlap")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected only the per-corpus state exchange, found $n")
    assert(!p.contains("Join"), "the shingle sets must never be joined")
    assert(p.contains("partial_"), "bottom-k states must combine map-side")
  }

  test("d40: LM scoring joins on equi keys only, no cross products") {
    val p = plan("d40_unigram_logprob")
    assert(!p.contains("CartesianProduct"),
      s"term join degenerated:\n${p.take(600)}")
    // the 1-row totals frame may ride a broadcast nested loop (it is a
    // scalar); the term-prob join itself must stay an equi join
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), "expected an equi join on the term key")
  }

  test("d41: capped LM serving broadcasts the model; the cap is a top-k, not a full sort") {
    val p = plan("d41_unigram_capped")
    assert(p.contains("BroadcastHashJoin"),
      s"the ≤V-row capped model must broadcast into the scoring join:\n${p.take(600)}")
    assert(p.contains("TakeOrderedAndProject"),
      "the vocab cap must plan as per-partition top-k heaps, not a global sort")
    assert(!p.contains("SortMergeJoin"),
      "the token side must never shuffle on the term key under the cap")
  }

  test("d42: mix composition — map-side budget pick broadcasts, no cross products") {
    val p = plan("d42_corpus_mix")
    assert(p.contains("partial_topkbyscore"),
      s"the language budget must combine map-side:\n${p.take(600)}")
    assert(p.contains("BroadcastHashJoin"),
      "the ≤budget-row pick must broadcast into the corpus join")
    assert(!p.contains("CartesianProduct"),
      "no stage of the mix may degenerate to a cross product")
  }

  test("d43: n-gram profile — map-side KMV, two-phase distinct, no Expand, no join") {
    val p = plan("d43_ngram_profile")
    assert(p.contains("partial_kmvdistinct"),
      s"the sketch must combine map-side:\n${p.take(600)}")
    assert(!p.contains("Expand"),
      "the single exact-distinct witness must use the two-phase path, not Expand")
    assert(!p.contains("Join"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"d43: expected <= 2 hash shuffles (lang, lang+sh), found $n")
  }

  test("d44: line boilerplate — line-keyed df + join + doc regroup, nothing all-pairs") {
    val p = plan("d44_line_boilerplate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"line df gate degenerated to a cross product:\n${p.take(600)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 3,
      s"d44: expected 3 hash shuffles (line df, line join, doc regroup), found $n")
  }

  test("d18: distinct-doc term stats use the two-phase partial aggregate") {
    // countDistinct must plan as partial_count(distinct ...) under ONE
    // (term)-keyed exchange pair, not an expand + extra shuffle per
    // distinct column.
    val p = plan("d18_term_stats")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"d18: expected <= 2 hash shuffles (term, term+doc), found $n")
    assert(p.contains("partial"), "aggregation must be map-side partial first")
  }

  test("d48: heavy hitters recount only broadcast candidates — no full-key-space exchange") {
    // The component's entire reason to exist (Sketches.exactHeavyHitters
    // class doc): pass 1 moves O(k) Misra-Gries state per task, the ≤ k
    // survivors broadcast back, and the ONLY phrase-keyed hash exchange
    // is the recount AFTER the broadcast semi-join has filtered the
    // scan — a hash exchange keyed on the raw phrase column before that
    // join would ship the full trigram key space, which at corpus scale
    // IS the corpus.
    val p = plan("d48_heavy_phrases")
    assert(p.contains("BroadcastHashJoin"),
      s"candidates must come back as a broadcast join:\n${p.take(600)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1,
      s"d48: expected exactly 1 hash exchange (the post-join recount), found $n")
    // The candidate pass itself is a global (single-partition) aggregate
    // of O(k) partial state, not a keyed shuffle.
    assert(p.contains("Exchange SinglePartition"),
      "the MG candidate pass must reduce to a single-partition aggregate")
  }

  test("q33: unpivot melts row-locally — one Expand, one scan, no union re-scan") {
    // The naive melt spelling reads the parquet once per measure
    // column through a UNION ALL; native unpivot is a row-local
    // Expand over ONE scan, and the only keyed exchange is the
    // per-measure aggregate downstream.
    val p = plan("q33_unpivot")
    assert(p.contains("Expand"), s"unpivot must plan as Expand:\n${p.take(600)}")
    assert(!p.contains("Union"), "melt must not union-all re-scan the table")
    assert(scans("q33_unpivot").length == 1, "melt must read the table once")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 measure-keyed exchange, found $n")
  }

  test("q34: moments profile is one scan, one partial+final aggregate, no join") {
    val p = plan("q34_moments_profile")
    assert(scans("q34_moments_profile").length == 1)
    assert(!p.contains("Join"), "the five moments ride one aggregate")
    assert(p.contains("partial"), "moment sums must combine map-side")
  }

  test("q31: dynamic pivot's final plan is one aggregate over one scan — no join") {
    // The values pre-pass is a SEPARATE job at plan time (the
    // documented two-job price of values-less pivot). The final plan
    // is Spark's two-level lowering for multi-aggregate pivots: a
    // (status, priority) pre-aggregate — which collapses data-scale
    // rows to |status|·|priorities| before anything else moves — then
    // PivotFirst keyed on status. Two exchanges, both over already-
    // tiny frames; never a join, never a second scan.
    val p = plan("q31_pivot_dynamic")
    assert(scans("q31_pivot_dynamic").length == 1)
    assert(!p.contains("Join"))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected the two-level pivot lowering, found $n exchanges")
    assert(p.contains("partial"), "the pre-aggregate must combine map-side")
  }

  test("e11: sketch cardinality — hour-keyed exchanges only, map-side partial KMV") {
    // The exact-count witness column forces the two-phase distinct
    // plan (one (hour,user) exchange before the hour exchange); the
    // KMV column itself combines map-side as O(k) partial state —
    // production drops the witness and keeps the single-exchange
    // sketch. Nothing here may expand rows or join.
    val p = plan("e11_hourly_users")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"expected <= 2 hour-keyed exchanges, found $n")
    assert(p.contains("partial_kmvdistinct"),
      "the sketch must combine map-side")
    assert(!p.contains("Join"), "windowed cardinality must not join")
  }

  test("q36: shard-merge profile — one scan, no join, shard then global aggregate") {
    // The incremental-statistics claim: partial profiles fold WITHOUT
    // rescanning. One lineitem scan feeds the shard aggregate; the
    // fold is a second (global) aggregate over 4 shard rows — never a
    // join, never a second scan.
    val p = plan("q36_profile_merge")
    assert(scans("q36_profile_merge").length == 1, "merge must not rescan")
    assert(!p.contains("Join"))
  }

  test("e12: rollup lattice rides one Expand with map-side partial sketch state") {
    val p = plan("e12_rollup_users")
    assert(p.contains("Expand"), "rollup must plan as Expand")
    assert(p.contains("partial_kmvdistinct"),
      "KMV must combine map-side through the lattice")
    assert(!p.contains("Join"))
    assert(scans("e12_rollup_users").length == 1,
      "all three granularities must come from one scan")
  }

  test("e13: moving window is a single user-keyed exchange") {
    val p = plan("e13_moving_window")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected 1 user_id exchange carrying sort+frames, found $n")
    assert(p.contains("Window"), "range frames plan as a Window node")
    assert(!p.contains("Join"))
  }

  test("e14: incremental state joins nothing but the 1-row cutoff broadcast") {
    // Snapshot and tail both derive from the events scan (a persisted
    // snapshot table replaces one at production); the only join-like
    // node allowed is the broadcast nested loop stamping the 1-row
    // cutoff frame.
    val p = plan("e14_incremental_state")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin")
      && !p.contains("BroadcastHashJoin"),
      s"state maintenance must not plan keyed joins:\n${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row cutoff must arrive as a broadcast")
  }

  test("e17/e18: exact gap quantiles pin the rank window; the sketch face has no per-type sort") {
    // e17 is the oracle-checkable EXACT contract: lag window plus a
    // per-type rank window (each type's whole gap column sorts in one
    // task — acceptable only because it is the exact face; the q25/q26
    // pinned-contrast pattern).
    val exact = plan("e17_gap_quantiles")
    assert("Window".r.findAllIn(exact).length >= 2,
      "e17 must carry both the lag window and the per-type rank window")
    // e18 is the SERVING face: same gaps, mergeable bottom-k sketch.
    // Exactly ONE Window (the fine-grained (user,type) lag) may
    // survive — a second would be the per-type sort creeping back —
    // and the sketch state must combine map-side.
    val sketch = plan("e18_gap_quantiles_sketch")
    assert("Window".r.findAllIn(sketch).length == 1,
      s"e18 must plan only the (user,type) lag window:\n${sketch.take(600)}")
    assert(sketch.contains("partial_bottomkquantile"),
      "the rank sketch must partial-aggregate map-side")
    assert(!sketch.contains("Join"))
  }

  test("e19: hourly leaderboard ranks via the mergeable top-k — no window sort") {
    val p = plan("e19_hourly_top_users")
    assert(!p.contains("Window"),
      s"the per-hour ranking must not plan a window sort:\n${p.take(600)}")
    assert(p.contains("partial_topkbyscore"),
      "the top-k state must partial-aggregate map-side")
  }

  test("q37: histogram buckets row-locally after a broadcast bounds row") {
    val p = plan("q37_histogram")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row min/max/count frame must broadcast")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1, s"expected only the bucket-keyed exchange, found $n")
  }

  test("e22: transition matrix — raw events cross one user-keyed window, no join") {
    val p = plan("e22_type_transitions")
    assert(p.contains("hashpartitioning(user_id"),
      s"the lag window must ride a user_id exchange:\n${p.take(600)}")
    assert(!p.contains("Join"),
      s"the matrix is lag + two aggregates — no join may appear:\n${p.take(600)}")
  }

  test("q38: bloom prefilter — 1-row bitset broadcast, row-local probe, semi join only sees candidates") {
    val p = plan("q38_bloom_semi_join")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the packed bloom row must broadcast to the fact scan")
    assert(p.contains("LeftSemi"),
      "the exact residual must plan as a semi join")
    // Column pruning per branch: the main branch reads exactly the
    // three needed columns; the witness-count branch prunes all the
    // way down to l_partkey (the only input of the bloom probe).
    val liScans = scans("q38_bloom_semi_join")
      .filter(_._1.contains("l_partkey")).map(_._1.sorted).sortBy(_.size)
    assert(liScans ==
      Seq(Seq("l_partkey"),
        Seq("l_extendedprice", "l_partkey", "l_returnflag")),
      s"lineitem branches must prune to 1 and 3 columns, got: $liScans")
  }

  test("v21: prefix rerank — both stages are per-partition top-k heaps") {
    val p = plan("v21_prefix_rerank")
    assert("TakeOrderedAndProject".r.findAllIn(p).length == 2,
      s"coarse and rescore stages must both plan as top-k heaps:\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("Join"))
  }

  test("d64: bloom row broadcasts; the probe is scan-side, not a key join") {
    val p = plan("d64_bloom_decontaminate")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the packed bloom row must broadcast to the fingerprint scan")
    // the ONLY equi joins are the exact residual against the eval fps
    // and the per-doc witness merge — the eval set itself never
    // becomes a shuffle-side of the train fingerprints
    assert(!p.contains("SortMergeJoin"),
      s"no fingerprint-keyed shuffle join may appear:\n${p.take(800)}")
  }

  test("d62: cluster topics rank via the mergeable tagged top-k — no window on cell") {
    // The r14 verdict's one `weak`: a rank window partitioned by cell
    // holds a cell's entire vocabulary in one task. The fix is e19's
    // idiom — state is 3 rows per cell per task, map-side combined.
    val p = plan("d62_cluster_topics")
    assert(!p.contains("Window"),
      s"the per-cell ranking must not plan a window sort:\n${p.take(600)}")
    assert(p.contains("partial_topkbyscoretagged"),
      "the tagged top-k state must partial-aggregate map-side")
  }

  test("d65: serving decontamination — only bloom-passed pairs cross a doc-keyed shuffle") {
    // The serving claim vs d64: dropping the n_probed witness drops
    // the exchange of the FULL pair set. Pin it structurally: every
    // shuffle that partitions on doc_id must have the bloom probe
    // (the unrolled bit-test filter) strictly BELOW it.
    val df = SparkEntry.queries("d65_bloom_serving")(spark, sf)
    // exchanges are inserted by EnsureRequirements — unwrap the AQE
    // node to see them (sparkPlan is pre-insertion, executedPlan's
    // collect() stops at the adaptive wrapper)
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(!exec.toString.contains("SortMergeJoin"),
      "no fingerprint-keyed shuffle join may appear")
    assert(exec.toString.contains("BroadcastNestedLoopJoin"),
      "the packed bloom row must broadcast to the fingerprint scan")
    val docKeyed = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("doc_id") => e
    }
    assert(docKeyed.nonEmpty, "the candidate dedup/count exchanges must exist")
    docKeyed.foreach { e =>
      assert(e.child.toString.contains("shiftright"),
        s"a doc-keyed exchange carries un-probed pairs:\n${e.toString.take(400)}")
    }
  }

  test("v22: pre-filter arm pushes the label predicate into the scan") {
    val pushed = scans("v22_filtered_knn").map(_._2)
    assert(pushed.exists(_.contains("EqualTo(label,3)")),
      s"the pre-filter must reach the parquet scan, got: $pushed")
    assert("TakeOrderedAndProject".r
      .findAllIn(plan("v22_filtered_knn")).length >= 2,
      "both arms must rank via per-partition top-k heaps")
  }

  test("e23: anomaly z-scores window over the catalog-sized hourly reduce, not raw events") {
    val p = plan("e23_hourly_anomaly")
    assert(!p.contains("Join"))
    assert("Window".r.findAllIn(p).length == 1,
      s"one trailing-24h window only:\n${p.split("\n").filter(_.contains("Window")).mkString("\n")}")
    // raw events cross one (type, hour) aggregation exchange; the
    // window re-keys only the reduced hourly rows by type.
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 2, s"expected agg + window exchanges, found $n:\n${p.take(800)}")
  }

  test("d56: filter cascade — one pruned scan, no join, no explode") {
    val p = plan("d56_filter_cascade")
    assert(!p.contains("Join"),
      s"all four rules must ride the scan row-locally:\n${p.take(600)}")
    // the only Generate is the stack over the single aggregate row —
    // nothing explodes raw documents.
    assert("Generate".r.findAllIn(p).length == 1 && p.contains("stack(4"),
      s"expected exactly the 1-row stack Generate:\n${p.take(600)}")
    val Seq((cols, _)) = scans("d56_filter_cascade")
    assert(cols.sorted == Seq("n_chars", "text"),
      s"cascade must read exactly (n_chars, text), got: $cols")
  }

  test("d57: hashed classifier — broadcast weight table, one doc-keyed exchange") {
    val p = plan("d57_hashed_classifier")
    assert(p.contains("BroadcastHashJoin"),
      "the D-row weight model must broadcast")
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n == 1,
      s"expected only the doc-keyed aggregation exchange, found $n:\n${p.take(800)}")
  }

  test("q39: HITS final plan joins two checkpointed score scans — no unrolled rounds") {
    // Same contract as q29: the loop's joins ran inside hits(); the
    // returned frame may only join the two materialized score chains.
    val p = plan("q39_basket_hits")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"q39 must scan the checkpointed hub/auth frames:\n${p.take(600)}")
    assert("Join".r.findAllIn(p).length <= 2,
      s"only the hub⋈auth join may survive:\n${p.take(600)}")
    assert(scans("q39_basket_hits").isEmpty,
      "no parquet scan may survive the checkpoints — the bipartite join ran inside hits()")
  }

  test("q40: LPA final plan is a checkpointed label scan; the vote is a mergeable aggregate") {
    val p = plan("q40_communities")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"q40 must scan the checkpointed label frame:\n${p.take(600)}")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"vote rounds must not unroll into the final plan:\n${p.take(600)}")
    assert(scans("q40_communities").isEmpty,
      "no parquet scan may survive the checkpoints")
  }

  test("d66: repetition metrics ride the scan — no hash exchange, no explode, no join") {
    val p = plan("d66_repetition_profile")
    assert(!p.contains("Exchange hashpartitioning"),
      s"the profile must not shuffle (d15 pays an exchange for less):\n${p.take(600)}")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"every metric must be an array-function projection:\n${p.take(600)}")
    val Seq((cols, _)) = scans("d66_repetition_profile")
    assert(cols.sorted == Seq("doc_id", "text"),
      s"profile must read exactly (doc_id, text), got: $cols")
  }

  test("d67: admission is a broadcast rate + scan-local predicate, never a per-group rank") {
    val p = plan("d67_source_budget")
    assert(p.contains("BroadcastHashJoin"),
      "the catalog-sized rate table must broadcast")
    assert(!p.contains("SortMergeJoin"),
      s"no corpus-keyed shuffle join may appear:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "admission is a hash rate, not a top-k — no rank window may appear")
  }

  test("d68: bigram scoring joins broadcast — the corpus never shuffles on term keys") {
    val p = plan("d68_bigram_lm")
    assert(!p.contains("SortMergeJoin"),
      s"model lookups must broadcast, not shuffle the corpus:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "bigram, context, and result-stitch joins must all broadcast")
    // The only term-keyed exchanges allowed are the trusted-slice model
    // BUILDS (vocabulary-bounded outputs); the scored corpus frame's own
    // exchange is the doc-keyed sum.
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row vocab total must broadcast into the scoring projection")
  }

  test("e27: attribution rides one as-of window pass + a catalog-sized rollup") {
    val p = plan("e27_attribution")
    assert("Window".r.findAllIn(p).length == 1,
      s"exactly the one (user, time) as-of fill window:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the as-of union must not plan as a join:\n${p.take(600)}")
    // Both event scans push their type predicate to parquet.
    val pushed = scans("e27_attribution").map(_._2)
    assert(pushed.exists(_.contains("EqualTo(event_type,purchase)")) &&
      pushed.exists(_.contains("In(event_type")),
      s"type filters must reach the scans, got: $pushed")
  }

  test("e28: drift cells join broadcast; the corpus pays one (type, day, bin) aggregate") {
    val p = plan("e28_value_drift")
    assert(!p.contains("SortMergeJoin"),
      s"bounds/baseline/totals are catalog-sized and must broadcast:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "PSI terms are aggregates, never a rank window")
  }

  test("v23: ADC search is a projection over codes + a top-k heap — no join at search time") {
    val p = plan("v23_pq_adc")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k must plan as per-partition heaps:\n${p.take(600)}")
    assert(!p.contains("Join"),
      s"the code→score tables are literals; scoring must ride the scan:\n${p.take(600)}")
  }

  test("d77: group split reads checkpointed labels; witnesses are 1-row broadcasts") {
    val p = plan("d77_component_split")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d77 must scan d71's checkpointed label frame:\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"bucketing is scan-local, witnesses aggregate:\n${p.take(600)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 2,
      "exactly the two 1-row leak witnesses may cross-join")
  }

  test("d78: triangle joins are vertex-keyed equi joins; only the 1-row count crosses") {
    val p = plan("d78_graph_transitivity")
    assert(!p.contains("CartesianProduct"),
      s"the wedge/closure joins must never cross:\n${p.take(600)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      "exactly the 1-row triangle count may cross-join")
    assert(!p.contains("Window"),
      "orientation is a degree-table join, never a rank window")
  }

  test("v25: the blocked arm joins on cell keys; only the exact contrast arm crosses") {
    val p = plan("v25_ivf_decontaminate")
    assert(!p.contains("CartesianProduct"),
      s"no unconditional cross product anywhere:\n${p.take(600)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      "exactly v14's exact-arm broadcast may cross; the blocked arm is cell-keyed")
    assert(p.contains("BroadcastHashJoin [cell"),
      s"the blocked candidate join must be cell-keyed:\n${p.take(600)}")
    // "Window [" counts only the exec node — WindowGroupLimit entries are
    // the rank-limit pushdown and welcome.
    assert("Window \\[".r.findAllIn(p).length == 1,
      "only the exact arm's best-pair window; the blocked pick is a struct-max aggregate")
  }

  test("e30: regularity ranks via the mergeable heap over per-user triples") {
    val p = plan("e30_bot_regularity")
    assert(p.contains("partial_topkbyscoretagged"),
      s"the bot board must partial-aggregate map-side:\n${p.take(600)}")
    assert("Window".r.findAllIn(p).length == 1,
      "exactly the user-keyed lag window — never a global rank")
    assert(!p.contains("Join"), "the screen is one pass, no join")
  }

  test("d79: CDC cuts ride the scan; only the fingerprint pass exchanges") {
    // Boundary detection and chunk assembly are array projections —
    // the only shuffles are the chunk-fingerprint dedup window's hash
    // exchange and the per-doc regroup; no join anywhere.
    val p = plan("d79_cdc_chunks")
    assert(!p.contains("Join"), s"chunking must not join:\n${p.take(600)}")
    val Seq((cols, _)) = scans("d79_cdc_chunks")
    assert(cols.sorted == Seq("doc_id", "text"),
      s"must read exactly (doc_id, text), got: $cols")
  }

  test("d80: the fit ranks via the mergeable heap — no vocabulary-sized window") {
    val p = plan("d80_zipf_fit")
    assert(p.contains("partial_topkbyscoretagged"),
      s"the top-64 must partial-aggregate map-side:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "no rank window over the term table")
    assert(!p.contains("Join"), "one chain of aggregates, no join")
  }

  test("e31: contexts ride the user-keyed session windows; the normalize is catalog-sized") {
    val p = plan("e31_markov_contexts")
    assert(!p.contains("Join"), s"one window chain, no join:\n${p.take(600)}")
    // user-keyed exchanges only (session + lag windows share the user
    // hash); the context normalize windows over the alphabet³ table.
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length <= 1,
      s"the session and lag windows must share one user exchange:\n${p.take(600)}")
  }

  test("e32: CUSUM folds ride the per-type rows after one hourly reduce") {
    val p = plan("e32_cusum_alarms")
    assert(!p.contains("Join"), s"one aggregate chain, no join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the sequential fold is an array aggregate, never a running window")
  }

  test("e33: exact rolling actives self-join the checkpointed bitmap frame") {
    val p = plan("e33_bitmap_actives")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"e33 must scan the materialized daily bitmaps:\n${p.take(600)}")
    assert(scans("e33_bitmap_actives").isEmpty,
      "no parquet scan may survive — each day pays its aggregation once")
    assert(p.contains("partial_bitmapstate") || p.contains("partial_bitmapmergecount")
      || !p.contains("Expand"),
      "bitmap states replace countDistinct — no Expand over the event log")
  }

  test("d81: both recall arms stay posting-list/band equi joins — nothing all-pairs") {
    val p = plan("d81_lsh_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"exact and LSH arms must both join on keys:\n${p.take(600)}")
    assert(scans("d81_lsh_recall").forall(_._1.sorted == Seq("doc_id", "text")),
      "every corpus pass must read exactly (doc_id, text)")
  }

  test("d82: the selection table is trainer state — the greedy rounds ran inside the builder") {
    val p = plan("d82_coverage_select")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"the greedy picks are a driver-built table:\n${p.take(400)}")
    assert(scans("d82_coverage_select").isEmpty,
      "no parquet scan may survive into the selection plan")
  }

  test("d83: the matrix reads checkpointed labels; the pair build is component-keyed") {
    val p = plan("d83_source_contamination")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d83 must scan the checkpointed label frame:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the self-join must stay component-keyed:\n${p.take(600)}")
    assert(!p.contains("Window"), "counts are keyed aggregates, no window")
  }

  test("v26: both split assignments ride the scan — no corpus shuffle beyond the profile") {
    val p = plan("v26_split_rebalance")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"codebooks are literals; assignment must not join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the argmax is ivfAssign's array projection, never a rank window")
  }

  test("d84: backoff scoring joins broadcast — the corpus never shuffles on term keys") {
    val p = plan("d84_backoff_lm")
    assert(!p.contains("SortMergeJoin"),
      s"model lookups must broadcast, not shuffle the corpus:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 4,
      "bigram, context, backoff-unigram, and result-stitch joins must all broadcast")
  }

  test("e34: survival windows run over the life table, never the event log") {
    val p = plan("e34_survival_retention")
    // the two unpartitioned windows (at-risk prefix, S cumsum) are over
    // the observation-days-sized life table — fine; the event log pays
    // only the keyed aggregates below them.
    assert("Window \\[".r.findAllIn(p).length == 2,
      s"exactly the life-table prefix and cumsum windows:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct"),
      "bounds and N are 1-row broadcasts")
    val pushed = scans("e34_survival_retention").map(_._2)
    assert(pushed.exists(f => f.contains("EqualTo(event_type,purchase)") &&
      f.contains("GreaterThanOrEqual(value,150")),
      s"the conversion predicate must reach the scan, got: $pushed")
  }

  test("d85: fertility is the encode projection + one lang rollup — no join, no explode") {
    val p = plan("d85_tokenizer_fertility")
    assert(!p.contains("Join") && !p.contains("Generate"),
      s"the trained merges are literals; counting rides the scan:\n${p.take(600)}")
    assert(scans("d85_tokenizer_fertility").forall(_._1.sorted == Seq("lang", "text")),
      "the rollup must read exactly (lang, text)")
  }

  test("e35: the overlap matrix is driver state — the set algebra ran on collected bitmaps") {
    val p = plan("e35_audience_overlap")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"the pair cells are a driver-built table:\n${p.take(400)}")
    assert(scans("e35_audience_overlap").isEmpty,
      "no parquet scan may survive — the event log paid one bitmap aggregate")
  }

  test("e45: the sparse-key overlap matrix is driver state after the dictionary encode") {
    val p = plan("e45_bitmap_dict")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"the pair cells are a driver-built table:\n${p.take(400)}")
    assert(scans("e45_bitmap_dict").isEmpty,
      "no parquet scan may survive — the event log paid one checkpointed " +
        "pass + one bitmap aggregate over dense ids")
  }

  test("d86: winnowed postings are checkpointed; pairing stays fingerprint-keyed") {
    val p = plan("d86_winnow_pairs")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"all consumers must read the materialized capped postings:\n${p.take(600)}")
    assert(scans("d86_winnow_pairs").isEmpty,
      "no parquet scan may survive — the md5+window-min pipeline ran once " +
        "behind the checkpoint barrier (explode's inferred filter would " +
        "otherwise inline it per window)")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the pair build must stay a fingerprint equi-join:\n${p.take(600)}")
  }

  test("d88: frame sampling fans out map-side — no shuffle before the presentation sort") {
    val p = plan("d88_frame_sample")
    assert(p.contains("MapPartitions"),
      s"the codec must run per-partition:\n${p.take(600)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"1→N frame fan-out is row-local; only the output range sort may exchange:\n${p.take(600)}")
    assert(scans("d88_frame_sample").forall(_._1.sorted == Seq("doc_id", "text")),
      "the media scan must read exactly (doc_id, text)")
  }

  test("d89: novelty is keyed min + join — map-side combine, no window over posting lists") {
    val p = plan("d89_ngram_novelty")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      s"first-owner must be a partial+final MIN, never a per-shingle window:\n${p.take(600)}")
    assert(p.contains("partial_min"),
      s"the shingle MIN must combine map-side:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the join back is shingle-keyed")
  }

  test("d91: the spectrum checkpoints once; Good-Turing joins run over spectrum-sized frames") {
    val p = plan("d91_term_spectrum")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"all three spectrum consumers must read the materialized frame:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "N_{k+1} is a keyed self-join, never a lead window")
    assert(!p.contains("SortMergeJoin"),
      s"spectrum-sized joins must broadcast:\n${p.take(600)}")
  }

  test("d90: signature estimates are driver codebook arithmetic; exact arm reads the checkpointed postings") {
    val p = plan("d90_shard_minhash")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"the perm-match cells are a driver-built table:\n${p.take(600)}")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "the exact arm must read the materialized distinct postings")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair build stays shingle-keyed:\n${p.take(600)}")
  }

  test("q44: the band join runs as a keyed equi-join on (priority, bucket) — never a nested loop") {
    val p = plan("q44_price_band")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the theta band must bucketize into an equi join:\n${p.take(600)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"expected a hash-keyed join on (pr, bucket):\n${p.take(600)}")
    assert(scans("q44_price_band").forall(
      _._1.sorted == Seq("o_orderkey", "o_orderpriority", "o_totalprice")),
      "both sides must read exactly (orderkey, priority, totalprice)")
  }

  test("q45: skyline windows are bucket-keyed; the carry chains over the bucket summary frame") {
    val p = plan("q45_skyline")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"dominance must never become an all-pairs join:\n${p.take(600)}")
    // the only unpartitioned window is the ~50-row bucket-summary carry
    assert("windowspecdefinition\\(bucket".r.findAllIn(p).length >= 2,
      s"in-bucket minima must partition by bucket:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin"),
      "the carry joins back as a broadcast of the bucket summary")
  }

  test("v28: the merge relabel rides the scan — no corpus shuffle beyond the profile") {
    val p = plan("v28_merge_rebalance")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"codebook is a literal; relabel must not join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the argmax is ivfAssign's array projection, never a rank window")
  }

  test("v27: residual ADC is two literal-codebook projections + one top-k heap") {
    val p = plan("v27_residual_adc")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must heap, not globally sort:\n${p.take(600)}")
    assert(!p.contains("Join"),
      s"coarse and PQ codebooks are literals — no join at encode or search:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "code argmax is array_position, never a rank window")
  }

  test("d87: OLS is scans + 1-row broadcasts — the corpus reduces to sufficient statistics") {
    val p = plan("d87_ols_fit")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the model row must broadcast, never shuffle the corpus:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "no window anywhere — moments are plain aggregates")
    assert(scans("d87_ols_fit").forall(_._1.toSet.subsetOf(Set("n_chars", "text"))),
      "every pass must read at most (n_chars, text) — the means pass prunes " +
        "down to text alone")
  }

  test("e37: the sweep runs as day folds + one days-frame window — never a global event sort") {
    val p = plan("e37_peak_concurrency")
    // exactly two windows: e02's user-keyed session pair collapses to
    // one WindowExec group (lag + running sum share the user sort) and
    // the carry window runs over the days-sized summary frame.
    assert("Window \\[".r.findAllIn(p).length <= 3,
      s"only the session windows (user-keyed) and the days-frame carry:\n${p.take(800)}")
    assert(!p.contains("Join"), s"one aggregate chain, no join:\n${p.take(600)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      "sessionization pays exactly one user exchange")
  }

  test("e36: the Holt recurrence folds per-type rows after one hourly reduce") {
    val p = plan("e36_holt_forecast")
    assert(!p.contains("Join"), s"one aggregate chain, no join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the sequential recurrence is an array aggregate, never a running window")
    assert(scans("e36_holt_forecast").forall(_._1.sorted == Seq("event_type", "ts")),
      "the hourly rollup must read exactly (event_type, ts)")
  }

  test("e39: the seasonal recurrence folds per-type rows after one hourly reduce") {
    val p = plan("e39_holt_winters")
    assert(!p.contains("Join"), s"one aggregate chain, no join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the sequential recurrence is an array fold, never a running window")
    assert(scans("e39_holt_winters").forall(_._1.sorted == Seq("event_type", "ts")),
      "the hourly rollup must read exactly (event_type, ts)")
  }

  test("e44: the residual emission rides e39's fold — one hourly reduce, no join, no window") {
    val p = plan("e44_seasonal_residuals")
    assert(!p.contains("Join"), s"one aggregate chain, no join:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).isEmpty,
      "the sequential recurrence is an array fold, never a running window")
    assert(scans("e44_seasonal_residuals").forall(
      _._1.sorted == Seq("event_type", "ts")),
      "the hourly rollup must read exactly (event_type, ts)")
  }

  test("q46: ranks come from the two-pass operator, never a global window") {
    val p = plan("q46_lorenz_gini")
    // The ranked frame enters the plan as the materialized RDD from
    // Ranks.globalRowNumber; a WindowExec with an empty partition spec
    // over the customer frame would be the banished one-task sort. The
    // only window allowed is the 10-row decile cumulative, which sits
    // ABOVE the decile aggregate — so the plan has exactly one Window
    // and at least one ExistingRDD scan.
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"ranked frame must be the checkpointed two-pass RDD:\n${p.take(600)}")
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"exactly the decile-frame cumulative window:\n${p.take(800)}")
    assert(scans("q46_lorenz_gini").forall(
        _._1.sorted == Seq("o_custkey", "o_totalprice")),
      "the revenue rollup must read exactly (o_custkey, o_totalprice)")
  }

  test("e38: NDR base is a days-matrix window, not a replayed-subtree self-join") {
    val p = plan("e38_revenue_retention")
    // events pays exactly the two scans the cohort assignment needs
    // (min-day over all events + the purchase cells); a third scan
    // would mean the day-0 base re-ran the scan+join+agg subtree.
    val sc = scans("e38_revenue_retention")
    assert(sc.length == 2, s"expected 2 events scans, got ${sc.length}")
    assert(sc.forall(_._1.toSet.subsetOf(
        Set("ts", "user_id", "event_type", "value"))),
      s"scans must prune to (ts, user_id, event_type, value): $sc")
    // one window, over the (cohorts × offsets)-sized cells frame —
    // its partitions are calendar-bounded regardless of event volume.
    assert("Window \\[".r.findAllIn(p).length == 1,
      s"exactly the cohort_day base window:\n${p.take(800)}")
    assert(!p.contains("Expand"), "no distinct/rollup Expand anywhere")
  }

  test("v24: both recall arms are per-partition top-k heaps; codes never join at score time") {
    val p = plan("v24_pq_recall")
    assert(p.contains("TakeOrderedAndProject"),
      s"every arm's top-5 must plan as heaps:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "no rank window may replace the heaps")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"only the 25-row arm frames may join, broadcast:\n${p.take(600)}")
  }

  test("d72: the weighted sample is a mergeable heap, never a per-language window") {
    val p = plan("d72_weighted_reservoir")
    assert(!p.contains("Window"),
      s"A-ES top-k must not plan a rank window over language-sized groups:\n${p.take(600)}")
    assert(p.contains("partial_topkbyscoretagged"),
      "the heap state must partial-aggregate map-side")
  }

  test("d71: star contraction's final plan reads checkpointed edges, not an unrolled loop") {
    val p = plan("d71_cc_star")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d71 must scan the checkpointed terminal edge frame:\n${p.take(600)}")
    assert(scans("d71_cc_star").isEmpty,
      "no parquet scan may survive the checkpoints — the candidate graph ran inside dupComponents")
  }

  test("d73: the returned merge table is trainer state — the rounds ran inside train()") {
    val p = plan("d73_bpe_trainer")
    assert(p.contains("LocalTableScan") || p.contains("LocalRelation"),
      s"the learned merges are a driver-built table:\n${p.take(400)}")
    assert(scans("d73_bpe_trainer").isEmpty,
      "no parquet scan may survive into the merge-table plan")
  }

  test("d69: survivorship reads the checkpointed labels — component-keyed equi joins only") {
    // The components ran inside dupComponents (d71's pin);
    // what survives is the label scan joined to doc sizes and the two
    // cluster-keyed argmax aggregates — every join keyed, nothing
    // all-pairs, no rank window over component groups.
    val p = plan("d69_dup_survivors")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"d69 must scan the checkpointed label frame:\n${p.take(600)}")
    assert(!p.contains("Window"),
      "the argmax is two keyed aggregates, never a per-component rank window")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"every join must stay component-/doc-keyed:\n${p.take(600)}")
    assert(scans("d69_dup_survivors").forall(_._1.sorted == Seq("doc_id", "text")),
      "doc-size passes must read exactly (doc_id, text)")
  }

  test("d70: the mix is a catalog-sized normalize — pruned scans, 1-row broadcast total") {
    val p = plan("d70_temperature_mix")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals must broadcast into the weight projection:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"nothing here may shuffle-join or rank:\n${p.take(600)}")
    assert(scans("d70_temperature_mix").forall(_._1.sorted == Seq("source", "text")),
      "every corpus pass must read exactly (source, text)")
  }

  test("d74: encoding is a pure scan projection — no join, no shuffle, no explode") {
    // The merges inlined as driver-side literals (the broadcast-codebook
    // pattern); the only exchange allowed is the presentation orderBy's
    // range partitioning.
    val p = plan("d74_bpe_encode")
    assert(!p.contains("Join"),
      s"the trained merges are literals; encoding must ride the scan:\n${p.take(600)}")
    assert(!p.contains("Exchange hashpartitioning") && !p.contains("Generate"),
      s"per-doc token counts must not shuffle or explode:\n${p.take(600)}")
    val Seq((cols, _)) = scans("d74_bpe_encode")
    assert(cols.sorted == Seq("doc_id", "text"),
      s"encode must read exactly (doc_id, text), got: $cols")
  }

  test("d75: the card is one Expand aggregate + a 1-row vocab broadcast — the q25-style exact contrast") {
    // The exact countDistinct triple pays exactly ONE Expand over the
    // corpus (the deliberate contrast to d76's sketch card, which pays
    // none); the vocabulary row crosses in as a 1-row broadcast.
    val p = plan("d75_dataset_card")
    assert("Expand".r.findAllIn(p).length == 1,
      s"the three countDistincts must share one Expand:\n${p.take(600)}")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row vocabulary aggregate must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"no shuffle join and no window may appear:\n${p.take(600)}")
  }

  test("d76: the sketch card is one partial+final aggregate over one scan — no Expand, no explode, no join") {
    val p = plan("d76_dataset_card_sketch")
    assert(!p.contains("Expand"),
      s"KMV replaces every countDistinct — no Expand may appear:\n${p.take(600)}")
    assert(!p.contains("Generate") && !p.contains("Join"),
      s"vocab states are row-local array projections, never a token explode:\n${p.take(600)}")
    assert(p.contains("partial_kmvdistinct") && p.contains("partial_kmvmerge"),
      "both sketch shapes must partial-aggregate map-side")
    assert(scans("d76_dataset_card_sketch").length == 1,
      "the whole card must pay exactly one corpus scan")
  }

  test("e29: rolling windows self-join the checkpointed (day, state) frame — never the event log") {
    val p = plan("e29_rolling_actives")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"e29 must scan the materialized daily frame:\n${p.take(600)}")
    assert(scans("e29_rolling_actives").isEmpty,
      "no parquet scan may survive — each day pays its aggregation exactly once")
    assert(!p.contains("Window"),
      "trailing windows are KMV state merges, never a rank/range window node")
  }

  test("q43: activity profile is two keyed aggregates + a 1-row orphan broadcast") {
    val p = plan("q43_activity_profile")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"only the 1-row orphan witness may cross-join:\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"fan-out is keyed aggregation, never a window:\n${p.take(600)}")
    // The reporting-window predicate reaches both orders scans.
    val pushed = scans("q43_activity_profile").map(_._2)
    assert(pushed.count(_.contains("o_orderdate")) == 2,
      s"the 1995 window must push into every orders scan, got: $pushed")
  }

  test("q29: PageRank iterations checkpoint — the final plan is a rank scan, not an unrolled loop") {
    // GraphRank persists the edge/degree/node frames and eagerly
    // localCheckpoints each iteration's ranks, so the frame q29 returns
    // must read the LAST iteration's materialized result: no Join and
    // no lineitem scan may survive into the final plan. An unrolled
    // plan here would mean every downstream action re-derives the
    // lineitem self-join once per iteration — the exact recompute the
    // persist/checkpoint cadence exists to prevent.
    val p = plan("q29_copurchase_rank")
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      s"q29 must scan the checkpointed rank frame:\n${p.take(600)}")
    assert(!p.contains("Join"),
      s"iterative joins must not unroll into the final plan:\n${p.take(600)}")
    assert(scans("q29_copurchase_rank").isEmpty,
      "no parquet scan may survive the checkpoint — the self-join ran inside pageRank")
  }

  test("d94: collocation joins broadcast the vocabulary; no window anywhere") {
    val p = plan("d94_pmi_collocations")
    assert(!p.contains("Window"),
      s"PMI is counts + joins, never a window:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"both unigram joins must broadcast the vocab-sized side:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"nothing data-scale may shuffle for a join:\n${p.take(600)}")
    assert(scans("d94_pmi_collocations").forall(_._1 == Seq("text")),
      "both corpus passes must read exactly (text)")
  }

  test("q49: the trim pass is ONE pruned scan against checkpointed cut frames") {
    val p = plan("q49_trimmed_mean")
    assert(!p.contains("Window"),
      s"no selection window may leak into the final plan:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2 &&
      !p.contains("SortMergeJoin"),
      s"exactly the lo + hi broadcast joins:\n${p.take(600)}")
    assert(scans("q49_trimmed_mean").map(_._1.sorted) ==
      Seq(Seq("o_orderpriority", "o_totalprice")),
      "the trim pass reads exactly (priority, totalprice) once")
  }

  test("q48: weighted selection reads 3 columns twice; every window carries the group key") {
    val p = plan("q48_weighted_median")
    val sc = scans("q48_weighted_median")
    assert(sc.length == 2 && sc.forall(_._1.sorted ==
      Seq("l_extendedprice", "l_quantity", "l_returnflag")),
      s"histogram + refine passes read exactly the 3 columns, got: $sc")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the halves/target frames are group-sized — they broadcast:\n${p.take(600)}")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("rf")),
      s"no window may sort without the group partition key:\n${windows.mkString("\n")}")
  }

  test("q47: the final plan is ONE pruned scan against checkpointed 5-row selection frames") {
    // The ks/median/mad subtrees (each embedding selection passes) are
    // LineageCheckpoint-pinned at build time — the q29 rule — so the
    // returned plan must be a single orders scan joined against
    // materialized group-sized frames, never a re-derivation.
    val p = plan("q47_mad_outliers")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the median/mad frames are group-sized — they must broadcast:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"expected exactly the med + mad broadcast joins:\n${p.take(600)}")
    assert(!p.contains("Window"),
      s"no selection window may leak into the final plan:\n${p.take(600)}")
    val sc = scans("q47_mad_outliers")
    assert(sc.map(_._1.sorted) == Seq(Seq("o_orderpriority", "o_totalprice")),
      s"the outlier pass reads exactly (priority, totalprice) once, got: $sc")
  }

  test("e40: Welch folds into ONE conditional aggregate over one pushed-down scan") {
    val p = plan("e40_ab_welch")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"two-sample moments need no window and no join:\n${p.take(600)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).isEmpty,
      s"a global 1-row aggregate needs no hash exchange:\n${p.take(600)}")
    val Seq((cols, pushed)) = scans("e40_ab_welch")
    assert(cols.sorted == Seq("event_type", "value"),
      s"the moment scan reads exactly (event_type, value), got: $cols")
    assert(pushed.contains("event_type"),
      s"the two-arm predicate must push into the scan, got: $pushed")
  }

  test("e42: the outlier pass folds the checkpointed gap frame — no lag window in the final plan") {
    val p = plan("e42_gap_mad")
    assert(p.contains("ExistingRDD"),
      s"gaps must be materialized once, not re-derived per pass:\n${p.take(600)}")
    assert(!p.contains("Window"),
      s"the (user,type) lag was paid at build time:\n${p.take(600)}")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2 &&
      !p.contains("SortMergeJoin"),
      s"exactly the med + mad broadcast joins:\n${p.take(600)}")
    assert(scans("e42_gap_mad").isEmpty,
      "no parquet scan may survive the gap checkpoint")
  }

  test("d97: AUC rows read materialized rank frames; only the 1-row totals cross-join") {
    val p = plan("d97_feature_auc")
    assert(p.contains("ExistingRDD"),
      s"rank frames come from the two-pass operator, pre-materialized:\n${p.take(600)}")
    assert(!p.contains("Window"),
      s"no rank window may appear — globalRowNumber owns the ordering:\n${p.take(600)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1 &&
      !p.contains("SortMergeJoin"),
      s"only the 1-row totals may cross-join:\n${p.take(600)}")
  }

  test("d101: both hybrid arms scan their INDEXES — no corpus table reaches the fused plan") {
    val p = plan("d101_hybrid_index")
    // Scans read only index layouts: posting columns or the
    // cell-partitioned vector layout — never documents.text.
    val sc = scans("d101_hybrid_index")
    assert(sc.nonEmpty && sc.forall(_._1.forall(c =>
      Seq("term", "doc_id", "dl", "tf", "vec_id", "embedding").contains(c))),
      s"only index columns may be scanned at search time, got: $sc")
    // The one SMJ is the FULL OUTER fuse of the two K-row rank frames
    // (Spark cannot broadcast a full outer); nothing else may sort-merge.
    assert("SortMergeJoin".r.findAllIn(p).length <= 1 &&
      !p.contains("CartesianProduct"),
      s"only the K-row full-outer fuse may sort-merge:\n${p.take(600)}")
    assert(p.contains("PartitionFilters"),
      s"the lexical arm must prune on its term buckets:\n${p.take(600)}")
  }

  test("d100: the index search prunes to the query terms' bucket partitions") {
    val p = plan("d100_bm25_index")
    assert(p.contains("PartitionFilters") &&
      "bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(p).isDefined,
      s"the posting scan must prune on the term buckets:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"dl rides the posting row — nothing corpus-scale joins or sorts:\n${p.take(600)}")
    assert(driverFinished(p),
      s"the candidates fit: top-k runs on the driver over one collect:\n${p.take(600)}")
  }

  test("d102: the tier search scans postings_top bucket-pruned — the bounded serving read") {
    val p = plan("d102_bm25_top_tier")
    assert(p.contains("PartitionFilters") &&
      "bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(p).isDefined,
      s"the tier scan must prune on the term buckets:\n${p.take(800)}")
    // the serving read is the TIER layout (df_full was consumed by the
    // eager per-term df lookup; the final scan prunes down to the
    // posting columns — no term-frequency recount, nothing
    // corpus-scale). plan.toString truncates the Location, so read the
    // scan node's root paths directly.
    val roots = fileScans(
        graft.SparkEntry.queries("d102_bm25_top_tier")(spark, sf))
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains("postings_top")),
      s"search must read the postings_top layout, got: $roots")
    // ONE scan: the driver finish takes each term's df_full from the
    // same candidate rows it scores, so no separate df lookup reads
    // the tier.
    val sc = scans("d102_bm25_top_tier")
    assert(sc.length == 1 && sc.forall(_._1.toSet.subsetOf(
      Set("term", "df_full", "doc_id", "dl", "tf"))),
      s"one tier scan, pruned to the posting columns and df_full: $sc")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"dl and df ride the tier row — nothing joins or sorts corpus-scale:\n${p.take(600)}")
    assert(driverFinished(p),
      s"the candidates fit: top-k runs on the driver over one collect:\n${p.take(600)}")
  }

  test("d105: the hotness profile reads the index layout via mergeable top-k — no window, no corpus") {
    val p = plan("d105_term_hotness")
    assert(!p.contains("Window"),
      s"the vocabulary rank must be the tagged top-k aggregate, never a window:\n${p.take(600)}")
    assert(!p.contains("Join"), s"profile joins nothing:\n${p.take(400)}")
    val roots = graft.SparkEntry.queries("d105_term_hotness")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("postings")),
      s"the profile must audit the serving layout, not the corpus: $roots")
    val sc = scans("d105_term_hotness")
    assert(sc.nonEmpty && sc.forall(_._1.toSet.subsetOf(Set("term"))),
      s"the postings scan must prune to the term column: $sc")
  }

  test("d110: the positional cost profile reads the tier layout via mergeable top-k — no window, no corpus") {
    val p = plan("d110_pos_cost_profile")
    assert(!p.contains("Window"),
      s"the vocabulary rank must be the tagged top-k aggregate, never a window:\n${p.take(600)}")
    assert(!p.contains("Join"), s"profile joins nothing:\n${p.take(400)}")
    val roots = graft.SparkEntry.queries("d110_pos_cost_profile")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("postings_pos")),
      s"the profile must audit the positional layout, not the corpus: $roots")
    val sc = scans("d110_pos_cost_profile")
    assert(sc.nonEmpty && sc.forall(_._1.toSet.subsetOf(
      Set("term", "positions"))),
      s"the tier scan must prune to (term, positions): $sc")
  }

  test("d113: the bucket-balance profile is one layout scan + a catalog-sized aggregate — no window, no join, no corpus") {
    val p = plan("d113_bucket_balance")
    assert(!p.contains("Window"),
      s"a 16-group profile needs no window:\n${p.take(600)}")
    assert(!p.contains("Join"), s"profile joins nothing:\n${p.take(400)}")
    val roots = graft.SparkEntry.queries("d113_bucket_balance")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("postings")),
      s"the profile must audit the serving layout, not the corpus: $roots")
    val sc = scans("d113_bucket_balance")
    assert(sc.nonEmpty && sc.forall(_._1.toSet.subsetOf(Set("term"))),
      s"the layout scan must prune to the term column: $sc")
  }

  test("d114: the coverage audit joins only by broadcast over a pruned posting read — no window, no shuffle join") {
    val p = plan("d114_tier_coverage")
    assert(!p.contains("Window"),
      s"a workload-keyed aggregate needs no window:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the workload frame is codebook-sized — broadcast only:\n${p.take(600)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the df frame must broadcast onto the workload:\n${p.take(600)}")
    val execs = graft.SparkEntry.queries("d114_tier_coverage")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    val roots = execs.flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.nonEmpty && roots.forall(_.contains("postings")),
      s"the audit must read the serving layout, not the corpus: $roots")
    // Inspect partitionFilters directly (the d106/d113 discipline): a
    // post-scan Filter on `bucket` would satisfy a plan-string grep but
    // reads every partition.
    assert(execs.exists(_.partitionFilters.exists(
        _.references.exists(_.name == "bucket"))),
      s"the posting read must PARTITION-prune to the workload's buckets, " +
        s"not filter after the scan:\n${p.take(600)}")
  }

  test("q50: triangle counting is node/pair-keyed joins only — no window, no cartesian, pruned scans") {
    val p = plan("q50_triangle_lcc")
    assert(!p.contains("Window"),
      s"degree ordering replaces any per-node rank window:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"every join must be equi-keyed:\n${p.take(600)}")
    val sc = scans("q50_triangle_lcc")
    assert(sc.nonEmpty &&
      sc.forall(_._1.toSet.subsetOf(Set("l_orderkey", "l_partkey"))),
      s"the edge build must read only (l_orderkey, l_partkey): $sc")
  }

  test("q51: five percentile bands from one selection pass — partitioned windows, broadcast targets") {
    val p = plan("q51_percentile_bands")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("pr")),
      s"selection windows must carry the group partition key:\n" +
        windows.mkString("\n"))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ks/target frames are group-sized and must broadcast:\n${p.take(800)}")
  }

  test("v32: both nDCG arms end in per-partition top-k heaps; the rank join is broadcast") {
    val p = plan("v32_ndcg_curve")
    val heaps = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(heaps >= 3,
      s"coarse, rescore and exact stages must all heap (found $heaps):\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the 10-row rank join must broadcast:\n${p.take(800)}")
  }

  test("v31: embedding drift is one scan + one dim-keyed exchange — no join, no window") {
    val p = plan("v31_embedding_drift")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"drift cells are plain grouped sums:\n${p.take(600)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected only the dim fold, found $hashExchanges:\n${p.take(800)}")
    val sc = scans("v31_embedding_drift")
    assert(sc.nonEmpty &&
      sc.forall(_._1.toSet.subsetOf(Set("vec_id", "embedding"))),
      s"the scan must read only (vec_id, embedding): $sc")
  }

  test("d109: the incremental fold's final plan is a checkpointed label scan") {
    val p = plan("d109_incremental_cc")
    assert(p.contains("ExistingRDD"),
      s"contraction rounds must be checkpoint-truncated:\n${p.take(400)}")
    assert(!p.contains("Window"), s"no rank windows anywhere:\n${p.take(400)}")
  }

  test("e47: attribution pairs via the bucketed interval join; windows only per purchase") {
    val p = plan("e47_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"the 24h pairing must be the time-bucketed equi join, not a raw " +
        s"range join:\n${p.take(800)}")
    // every window is purchase-keyed (touch-bounded partitions)
    val specs = "windowspecdefinition\\(([a-z_#0-9]+)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(specs.nonEmpty && specs.forall(_.startsWith("iv_p_id")),
      s"windows must partition by the purchase id, got: $specs")
  }

  test("d108: k-anonymity audits catalog-sized classes — broadcast semi-join, pruned scans, no window") {
    val p = plan("d108_k_anonymity")
    assert(!p.contains("Window"), s"class counts are plain aggregates:\n${p.take(600)}")
    assert(p.contains("LeftSemi"),
      s"failing class keys must gate the re-generalization as a semi-join:\n${p.take(800)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the failing-key set is catalog-sized and must broadcast:\n${p.take(800)}")
    val sc = scans("d108_k_anonymity")
    assert(sc.nonEmpty &&
      sc.forall(_._1.toSet.subsetOf(Set("lang", "source", "n_chars"))),
      s"the audit reads only the quasi-identifier columns: $sc")
  }

  test("e46: decayed engagement is one user-keyed exchange; the anchor broadcasts as one row") {
    val p = plan("e46_decayed_engagement")
    assert(!p.contains("Window"),
      s"decay weights are row-local scan projections:\n${p.take(600)}")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashExchanges == 1,
      s"expected exactly the user_id fold, found $hashExchanges:\n${p.take(800)}")
    assert(p.contains("BroadcastExchange") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"the max-timestamp anchor must broadcast:\n${p.take(600)}")
  }

  test("e48: benford profile reads only value; digit-keyed fold, broadcast-only joins, no window") {
    val p = plan("e48_benford_profile")
    assert(!p.contains("Window"),
      s"digit shares are grouped counts, never a window:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"the 9-row digit frame joins by broadcast only:\n${p.take(600)}")
    // the checkpointed digit counts feed BOTH the total and the join —
    // exactly one scan subtree must survive in the final plan (the d86
    // two-consumer rule), and it reads only the value column.
    val execs = graft.SparkEntry.queries("e48_benford_profile")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(execs.isEmpty ||
      execs.forall(_.requiredSchema.fieldNames.toSeq == Seq("value")),
      "any surviving scan must read only the value column: " +
        execs.map(_.requiredSchema.fieldNames.toSeq).mkString(","))
  }

  test("d107: sorted-neighborhood pairs meet in rank-space buckets — no unpartitioned window, no cartesian") {
    val p = plan("d107_sorted_neighborhood")
    assert(!p.contains("Window"),
      s"positions come from the two-pass global rank, never a " +
        s"single-partition window:\n${p.take(600)}")
    assert(p.contains("ExistingRDD"),
      "the ranked frame is the materialized two-pass barrier")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"neighbors join on the bucket key:\n${p.take(600)}")
  }

  test("d106: phrase search reads only the pruned positional tier — gated semi-join, no corpus, no window") {
    val p = plan("d106_phrase_search")
    // r19: the ONLY join is the rarest-term gate — the min-df term's
    // doc set broadcast-SEMI-joins the other terms' positional reads,
    // bounding the heavy read by min-df; adjacency itself stays a
    // row-local array fold after one doc-keyed aggregate.
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"the positional read must be gated on the rarest term:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"adjacency must be a row-local array fold after one doc-keyed " +
        s"aggregate:\n${p.take(600)}")
    val roots = graft.SparkEntry.queries("d106_phrase_search")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("postings_pos")),
      s"phrase search must read the positional tier, not the corpus: $roots")
    val sc = scans("d106_phrase_search")
    assert(sc.nonEmpty &&
      sc.forall(_._1.toSet.subsetOf(Set("term", "doc_id", "positions"))),
      s"the positional scan must prune to (term, doc_id, positions): $sc")
    // r19: the gate reads per-leg term subsets — a 2-term phrase's
    // surviving (non-checkpointed) leg pushes a single-term equality.
    assert(sc.forall(s => s._2.contains("In(term") ||
      s._2.contains("EqualTo(term")),
      s"the term filter must push into the positional scan: $sc")
  }

  test("d104: the batch serves every query from one bucket-pruned candidate read, finished on the driver") {
    val p = plan("d104_bm25_batch")
    // the union of the batch's terms prunes ONE posting read; its probe
    // returns the rows and each query scores on the driver.
    assert(p.contains("PartitionFilters") &&
      "bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(p).isDefined,
      s"the posting scan must prune on the batch terms' buckets:\n${p.take(800)}")
    val roots = fileScans(graft.SparkEntry.queries("d104_bm25_batch")(spark, sf))
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(roots.length == 1 && roots.forall(_.contains("postings")),
      s"one read of the postings layout for the whole batch, got: $roots")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"dl rides the posting row — nothing joins or ranks in Spark:\n${p.take(600)}")
    assert(driverFinished(p),
      s"the batch's candidates fit: its queries score on the driver:\n${p.take(600)}")
  }

  test("d103: the recall face scans only embeddings; the lexical arm is checkpointed") {
    val p = plan("d103_hybrid_recall")
    assert(p.contains("ExistingRDD"),
      s"the shared lexical arm must be materialized once, not replayed per fusion:\n${p.take(400)}")
    assert(!p.contains("CartesianProduct"),
      s"no all-pairs anywhere — the codebook is a broadcast literal:\n${p.take(600)}")
    // full-outer fuses and the 10-row flag join are the only sort-merges.
    assert("SortMergeJoin".r.findAllIn(p).length <= 3,
      s"only the K-row fuses may sort-merge:\n${p.take(800)}")
    val sc = scans("d103_hybrid_recall")
    assert(sc.nonEmpty && sc.forall(_._1.forall(c =>
      Seq("vec_id", "embedding").contains(c))),
      s"documents must never reach the fused plan (BM25 is checkpointed): $sc")
  }

  test("d99: one text scan; the rank/mass windows run over the vocabulary table") {
    val p = plan("d99_vocab_coverage")
    assert(scans("d99_vocab_coverage").isEmpty && p.contains("ExistingRDD"),
      s"the count table is checkpointed — no parquet scan may survive:\n${p.take(400)}")
    // The windows consume the materialized count table, never a raw
    // corpus explode.
    assert(p.contains("Window"),
      s"the rank/mass windows must survive in the final plan:\n${p.take(800)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1 &&
      !p.contains("SortMergeJoin"),
      s"only the 1-row total may cross-join:\n${p.take(600)}")
  }

  test("e43: Wilson CI is one conditional aggregate + a per-row projection") {
    val p = plan("e43_engagement_ci")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"rates need no window and no join:\n${p.take(600)}")
    val Seq((cols, _)) = scans("e43_engagement_ci")
    assert(cols.sorted == Seq("event_type", "value"),
      s"the rate scan reads exactly (event_type, value), got: $cols")
  }

  test("d98: the audit folds the checkpointed pair frame — component joins broadcast, no window") {
    val p = plan("d98_dup_cluster_audit")
    assert(p.contains("ExistingRDD"),
      s"pairs/components must be materialized, not re-derived:\n${p.take(600)}")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"),
      s"everything after the pair frame is component-keyed folding:\n${p.take(600)}")
    assert(scans("d98_dup_cluster_audit").isEmpty,
      "no parquet scan may survive the pair checkpoint")
  }

  test("d96: split joins read the checkpointed pair/component frames; only the 1-row witness cross-joins") {
    val p = plan("d96_leakage_split")
    assert(p.contains("ExistingRDD"),
      s"pairs/components must be materialized, not re-derived:\n${p.take(600)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length == 1,
      s"only the 1-row witness may cross-join:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"component frames are pairs-member-sized — they broadcast:\n${p.take(600)}")
    // The component-distinct branch prunes text away entirely; no pass
    // may read more than (doc_id, text).
    assert(scans("d96_leakage_split").forall(
      _._1.forall(Seq("doc_id", "text").contains)),
      s"no corpus pass may read beyond (doc_id, text): ${scans("d96_leakage_split")}")
  }

  test("v30: hard negatives shuffle on bucket id; the argmax is an aggregate, not a rank window") {
    val p = plan("v30_hard_negatives")
    assert(!p.contains("Window"),
      s"the per-vector argmax must be the mergeable struct-max:\n${p.take(600)}")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidates come from the bucket equi-join, never all-pairs:\n${p.take(600)}")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      s"expected the bucket-keyed join:\n${p.take(600)}")
  }

  test("d95: one corpus scan; everything else folds the checkpointed count table") {
    val p = plan("d95_source_chisq")
    assert(scans("d95_source_chisq").isEmpty,
      "the (source, word) table is checkpointed — no parquet scan may survive")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"grid joins are catalog-sized broadcasts:\n${p.take(600)}")
  }

  test("v29: the JL projection rides the scan — 16 codegen'd dots, no exchange below the probe join") {
    val p = plan("v29_jl_recall")
    assert(p.contains("dot_product"),
      s"projection must be the native codegen'd expression:\n${p.take(600)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"probes are broadcast; the corpus must never shuffle for a join:\n${p.take(600)}")
    val windows = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.nonEmpty && windows.forall(_.contains("probe_id")),
      s"both top-k windows must partition by probe:\n${windows.mkString("\n")}")
    assert(scans("v29_jl_recall").forall(
      _._1.sorted == Seq("embedding", "vec_id")),
      "every pass reads exactly (vec_id, embedding)")
  }

  test("e41: pair arithmetic touches only the 5-row state frame — no window, one event exchange") {
    val p = plan("e41_overlap_kmv")
    assert(!p.contains("Window"),
      s"KMV replaces the ranked-window replay the oracle uses:\n${p.take(600)}")
    // The only hash exchange partial-aggregates the per-type states;
    // the a<b pair join is a BNLJ over two 5-row frames (types-sized).
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"only the state aggregation may shuffle:\n${p.take(600)}")
    val sc = scans("e41_overlap_kmv")
    assert(sc.forall(_._1.sorted == Seq("event_type", "user_id", "value")),
      s"the state scan reads exactly (type, user, value), got: $sc")
    assert(sc.forall(_._2.contains("value")),
      s"the engaged-tail gate must push into the scan, got: ${sc.map(_._2)}")
  }
}
