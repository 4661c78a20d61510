package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructType}

/** Exact global row numbers without the banished single-partition
  * Window.
  *
  * `row_number() OVER (ORDER BY ...)` with no PARTITION BY moves the
  * whole frame to ONE task — the shape Spark itself warns about and the
  * first thing that dies at 100 TB. The distributed form is the
  * classic two-pass rank:
  *
  *   1. range-repartition on the sort keys and sort within partitions
  *      (a real distributed sort: each partition holds a contiguous
  *      key range);
  *   2. count rows per partition — a partition-count-sized result
  *      (the only driver-side data in the operator);
  *   3. broadcast the prefix-sum offsets and stream each partition,
  *      assigning rank = partition offset + local index.
  *
  * The sorted frame is locally checkpointed before the two passes so
  * both jobs read the SAME materialized partitions — without the
  * barrier the count pass and the rank pass would each re-execute the
  * upstream plan, and range-boundary sampling would have to be assumed
  * deterministic across executions for ranks to be consistent.
  *
  * The rank-assignment pass runs row-at-a-time over `df.rdd` (no
  * codegen): callers rank AGGREGATED frames (per-customer revenue,
  * per-document scores), never the raw corpus, so the deserialization
  * cost is bounded by the entity count, and everything downstream of
  * the returned frame plans declaratively again.
  *
  * Sort keys must be a TOTAL order (break ties with a unique key) or
  * ranks within a tie group depend on partition-internal order.
  */
object Ranks {

  /** `df` plus a 1-based `rankCol` long column ordered by `sortKeys`.
    *
    * `partitions` defaults to the session's shuffle parallelism; pass
    * an explicit count to match a known downstream partitioning.
    */
  def globalRowNumber(df: DataFrame, sortKeys: Seq[Column],
      rankCol: String, partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    require(sortKeys.nonEmpty, "globalRowNumber needs at least one sort key")
    val n =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(n, sortKeys: _*)
      .sortWithinPartitions(sortKeys: _*)
      .localCheckpoint()
    val rdd = sorted.rdd
    val parts = rdd.getNumPartitions
    // (partitionId -> count): one long per partition on the driver.
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)),
        preservesPartitioning = true)
      .collect().toMap
    val offsets = new Array[Long](parts)
    var acc = 0L
    var i = 0
    while (i < parts) {
      offsets(i) = acc
      acc += counts.getOrElse(i, 0L)
      i += 1
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val schema: StructType = sorted.schema.add(rankCol, LongType,
      nullable = false)
    val ranked = rdd.mapPartitionsWithIndex { (pid, it) =>
      var rank = bOffsets.value(pid)
      it.map { row =>
        rank += 1L
        Row.fromSeq(row.toSeq :+ rank)
      }
    }
    spark.createDataFrame(ranked, schema)
  }

  /** Exact per-group k-th smallest of a LONG column WITHOUT sorting
    * data-scale rows — the distributed selection primitive (medians,
    * MADs, exact percentiles) where a per-group sort window would move
    * every group through one task's sort buffer.
    *
    * Two passes, both declarative:
    *
    *   1. histogram: count rows per (group, value div bucketWidth) —
    *      a map-side partial count whose result is bounded by
    *      value-range / bucketWidth per group, NOT by the row count;
    *      a running sum over that aggregated frame (a window over the
    *      HISTOGRAM, the d47/q46 "catalog-sized window" rule) finds
    *      the one bucket holding rank k and the count below it;
    *   2. refine: rescan ONLY that bucket's rows (one broadcast join
    *      against the group-count-sized target frame — the filter is
    *      scan-local) and take the (k − below)-th smallest inside it
    *      with a per-group window whose partitions are bucket-sized.
    *
    * `bucketWidth` is the memory lever: the refine window sorts at
    * most (rows in the densest bucket) per group — shrink the width if
    * a value hot-spot concentrates a group, exactly like a shuffle
    * partition-count tune. Ties are safe: rank k among duplicates of a
    * value still selects that value, whatever row the window visits
    * first.
    *
    * `ks`: one row per group — (groupCol, `k`), 1-based rank to
    * select (e.g. (n+1) div 2 for the low median). Groups absent from
    * `ks` are dropped; a k outside [1, group size] yields no row for
    * that group (loud in any equality test downstream).
    *
    * Returns one row per group: (groupCol, `kth` long).
    */
  def groupedKthSmallest(df: DataFrame, groupCol: String, valueCol: String,
      ks: DataFrame, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val g = col(groupCol)
    val hist = df
      .select(g, expr(s"`$valueCol` div $bucketWidth").as("bucket"))
      .groupBy(g, col("bucket")).agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col("bucket"))
    val target = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .join(broadcast(ks.select(g, col("k"))), Seq(groupCol))
      .filter(col("cum") >= col("k"))
      // earliest qualifying bucket = the one holding rank k
      .groupBy(g).agg(min(struct(col("bucket"), col("cum"), col("cnt"),
        col("k"))).as("t"))
      .select(g, col("t.bucket").as("bucket"),
        (col("t.k") - (col("t.cum") - col("t.cnt"))).as("k_in"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col(valueCol))
    df.select(g, col(valueCol))
      .join(broadcast(target),
        df(groupCol) === target(groupCol) &&
          expr(s"`$valueCol` div $bucketWidth") === col("bucket"))
      .drop(target(groupCol)).drop("bucket")
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("k_in"))
      .select(g, col(valueCol).as("kth"))
  }

  /** Exact per-group WEIGHTED (low) median of a LONG column — the
    * [[groupedKthSmallest]] two-pass shape with integer WEIGHTS in
    * place of row counts: the selected value v is the smallest value
    * whose cumulative weight reaches half = (W + 1) div 2 of the
    * group's total. Pass 1 histograms the weight mass per (group,
    * value div bucketWidth) and walks the HISTOGRAM's running sum to
    * the one bucket holding the half-point (plus the mass strictly
    * below it); pass 2 rescans only that bucket and takes the first
    * value whose in-bucket running weight crosses the remainder. Rows
    * tied on the value are interchangeable for the CROSSING VALUE (the
    * crossing row lands somewhere inside the equal-value block, and
    * the value is what's returned), so the result is deterministic
    * without a tie-break column. Weights must be positive.
    *
    * Returns one row per group: (groupCol, `wmedian` long,
    * `w_total` long).
    */
  def groupedWeightedMedian(df: DataFrame, groupCol: String,
      valueCol: String, weightCol: String, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val g = col(groupCol)
    val hist = df
      .select(g, expr(s"`$valueCol` div $bucketWidth").as("bucket"),
        col(weightCol).as("w"))
      .groupBy(g, col("bucket")).agg(sum(col("w")).as("bw"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col("bucket"))
    // w_total comes from a whole-partition window over the HISTOGRAM
    // frame, not a separate aggregate — a second consumer of `hist`
    // would re-execute its scan subtree (the q47/q48 plan-pin lesson).
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g)
    val target = hist
      .withColumn("cum", sum(col("bw")).over(wCum))
      .withColumn("w_total", sum(col("bw")).over(wAll))
      .withColumn("half", expr("(w_total + 1) div 2"))
      .filter(col("cum") >= col("half"))
      .groupBy(g).agg(min(struct(col("bucket"), col("cum"), col("bw"),
        col("half"), col("w_total"))).as("t"))
      .select(g, col("t.bucket").as("bucket"),
        (col("t.half") - (col("t.cum") - col("t.bw"))).as("need"),
        col("t.w_total").as("w_total"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col(valueCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(g, col(valueCol), col(weightCol).as("w"))
      .join(broadcast(target),
        df(groupCol) === target(groupCol) &&
          expr(s"`$valueCol` div $bucketWidth") === col("bucket"))
      .drop(target(groupCol)).drop("bucket")
      .withColumn("runw", sum(col("w")).over(wIn))
      .filter(col("runw") >= col("need"))
      .groupBy(g).agg(min(col(valueCol)).as("wmedian"),
        max(col("w_total")).as("w_total"))
  }

  /** MULTI-rank selection: several exact target ranks per group from
    * the SAME two passes [[groupedKthSmallest]] pays for one — the
    * percentile-band primitive (P10/P25/P50/P75/P90 in one histogram
    * walk instead of five, which at 100 TB is the difference between
    * 2 scans and 10). Pass 1 is unchanged (one histogram + its
    * running sum, a window over the CATALOG-sized histogram frame);
    * each (group, k) picks its own earliest qualifying bucket from
    * that one cumulated frame. Pass 2 rescans the union of target
    * buckets ONCE — rows rank inside their (group, bucket) via one
    * bucket-bounded window, then the (group, bucket, in-bucket-rank)
    * triple equi-joins the broadcast target frame, so ranks sharing a
    * bucket (common for adjacent percentiles in a dense group) share
    * the work. `ks`: (groupCol, `k`) with ANY number of rows per
    * group — group-count × ranks sized, always broadcastable. Returns
    * one row per input rank: (groupCol, k, kth); out-of-range ks
    * yield no row (the [[groupedKthSmallest]] contract).
    */
  def groupedKthSmallestMulti(df: DataFrame, groupCol: String,
      valueCol: String, ks: DataFrame, bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(bucketWidth >= 1L, s"bucketWidth must be >= 1, got $bucketWidth")
    val g = col(groupCol)
    val hist = df
      .select(g, expr(s"`$valueCol` div $bucketWidth").as("bucket"))
      .groupBy(g, col("bucket")).agg(count(lit(1)).as("cnt"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(g).orderBy(col("bucket"))
    val target = hist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .join(broadcast(ks.select(g, col("k"))), Seq(groupCol))
      .filter(col("cum") >= col("k"))
      .groupBy(g, col("k")).agg(min(struct(col("bucket"), col("cum"),
        col("cnt"))).as("t"))
      .select(g, col("k"), col("t.bucket").as("bucket"),
        (col("k") - (col("t.cum") - col("t.cnt"))).as("k_in"))
      .localCheckpoint() // consumed twice below (bucket gate + rank join)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(g, col("bucket")).orderBy(col(valueCol))
    df.select(g, col(valueCol))
      .withColumn("bucket", expr(s"`$valueCol` div $bucketWidth"))
      .join(broadcast(target.select(g, col("bucket")).distinct()),
        Seq(groupCol, "bucket"))
      .withColumn("rn", row_number().over(wIn))
      .join(broadcast(target),
        Seq(groupCol, "bucket")) // then the rank equality
      .filter(col("rn") === col("k_in"))
      .select(g, col("k"), col(valueCol).as("kth"))
  }

  /** Reciprocal-rank fusion over 1-based ranking columns: Σ 1/(60 +
    * rank) with the standard RRF constant, where a null rank (the row
    * is absent from that ranking — a full outer join's other side)
    * contributes 0. Terms add in argument order.
    */
  def rrf(ranks: Column*): Column = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    ranks.map(r =>
      coalesce(lit(1.0) / (lit(60.0) + r.cast("double")), lit(0.0))
    ).reduce(_ + _)
  }
}
