package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.DecimalType

import graft.embed.Embedder
import graft.store.ParquetVectorStore
import graft.text.Splitters

/** A driver-held state object folded from `foreachBatch`
  * micro-batches — the shape every monitor ledger in [[EventStreams]]
  * shares. A subclass supplies the empty state and a pure [[fold]];
  * this class owns the replay gate and the sink.
  *
  * [[ingest]] is IDEMPOTENT per batchId: foreachBatch's at-least-once
  * semantics mean a failed/retried micro-batch runs the sink again
  * with the same id, and a second unconditional fold would
  * double-count its rows (or, for a bounded fold such as a top-k
  * heap, silently corrupt it). Only the first successful fold for an
  * id lands; a replay of an already-folded batch is skipped. Ids from
  * a restarted query resume past the checkpointed high-water mark, so
  * strictly-increasing ids is the correct acceptance test. The folded
  * state is installed only after the WHOLE batch folded: a batch that
  * throws part-way leaves both `state` and `lastBatchId` unchanged, so
  * its redelivery starts from a clean ledger.
  *
  * Restart caveat: the state lives in driver memory only. A ledger
  * recreated after a checkpoint restart starts empty, while the
  * restarted query resumes past every batch the old ledger had
  * folded — those batches are not re-delivered.
  */
abstract class BatchLedger[S](empty: S) {
  private[streaming] var state: S = empty
  /** Highest batchId already folded in; -1 before the first batch. */
  private[streaming] var lastBatchId: Long = -1L

  /** `s` with one micro-batch folded in; must not mutate `s`. */
  protected def fold(s: S, batch: DataFrame): S

  /** Folds one micro-batch; a replay of an already-folded id is a no-op. */
  final def ingest(batch: DataFrame, batchId: Long): Unit =
    if (batchId > lastBatchId) {
      state = fold(state, batch)
      lastBatchId = batchId
    }

  /** The `foreachBatch` writer that feeds `rows` into this ledger. */
  final def sink(rows: DataFrame): DataStreamWriter[Row] =
    rows.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ingest(batch, batchId)
    }
}

/** Structured Streaming faces of the engine (SURVEY.md §7.2 step 5).
  * The reference has no streaming (§2.9) — this is the driver-table
  * (`events`) extension: the SAME aggregations as
  * [[graft.queries.EventQueries]] run incrementally with watermarks, and
  * the ingest chain runs as a foreachBatch sink so late-arriving
  * documents flow through chunk→embed→store continuously.
  *
  * All transforms are expressed on a generic streaming DataFrame with an
  * event-time `ts` timestamp column, so any source (file, Kafka, memory)
  * plugs in. State stores scale with (window × type) and open-session
  * cardinality — bounded by the watermark, which is what makes these
  * safe on an unbounded 100 TB/day stream.
  */
object EventStreams {

  private def dsum(c: Column) = sum(c.cast(DecimalType(12, 2))).cast("double")

  /** Epoch hour / epoch day of a window-start timestamp — the
    * `ts_us div 3600e6` / `ts_us div 86400e6` keys of the batch queries.
    */
  private def hourIdx(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L / (3600L * 1000 * 1000)
  private def dayIdx(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L / (24L * 3600 * 1000 * 1000)

  /** e01's streaming face: tumbling 1-hour windows per event type.
    * Watermark bounds state: windows older than it are finalized and
    * evicted. Append output mode emits each window exactly once.
    */
  def hourlyRollup(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window rollup: overlapping 1-hour windows advancing every
    * `slide` — the smoothed trend view (rate dashboards, rolling SLO
    * counters) where [[hourlyRollup]]'s tumbling windows jump in steps.
    * Each event belongs to window/slide windows (4 here), which is the
    * documented state/throughput price of the overlap; watermark
    * eviction bounds open state exactly as in the tumbling case. Works
    * identically on batch frames (the per-event window membership is
    * pinned batch-side in StreamingSpec).
    */
  def slidingRollup(events: DataFrame, window_ : String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"),
        col("event_type"), col("n"), col("total_value"))

  /** e02's streaming face: session windows (30-minute gap) per user via
    * the built-in session_window — Spark merges/extends window state and
    * the watermark closes sessions. Works identically on batch frames.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming windowed cardinality: distinct users per tumbling hour
    * via the mergeable KMV bottom-k sketch
    * ([[graft.operators.Sketches.KmvDistinct]], q22's, here running
    * incrementally). The state per open window is O(k) hashes —
    * streaming countDistinct would instead hold EVERY distinct key in
    * the state store, the state that never stops growing on an
    * unbounded high-cardinality stream; this is the only safe shape
    * for "unique visitors per window" at firehose scale. KMV's state
    * is a function of the input SET, not arrival order or micro-batch
    * boundaries, so closed windows agree EXACTLY with the same
    * aggregate run in batch (e11's estimator arithmetic) — pinned by
    * StreamingSpec.
    */
  def hourlyDistinctUsers(events: DataFrame, k: Int = 256,
      watermark: String = "2 hours"): DataFrame = {
    val kmv = udaf(new graft.operators.Sketches.KmvDistinct(k),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        kmv(graft.operators.Sketches.kmvInput(
          graft.text.TextFunctions.hash32(col("user_id").cast("string"))))
          .as("est_users"))
      .select(col("window.start").as("hour"),
        col("n_events"), col("est_users"))
  }

  /** e19's STREAMING face: the top-k spenders per hour, finalized when
    * the watermark closes the hour — two CHAINED stateful aggregations
    * (Spark's multiple-stateful-operator support): exact per-(window,
    * user) DECIMAL spend sums first, then the mergeable
    * [[graft.operators.Sketches.TopKByScore]] per window over the
    * closed per-user rows. The order matters for correctness: a user's
    * spend splits across micro-batches, and a per-batch top-k folded
    * later would rank PARTIAL sums — only summing first makes the
    * board exact (pinned in StreamingSpec against the batch e19 logic
    * with a late small purchase that flips the ranking). State: the
    * first stage holds open windows × active users (evicted at the
    * watermark), the second holds k rows per open window.
    */
  def hourlyLeaderboard(events: DataFrame, k: Int = 3,
      watermark: String = "2 hours"): DataFrame = {
    val topk = udaf(new graft.operators.Sketches.TopKByScore(k),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(java.lang.Double, java.lang.Long)]())
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(sum(col("value").cast(DecimalType(12, 2))).as("v"))
      .groupBy(window(window_time(col("window")), "1 hour"))
      .agg(topk(col("v").cast("double"), col("user_id")).as("top"))
      .select(col("window.start").as("hour"),
        posexplode(col("top")).as(Seq("r0", "p")))
      .select(col("hour"), (col("r0") + 1).cast("long").as("rank"),
        col("p._2").as("user_id"), col("p._1").as("total_value"))
  }

  /** Driver-held ledger for the streaming incremental table profile:
    * each micro-batch reduces to one tiny
    * [[graft.operators.TableProfile.partial]] row appended to the
    * ledger (bounded by k longs per column — the sketch state, not the
    * data), folded to the exact global profile on demand. This is q36's
    * merge≡direct contract run CONTINUOUSLY: the catalog row for a
    * table stays current as the stream ingests, and no fold ever
    * rescans history. The per-batch driver traffic is one
    * catalog-sized row; KMV's set-function state makes the folded
    * profile EXACTLY equal to a one-pass batch profile of the same
    * rows regardless of how the stream was micro-batched — pinned in
    * StreamingSpec. Wire as `ledger.sink(rows)`.
    */
  final class ProfileLedger(val cols: Seq[String], val k: Int = 256)
      extends BatchLedger[Vector[Row]](Vector.empty) {
    protected def fold(s: Vector[Row], batch: DataFrame) =
      s ++ graft.operators.TableProfile.partial(batch, cols, k).collect()

    /** The exact global profile over everything ingested so far. */
    def current(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      require(state.nonEmpty, "profile ledger has seen no batches yet")
      graft.operators.TableProfile.fold(
        spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(state).asJava),
          state.head.schema),
        cols, k)
    }
  }

  final case class AnomalyRow(
      event_type: String,
      hour_idx: Long,
      n: Long,
      mean24: Double,
      z: Double,
      is_anomaly: Boolean)

  /** The closed per-(type, hour) count state of the four hourly
    * monitors ([[AnomalyLedger]], [[CusumLedger]], [[HoltLedger]],
    * [[HoltWintersLedger]]): one long per CLOSED (type, hour) —
    * catalog-sized (≤ |types| rows per stream hour), never
    * event-sized — folded from [[hourlyRollup]]'s finalized windows
    * (append mode emits a window once; the batchId gate makes
    * foreachBatch replays no-ops). Wire as
    * `ledger.sink(hourlyRollup(events)).outputMode("append")`.
    */
  abstract class HourlyCountLedger
      extends BatchLedger[Map[(String, Long), Long]](Map.empty) {
    protected def fold(s: Map[(String, Long), Long], batch: DataFrame) =
      s ++ batch.select(col("event_type"), col("hour"), col("n")).collect()
        .map(r => (r.getString(0), hourIdx(r.getTimestamp(1))) -> r.getLong(2))

    /** Bounds the ledger on a forever-running monitor: drops every
      * (type, hour) strictly before `minHourIdx`. What the cut does to
      * surviving scores is each monitor's eviction contract (class doc).
      */
    def evictBefore(minHourIdx: Long): Unit =
      state = state.filter { case ((_, h), _) => h >= minHourIdx }
  }

  /** Driver-held [[HourlyCountLedger]]: e23's trailing-24-hour z-score
    * surveillance run CONTINUOUSLY — the live traffic-spike monitor,
    * kept current without ever rescanning history. [[anomalies]]
    * replays e23's exact arithmetic over the ledger: integer window
    * sums (n, Σn, Σn²) over the type's PRESENT hours in [h−24, h−1] —
    * RANGE semantics, empty hours absent exactly as e23's window over
    * the hourly reduce — then the identical fixed double sequence, so
    * a closed hour's z-score equals the batch query's bit for bit
    * (pinned in StreamingSpec against the batch expression chain).
    *
    * Eviction: the caller keeps the 24 hours BEFORE the earliest hour
    * it still wants scored — an hour whose trailing window was
    * truncated by eviction would otherwise z-score against a shorter
    * trail than batch e23 sees.
    */
  final class AnomalyLedger extends HourlyCountLedger {
    /** e23 over the ledger: every closed (type, hour) with at least
      * `minWindow` present trailing hours, z-scored. Pure driver
      * arithmetic over catalog-sized state — one sort per type plus a
      * prefix-sum sliding window, O(n log n) total, NOT the naive
      * per-hour rescan of the whole map (O(n²), which a monitor that
      * runs for months would feel: |types|·|hours| entries rescanned
      * |entries| times per call). Prefix-sum differences of longs are
      * exact, so the window sums — and therefore every z-score — are
      * bit-identical to the per-hour rescan and to batch e23.
      */
    def anomalies(minWindow: Int = 12, flagAt: Double = 2.0)
        : Seq[AnomalyRow] =
      state.groupBy(_._1._1).toSeq.sortBy(_._1).flatMap { case (t, m) =>
        val hours = m.toArray.map { case ((_, h), n) => (h, n) }.sortBy(_._1)
        // prefix(i) = Σ n, Σ n² over hours(0 until i) — longs, exact.
        val psum = new Array[Long](hours.length + 1)
        val psumsq = new Array[Long](hours.length + 1)
        for (i <- hours.indices) {
          psum(i + 1) = psum(i) + hours(i)._2
          psumsq(i + 1) = psumsq(i) + hours(i)._2 * hours(i)._2
        }
        var lo = 0 // first index with hour >= h - 24; advances monotonically
        hours.indices.flatMap { i =>
          val (h, n) = hours(i)
          while (hours(lo)._1 < h - 24) lo += 1
          // present trailing hours in [h-24, h-1] = indices [lo, i)
          val cnt = (i - lo).toLong
          if (cnt < minWindow) None
          else {
            val sum = psum(i) - psum(lo)
            val sumsq = psumsq(i) - psumsq(lo)
            val mean = sum.toDouble / cnt.toDouble
            val vnum = (cnt * sumsq - sum * sum).toDouble
            val z =
              if (vnum <= 0) 0.0
              else (n.toDouble - mean) /
                math.sqrt(vnum / (cnt * cnt).toDouble)
            Some(AnomalyRow(t, h, n, mean, z, math.abs(z) > flagAt))
          }
        }
      }
  }

  /** One scored (type, day) from [[DriftLedger.drifts]] — e28's row. */
  final case class DriftRow(event_type: String, day_idx: Long,
      n_day: Long, psi_micro: Long)

  /** Daily per-type value-bucket counts — the streaming reduce that
    * feeds [[DriftLedger]]: each event buckets against the FIXED
    * baseline bounds (a types-sized literal map riding the scan — the
    * bounds must be frozen for streaming PSI to be meaningful, exactly
    * as batch e28 freezes them corpus-wide), then one tumbling-day
    * windowed count per (type, bucket). Types absent from `bounds`
    * (first seen after the baseline was fit) are not scoreable against
    * it and are dropped here — refit the baseline to admit them.
    * State is (types × 8 buckets) per open day; append mode emits each
    * (day, type, bucket) cell exactly once at watermark close.
    */
  def dailyValueBuckets(events: DataFrame,
      bounds: Map[String, (Double, Double)],
      watermark: String = "2 days"): DataFrame = {
    val loM = typedLit(bounds.map { case (t, (lo, _)) => t -> lo })
    val hiM = typedLit(bounds.map { case (t, (_, hi)) => t -> hi })
    events
      .withWatermark("ts", watermark)
      .withColumn("lo", element_at(loM, col("event_type")))
      .withColumn("hi", element_at(hiM, col("event_type")))
      .filter(col("lo").isNotNull)
      // Both ends clamp: the baseline bounds are FROZEN, so live values
      // can land outside them on either side — below-lo must fold into
      // bucket 0 exactly as above-hi folds into 7, or downward drift is
      // scored asymmetrically and per-day state stops being bounded by
      // types×8 cells (one cell per distinct negative bucket id).
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(greatest(lit(0L), least(lit(7L),
            floor((col("value").cast("double") - col("lo")) * lit(8.0) /
              (col("hi") - col("lo"))).cast("long")))))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("day"), col("event_type"), col("bucket"),
        col("n"))
  }

  /** Driver-held ledger: e28's per-day PSI against a FIXED baseline,
    * run continuously — the live distribution-drift
    * monitor a serving pipeline keeps next to e23's volume monitor.
    * `baseline` is the (type, bucket) → count table of the frozen
    * reference window (types-sized, from a batch run of the e28
    * chain); state is one long per CLOSED (type, day, bucket) —
    * ≤ 8·|types| per stream day, never event-sized — idempotent per
    * batchId (the [[BatchLedger]] discipline). [[drifts]] replays
    * e28's exact smoothing/quantization arithmetic over the union of
    * the baseline's and the day's observed buckets, so a closed day's
    * psi_micro equals the batch query's bit for bit (StreamingSpec
    * pins it against the batch expression chain). Wire as
    * `ledger.sink(dailyValueBuckets(events, bounds))
    * .outputMode("append")`.
    */
  final class DriftLedger(baseline: Map[(String, Long), Long])
      extends BatchLedger[Map[(String, Long, Long), Long]](Map.empty) {
    private val nb: Map[String, Long] =
      baseline.groupBy(_._1._1).map { case (t, m) => t -> m.values.sum }

    /** Folds closed [[dailyValueBuckets]] cells. */
    protected def fold(s: Map[(String, Long, Long), Long], batch: DataFrame) =
      s ++ batch.select(col("event_type"), col("day"), col("bucket"),
        col("n")).collect().map { r =>
        (r.getString(0), dayIdx(r.getTimestamp(1)), r.getLong(2)) ->
          r.getLong(3)
      }

    /** e28 over the ledger: every closed (type, day) PSI-scored
      * against the baseline. Pure driver arithmetic over catalog-sized
      * state; term quantization and sum are exact integers, so the
      * result is independent of ingest order.
      */
    def drifts(): Seq[DriftRow] =
      state.groupBy(k => (k._1._1, k._1._2)).toSeq.sortBy(_._1)
        .map { case ((t, day), m) =>
          val cd = m.map { case ((_, _, b), n) => b -> n }
          val nd = cd.values.sum
          val bbs = baseline.collect { case ((`t`, b), c) => b -> c }
          val nbv = nb.getOrElse(t, 0L)
          val psi = (cd.keySet ++ bbs.keySet).toSeq.sorted.map { b =>
            val sb = (bbs.getOrElse(b, 0L) + 1).toDouble /
              (nbv + 8).toDouble
            val sd = (cd.getOrElse(b, 0L) + 1).toDouble /
              (nd + 8).toDouble
            math.floor((sb - sd) * math.log(sb / sd) * 1000000.0).toLong
          }.sum
          DriftRow(t, day, nd, psi)
        }

    /** Bounds the ledger on a forever-running monitor (the
      * [[HourlyCountLedger.evictBefore]] discipline): drops every closed
      * (type, day, bucket) cell strictly before `minDayIdx`. Safe at
      * any cut — unlike the z-score ledger, a day's PSI reads only its
      * own cells and the frozen baseline, so eviction can never change
      * a surviving day's score.
      */
    def evictBefore(minDayIdx: Long): Unit =
      state = state.filter { case ((_, day, _), _) => day >= minDayIdx }
  }

  /** One scored type from [[CusumLedger.alarms]] — e32's row shape
    * over the ledger's observed hours.
    */
  final case class CusumRow(event_type: String, n_hours: Long,
      n_alarms: Long, first_alarm_hour: Option[Long], max_s_micro: Long)

  /** Driver-held [[HourlyCountLedger]]: e32's sustained-shift
    * CUSUM run CONTINUOUSLY — the third leg of the monitor trio next
    * to [[AnomalyLedger]] (single-hour spikes) and [[DriftLedger]]
    * (distribution drift). `muMicro` is the FROZEN per-type reference
    * level (micro-units, from a batch run over the baseline window —
    * the DriftLedger bounds discipline: a monitor that re-fits its
    * own reference absorbs the very drift it should flag). Types with
    * no frozen reference are not scoreable — [[alarms]] skips them;
    * refit the baseline to admit them.
    * [[alarms]] replays e32's exact integer transitions (slack μ/10,
    * threshold 2μ, alarm-and-reset) over the type's hours in order,
    * so given the same reference the alarm sequence matches the batch
    * fold bit for bit (StreamingSpec pins it against a driver replay
    * of e32's arithmetic).
    *
    * Eviction RESTARTS accumulation at the horizon (S = 0): CUSUM's
    * state is a running sum over all history, so unlike the z-score
    * and PSI ledgers a truncated prefix is not score-invariant —
    * which is fine in practice because S resets at every alarm
    * anyway; place the horizon at or behind the last alarm and
    * surviving scores are unchanged. The contract is explicit, not
    * silent.
    */
  final class CusumLedger(muMicro: Map[String, Long])
      extends HourlyCountLedger {
    /** e32 over the ledger: per type, the alarm count, first alarm
      * hour, and max accumulation, folded over observed hours in
      * order with the frozen reference. Pure driver arithmetic over
      * catalog-sized state; exact integers end to end.
      */
    def alarms(): Seq[CusumRow] =
      state.groupBy(_._1._1).toSeq.sortBy(_._1)
        .filter { case (t, _) => muMicro.contains(t) }.map { case (t, m) =>
        val mu = muMicro(t)
        val k = mu / 10
        val h = mu * 2
        var s = 0L
        var nAlarms = 0L
        var first: Option[Long] = None
        var maxS = 0L
        m.toSeq.map { case ((_, hr), n) => (hr, n) }.sortBy(_._1)
          .foreach { case (hr, n) =>
            val sNew = math.max(0L, s + n * 1000000L - mu - k)
            if (sNew > maxS) maxS = sNew
            if (sNew > h) {
              nAlarms += 1
              if (first.isEmpty) first = Some(hr)
              s = 0L
            } else s = sNew
          }
        CusumRow(t, m.size.toLong, nAlarms, first, maxS)
      }
  }

  /** Closed per-(hour, user) spend windows — the input of
    * [[LeaderboardLedger]]; e19's first aggregate as a watermarked
    * tumbling window. Append mode emits each (hour, user) total
    * exactly once, on close.
    */
  def hourlyUserValue(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("user_id"),
        col("total_value"))

  /** Driver-held ledger: Misra-Gries heavy-hitter state over a STREAM
    * of items — the frequency monitor
    * completing the ledger family ([[AnomalyLedger]] volume spikes,
    * [[DriftLedger]] distribution drift, [[CusumLedger]] sustained
    * shifts, [[HoltLedger]] forecasts; this answers "which items
    * dominate the stream so far", the trending-vocabulary signal next
    * to d105's batch term-hotness profile). Each micro-batch reduces
    * EXECUTOR-side to one k-counter MG state (the
    * [[graft.operators.Sketches.HeavyHitters]] udaf — only k counters
    * ever cross to the driver, whatever the batch's vocabulary), and
    * the ledger folds states under the mergeable-summaries merge rule
    * (Agarwal et al.) via the SAME class, so the ledger inherits MG's
    * bound over the WHOLE stream: any item with true frequency
    * > n/(k+1) is guaranteed present, and every reported count lies in
    * [true − n/(k+1), true]. Counter VALUES are merge-order dependent
    * — inherent to MG — so the deterministic contract is the bound,
    * pinned in StreamingSpec exactly as SketchesSpec pins the batch
    * sketch. State: k counters + one n; idempotent per batchId. Wire
    * any item stream (terms, URLs, user agents) as
    * `ledger.sink(docs.select(explode(tokens(col("text"))).as("item")))`.
    */
  final class HeavyHitterLedger(val k: Int)
      extends BatchLedger[(Map[String, Long], Long)]((Map.empty, 0L)) {
    require(k >= 1, s"MG needs k >= 1, got $k")
    private val mg = new graft.operators.Sketches.HeavyHitters(k)

    /** Folds one micro-batch of items (column `item`). */
    protected def fold(s: (Map[String, Long], Long), batch: DataFrame) = {
      val agg = batch
        .agg(udaf(new graft.operators.Sketches.HeavyHitters(k),
          org.apache.spark.sql.Encoders.STRING)(col("item")).as("hh"),
          count(col("item")).as("cnt"))
        .head()
      val batchState = agg.getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (mg.merge(s._1, batchState), s._2 + agg.getLong(1))
    }

    /** The surviving candidates, (count DESC, item ASC), with the
      * stream-wide error bound n div (k+1) each count is within.
      */
    def top(): Seq[(String, Long, Long)] = {
      val (counters, n) = state
      val b = n / (k + 1)
      counters.toSeq.sortBy { case (t, c) => (-c, t) }
        .map { case (t, c) => (t, c, b) }
    }
  }

  /** STREAMING face of e46's time-decayed engagement: closed
    * per-(hour, user) increments — event count + exact cents sum —
    * emitted exactly once per window close ([[retentionIncrements]]'s
    * contract: increments, NOT a driver ledger, because decayed
    * engagement is USER-keyed and a user-keyed driver map is the one
    * state shape that does not survive 100 TB — the LeaderboardLedger
    * lesson). The downstream store folds increments by (user,
    * week-of(hour_idx)) and re-weights at read with the same integer
    * staircase (1e6 >> weeks): exact, because batch e46 ages events
    * by CLOCK-HOUR index, so every event inside a closed hour shares
    * one age and the hourly increment is weight-homogeneous.
    * StreamingSpec pins the folded increments ≡ batch e46 bit for bit
    * under scrambled cross-batch arrival. Output: (hour_idx, user_id,
    * n, cents) — cents as exact longs, never a double sum.
    */
  def hourlyUserEngagement(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(12,2)") * 100).cast("long"))
          .as("cents"))
      .select(expr("unix_timestamp(window.start) div 3600").as("hour_idx"),
        col("user_id"), col("n"), col("cents"))

  /** One ranked row from [[LeaderboardLedger.top]] — e19's row shape
    * over the ledger's closed hours.
    */
  final case class LeaderboardRow(hour_idx: Long, rank: Long,
      user_id: Long, total_value: Double)

  /** Driver-held ledger: e19's hourly top-spender leaderboard run
    * CONTINUOUSLY. State is a BOUNDED
    * top-k heap per CLOSED hour — k×horizon entries, never
    * hourly-actives×horizon (a user-keyed driver map is the one
    * driver-state shape that does NOT survive 100 TB: hourly actives
    * are data-scale). The bound loses nothing: [[hourlyUserValue]]'s
    * closed append-mode windows deliver each (hour, user) total
    * EXACTLY ONCE, and the exact top-k of a set folds one element at a
    * time under the [[graft.operators.Sketches.TopKByScore]] order
    * (value DESC, user ASC — total because users are unique per hour),
    * so on closed hours the rows still match the batch query exactly
    * (values arrive as the stream's own decimal-summed doubles — the
    * ledger never re-adds them, so there is no merge-order drift to
    * reconcile). Idempotent per batchId: a bounded fold is NOT
    * re-entrant per row, which is precisely why the batchId gate must
    * stay (and StreamingSpec pins both the equality and the ≤ k state
    * bound).
    *
    * Unlike the CUSUM/Holt recurrences, hours are INDEPENDENT here, so
    * [[evictBefore]] is score-invariant for every surviving hour — the
    * eviction contract is free. Wire as
    * `ledger.sink(hourlyUserValue(events)).outputMode("append")`.
    */
  final class LeaderboardLedger(k: Int = 3)
      extends BatchLedger[Map[Long, Vector[(Double, Long)]]](Map.empty) {
    private val topK = new graft.operators.Sketches.TopKByScore(k)

    /** Folds closed [[hourlyUserValue]] windows into the per-hour heaps
      * with [[graft.operators.Sketches.TopKByScore]]'s own `reduce`.
      */
    protected def fold(s: Map[Long, Vector[(Double, Long)]], batch: DataFrame) =
      batch.select(col("hour"), col("user_id"), col("total_value"))
        .collect()
        .foldLeft(s) { (heaps, r) =>
          val h = hourIdx(r.getTimestamp(0))
          heaps + (h -> topK.reduce(heaps.getOrElse(h, Vector.empty),
            (r.getAs[java.lang.Double](2), r.getAs[java.lang.Long](1))).toVector)
        }

    /** e19 over the ledger: per closed hour, the top-k spenders ranked
      * (value DESC, user ASC) — the heaps are already in rank order.
      */
    def top(): Seq[LeaderboardRow] =
      state.toSeq.sortBy(_._1).flatMap { case (h, heap) =>
        heap.zipWithIndex.map { case ((v, u), i) =>
          LeaderboardRow(h, i + 1L, u, v)
        }
      }

    /** Drops every closed hour strictly before `minHourIdx`;
      * surviving hours' rankings are unchanged (hours independent).
      */
    def evictBefore(minHourIdx: Long): Unit =
      state = state.filter { case (h, _) => h >= minHourIdx }
  }

  /** One forecast row from [[HoltLedger.forecast]] — e36's row shape
    * over the ledger's observed hours.
    */
  final case class HoltRow(event_type: String, n_hours: Long,
      level_micro: Long, trend_micro: Long, forecast_micro: Long,
      mae_micro: Long, max_abs_err_micro: Long)

  /** Driver-held [[HourlyCountLedger]]: e36's Holt double smoothing
    * run CONTINUOUSLY — the forecasting leg of the monitor family
    * ([[AnomalyLedger]] spikes, [[DriftLedger]] drift, [[CusumLedger]]
    * sustained shifts; this one answers "what does next hour look
    * like", which is what capacity alerts threshold against).
    * [[forecast]] replays e36's exact integer recurrence (alpha 1/5,
    * beta 1/10, truncate-toward-zero division — Scala `/` on Long IS
    * the engines' div) over the type's hours in order, so on closed
    * hours the rows match the batch query bit for bit (StreamingSpec
    * pins it against a driver replay).
    *
    * Eviction RESTARTS the recurrence at the horizon (the CusumLedger
    * contract): level and trend are functions of the full prefix, so a
    * truncated prefix re-initializes l = first surviving hour's count,
    * b = 0. Explicit, not silent — forecasts stabilize again after
    * ~1/alpha surviving hours.
    */
  final class HoltLedger extends HourlyCountLedger {
    /** e36 over the ledger: per type, final level/trend, the next-hour
      * forecast, and the one-step-ahead error profile, folded over
      * observed hours in order. Pure driver arithmetic over
      * catalog-sized state; exact integers end to end.
      */
    def forecast(): Seq[HoltRow] =
      state.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (t, m) =>
        val hs = m.toSeq.map { case ((_, hr), n) => (hr, n) }.sortBy(_._1)
        var l = 0L
        var b = 0L
        var sae = 0L
        var maxae = 0L
        var i = 0L
        hs.foreach { case (_, n) =>
          val y = n * 1000000L
          if (i == 0L) { l = y; b = 0L }
          else {
            val pred = l + b
            val ae = math.abs(y - pred)
            sae += ae
            if (ae > maxae) maxae = ae
            val lNew = (y + 4L * pred) / 5L
            b = (lNew - l + 9L * b) / 10L
            l = lNew
          }
          i += 1
        }
        val nh = hs.size.toLong
        HoltRow(t, nh, l, b, l + b,
          if (nh > 1) sae / (nh - 1) else 0L, maxae)
      }
  }

  /** One forecast row from [[HoltWintersLedger.forecast]] — e39's row
    * shape over the ledger's observed hours.
    */
  final case class HoltWintersRow(event_type: String, n_hours: Long,
      level_micro: Long, trend_micro: Long, forecast_micro: Long,
      mae_micro: Long)

  /** [[HoltLedger]] with e39's 24-slot hour-of-day seasonal vector —
    * the continuous face of the Holt-Winters query, for the capacity
    * alerts where "is this hour unusual" depends on which hour of the
    * day it is. Same state shape (an [[HourlyCountLedger]]), same
    * eviction contract (the recurrence — level, trend AND seasonals —
    * re-initializes at the horizon; the seasonal vector refills over
    * the next cycle). [[forecast]] replays e39's exact integer
    * recurrence (alpha 1/5, beta 1/10,
    * gamma 1/10; Scala Long `/` IS both engines' truncate-toward-zero
    * div), so closed hours match the batch query bit for bit
    * (StreamingSpec pins it against a driver replay).
    */
  final class HoltWintersLedger extends HourlyCountLedger {
    /** e39 over the ledger: per type, final level/trend, the next-hour
      * forecast WITH the upcoming hour-of-day's seasonal, and the MAE.
      * Pure driver arithmetic over catalog-sized state.
      */
    def forecast(): Seq[HoltWintersRow] =
      state.groupBy(_._1._1).toSeq.sortBy(_._1).map { case (t, m) =>
        val hs = m.toSeq.map { case ((_, hr), n) => (hr, n) }.sortBy(_._1)
        val s = Array.fill(24)(0L)
        var l = 0L
        var b = 0L
        var sae = 0L
        var lasth = 0L
        var i = 0L
        hs.foreach { case (hr, n) =>
          val y = n * 1000000L
          val idx = (((hr % 24) + 24) % 24).toInt
          if (i == 0L) { l = y; b = 0L }
          else {
            val so = s(idx)
            sae += math.abs(y - l - b - so)
            val lNew = (y - so + 4L * (l + b)) / 5L
            b = (lNew - l + 9L * b) / 10L
            s(idx) = (y - lNew + 9L * so) / 10L
            l = lNew
          }
          lasth = hr
          i += 1
        }
        val nh = hs.size.toLong
        HoltWintersRow(t, nh, l, b,
          l + b + s(((((lasth + 1) % 24) + 24) % 24).toInt),
          if (nh > 1) sae / (nh - 1) else 0L)
      }
  }

  /** Streaming ingest into the on-disk inverted text index
    * ([[graft.store.TextIndex]]): each micro-batch of documents folds
    * into the bucketed posting layout via
    * [[graft.store.TextIndex.appendBatch]] — replay-idempotent at the
    * DISK level (the batchId marker skips a re-delivered batch
    * wholesale, the staged commit makes a partially-written batch
    * replayable, and already-indexed doc ids skip individually, so a
    * foreachBatch re-delivery cannot double-count df), first batch
    * creates the index, and because append ≡ one-shot build bit for
    * bit, the streamed index equals a batch build over everything
    * ingested so far (TextIndexSpec + StreamingSpec pin both halves).
    * `withPositions = true` additionally maintains the positional
    * phrase tier inside the SAME staged commit — both tiers publish
    * atomically under one batch marker, so a stream-built phrase
    * index equals a batch [[graft.store.TextIndex.buildPositions]]
    * bit for bit and replays cannot double-append position rows
    * (StreamingSpec pins it).
    */
  def textIndexSink(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64, withPositions: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.store.TextIndex.appendBatch(batch, idCol, textCol, path,
          nBuckets, batchId, withPositions)
    }

  /** Streaming DELETES against the on-disk inverted text index — the
    * other half of [[textIndexSink]]'s maintenance story (IvfIndex
    * parity): each micro-batch of doc ids becomes one staged
    * tombstone + stats-correction publish via
    * [[graft.store.TextIndex.deleteBatch]], so a stream-deleted doc's
    * scores equal a batch `delete` bit for bit and a re-delivered or
    * half-written batch can never double-subtract the corrections
    * (StreamingSpec pins both; `compact` reclaims as usual).
    */
  def textIndexDeleteSink(ids: DataFrame, idCol: String, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    ids.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.store.TextIndex.deleteBatch(batch, idCol, path, batchId)
    }

  /** Streaming dedup-cluster maintenance: each micro-batch of near-dup
    * pairs (a_id, b_id) folds into the ON-DISK label store at `path`
    * via [[graft.text.Dedup.labelStoreBatch]] — the d109 quotient
    * identity run continuously, so the cluster labeling stays current
    * as ingest discovers pairs WITHOUT ever storing or replaying the
    * pair history (per batch: |labels| + |delta| edges through the
    * O(log n) star contraction). Replay-idempotent per batchId AND
    * under the fold itself (re-folding an absorbed delta is a
    * quotient no-op), crash-safe by the rename-swap label commit;
    * read the current labeling with [[graft.text.Dedup.labelStore]].
    * StreamingSpec pins stream labels ≡ batch
    * [[graft.text.Dedup.dupComponents]] over the concatenated pair
    * history on closed batches, and replay/crash idempotence.
    */
  def dupLabelsSink(pairs: DataFrame, path: String, maxIter: Int = 50,
      checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.text.Dedup.labelStoreBatch(batch, path, batchId, maxIter,
          checkpointDir)
    }

  /** Per-day exact DAU + KMV user state, finalized at watermark close —
    * the streaming reduce that feeds [[ActivesLedger]] (e29's face).
    * Two CHAINED stateful aggregations (the [[hourlyLeaderboard]]
    * pattern, and for the same reason): a user's events split across
    * micro-batches, so the per-(day, user) dedup must CLOSE before the
    * day aggregates — only then is `dau` an exact distinct count and
    * the KMV state fed each user once. (Feeding raw events to the KMV
    * would still be correct — its state is a set function — but the
    * exact dau would not exist; the dedup stage buys both.) State:
    * stage 1 holds open days × active users, evicted at the watermark;
    * stage 2 holds one (count, k-longs) per open day. Append mode
    * emits each closed day exactly once.
    */
  def dailyUserStates(events: DataFrame, k: Int = 64,
      watermark: String = "2 days"): DataFrame = {
    val st = udaf(new graft.operators.Sketches.KmvState(k),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(window_time(col("window")), "1 day"))
      .agg(count(lit(1)).as("dau"),
        st(graft.operators.Sketches.kmvInput(
          graft.text.TextFunctions.hash32(col("user_id").cast("string"))))
          .as("state"))
      .select(col("window.start").as("day"), col("dau"), col("state"))
  }

  /** One (day, exact DAU, trailing-window estimates) row from
    * [[ActivesLedger.actives]] — e29's row.
    */
  final case class ActiveRow(day_idx: Long, dau: Long,
      wau_est: Double, mau_est: Double)

  /** Driver-held ledger: e29's rolling DAU/WAU/MAU run CONTINUOUSLY —
    * the dashboard triple kept current as days
    * close. State is one (count, k-longs KMV state) per CLOSED day —
    * calendar-sized, never event- or user-sized; idempotent per
    * batchId (the [[BatchLedger]] discipline). [[actives]] merges
    * each day's trailing 7/30 member states through the same
    * [[graft.operators.Sketches.KmvDistinct]] merge/finish the batch
    * query's KmvMerge delegates to, so a closed day's estimates equal
    * batch e29's bit for bit (merge-of-states ≡ state-of-union —
    * pinned in StreamingSpec against the batch expression chain). Wire
    * as `ledger.sink(dailyUserStates(events)).outputMode("append")`.
    */
  final class ActivesLedger(k: Int = 64)
      extends BatchLedger[Map[Long, (Long, Array[Long])]](Map.empty) {
    private val kmv = new graft.operators.Sketches.KmvDistinct(k)

    /** Folds closed [[dailyUserStates]] days. */
    protected def fold(s: Map[Long, (Long, Array[Long])], batch: DataFrame) =
      s ++ batch.select(col("day"), col("dau"), col("state")).collect()
        .map(r => dayIdx(r.getTimestamp(0)) ->
          (r.getLong(1), r.getSeq[Long](2).toArray))

    /** e29 over the ledger: every closed day with its trailing 7/30-day
      * merged estimates. Pure driver arithmetic over calendar-sized
      * state; KMV merge is a set operation, so the result is
      * independent of ingest order and micro-batch boundaries.
      */
    def actives(): Seq[ActiveRow] = {
      val sorted = state.toSeq.sortBy(_._1)
      def est(day: Long, w: Int): Double = kmv.finish(
        sorted.filter { case (d, _) => d > day - w && d <= day }
          .map(_._2._2).foldLeft(kmv.zero)(kmv.merge))
      sorted.map { case (d, (dau, _)) =>
        ActiveRow(d, dau, est(d, 7), est(d, 30))
      }
    }

    /** Bounds the ledger on a forever-running monitor (the
      * [[HourlyCountLedger.evictBefore]] discipline): drops every closed
      * day strictly before `minDayIdx`. The caller keeps the 30 days
      * BEFORE the earliest day it still wants scored — a surviving
      * day whose trailing window was truncated by eviction would
      * otherwise merge fewer member states than batch e29 sees.
      */
    def evictBefore(minDayIdx: Long): Unit =
      state = state.filter { case (d, _) => d >= minDayIdx }
  }

  /** Per-(day, type) KMV audience state, finalized at watermark close —
    * the streaming reduce that feeds [[OverlapLedger]] (e41's face).
    * ONE stateful aggregation: KMV state is a pure SET function, so
    * feeding raw events (a user split across micro-batches hits the
    * state twice, idempotently) is exact — no dedup stage needed
    * (contrast [[dailyUserStates]], whose second stage exists only for
    * the exact DAU). State per open (day, type) is k longs.
    */
  def dailyTypeUserStates(events: DataFrame, k: Int = 32,
      watermark: String = "2 days"): DataFrame = {
    val st = udaf(new graft.operators.Sketches.KmvState(k),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .filter(col("value") >= 150)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(st(graft.operators.Sketches.kmvInput(
        graft.text.TextFunctions.hash32(col("user_id").cast("string"))))
        .as("state"))
      .select(col("window.start").as("day"), col("event_type"), col("state"))
  }

  /** One audience-overlap cell from [[OverlapLedger.overlaps]] —
    * e41's row.
    */
  final case class OverlapRow(type_a: String, type_b: String,
      est_a: Double, est_b: Double, est_union: Double,
      est_inter: Double, jaccard: Double)

  /** Driver-held ledger: e41's pairwise engaged-audience matrix run
    * CONTINUOUSLY — segment overlap kept current
    * as days close, without rescanning the event log per pair or per
    * day. State is one k-longs KMV state per CLOSED (type, day) —
    * calendar×types-sized; idempotent per batchId. [[overlaps]] merges
    * each type's retained day states (set semantics: bottom-k of a
    * union IS the merge of bottom-ks, so ingest order and micro-batch
    * boundaries cannot matter), then states e41's density /
    * inclusion–exclusion arithmetic — on closed data the matrix
    * equals the batch query's bit for bit (StreamingSpec pins it
    * against the batch expression chain). [[evictBefore]] gives the
    * trailing-window audience matrix, exact for survivors. Wire as
    * `ledger.sink(dailyTypeUserStates(events)).outputMode("append")`.
    */
  final class OverlapLedger(k: Int = 32)
      extends BatchLedger[Map[(String, Long), Array[Long]]](Map.empty) {
    private val kmv = new graft.operators.Sketches.KmvDistinct(k)

    /** Folds closed [[dailyTypeUserStates]] rows. */
    protected def fold(s: Map[(String, Long), Array[Long]], batch: DataFrame) =
      s ++ batch.select(col("event_type"), col("day"), col("state")).collect()
        .map(r => (r.getString(0), dayIdx(r.getTimestamp(1))) ->
          r.getSeq[Long](2).toArray)

    /** e41 over the ledger: every type pair (a < b) with estimates,
      * inclusion–exclusion intersection and Jaccard — e41's exact
      * double arithmetic over the merged per-type states.
      */
    def overlaps(): Seq[OverlapRow] = {
      val byType = state.groupBy(_._1._1).toSeq.sortBy(_._1)
        .map { case (t, m) =>
          t -> m.values.foldLeft(kmv.zero)(kmv.merge)
        }
      for {
        i <- byType.indices
        j <- (i + 1) until byType.length
      } yield {
        val (ta, sa) = byType(i)
        val (tb, sb) = byType(j)
        val ea = kmv.finish(sa)
        val eb = kmv.finish(sb)
        val eu = kmv.finish(kmv.merge(sa, sb))
        val inter = math.max(0.0, ea + eb - eu)
        OverlapRow(ta, tb, ea, eb, eu, inter,
          if (eu > 0.0) inter / eu else 0.0)
      }
    }

    /** Drops every closed (type, day) strictly before `minDayIdx` —
      * the trailing-window matrix; surviving days' states are exact.
      */
    def evictBefore(minDayIdx: Long): Unit =
      state = state.filter { case ((_, d), _) => d >= minDayIdx }
  }

  /** Per-day EXACT user bitmap, finalized at watermark close — the
    * streaming reduce that feeds [[BitmapActivesLedger]] (e33's face,
    * and the exact sibling of [[dailyUserStates]]). ONE stateful
    * aggregation suffices where the KMV face needed two: setting a
    * bit is idempotent, so a user split across micro-batches needs no
    * dedup stage, and the closed day's exact DAU is just the state's
    * popcount. State per open day is capacity/64 longs — independent
    * of traffic.
    */
  def dailyUserBitmaps(events: DataFrame, capacity: Int,
      watermark: String = "2 days"): DataFrame = {
    val st = udaf(new graft.operators.Sketches.BitmapState(capacity),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(st(col("user_id")).as("bm"))
      .select(col("window.start").as("day"),
        expr("aggregate(transform(bm, w -> bit_count(w)), 0, " +
          "(a, x) -> a + x)").cast("long").as("dau"),
        col("bm"))
  }

  /** Driver-held ledger: e33's EXACT rolling DAU/WAU/MAU run
    * continuously — [[ActivesLedger]]'s shape with
    * zero estimator error. State is capacity/64 longs per CLOSED day
    * (calendar-sized); idempotent per batchId; trailing windows
    * OR-merge member-day bitmaps, so a closed day's counts equal
    * batch e33's (and plain COUNT DISTINCT's) bit for bit — pinned
    * in StreamingSpec. Wire as
    * `ledger.sink(dailyUserBitmaps(events, cap)).outputMode("append")`.
    */
  final class BitmapActivesLedger(capacity: Int)
      extends BatchLedger[Map[Long, Array[Long]]](Map.empty) {
    private val words = (capacity + 63) >>> 6

    /** Folds closed [[dailyUserBitmaps]] days; wrong-width states fail
      * loudly (a different capacity is a different dictionary).
      */
    protected def fold(s: Map[Long, Array[Long]], batch: DataFrame) =
      s ++ batch.select(col("day"), col("bm")).collect().map { r =>
        val bm = r.getSeq[Long](1).toArray
        require(bm.length == words,
          s"bitmap state width ${bm.length} != $words — " +
            "states from a different capacity/dictionary")
        dayIdx(r.getTimestamp(0)) -> bm
      }

    private def pop(a: Array[Long]): Long = {
      var n = 0L; var i = 0
      while (i < a.length) { n += java.lang.Long.bitCount(a(i)); i += 1 }
      n
    }

    /** e33 over the ledger: every closed day with exact trailing
      * 7/30-day actives. OR is a set union, so the result is
      * independent of ingest order and micro-batch boundaries.
      */
    def actives(): Seq[ActiveExactRow] = {
      val sorted = state.toSeq.sortBy(_._1)
      def winPop(day: Long, w: Int): Long = {
        val acc = new Array[Long](words)
        sorted.foreach { case (d, bm) =>
          if (d > day - w && d <= day) {
            var i = 0
            while (i < words) { acc(i) |= bm(i); i += 1 }
          }
        }
        pop(acc)
      }
      sorted.map { case (d, bm) =>
        ActiveExactRow(d, pop(bm), winPop(d, 7), winPop(d, 30))
      }
    }

    /** [[ActivesLedger.evictBefore]]'s contract: the caller keeps the
      * 30 days before the earliest day it still wants scored.
      */
    def evictBefore(minDayIdx: Long): Unit =
      state = state.filter { case (d, _) => d >= minDayIdx }
  }

  /** One exact (day, DAU, WAU, MAU) row from
    * [[BitmapActivesLedger.actives]] — e33's row.
    */
  final case class ActiveExactRow(day_idx: Long, dau_exact: Long,
      wau_exact: Long, mau_exact: Long)

  /** Daily per-arm exact moment partials — the streaming reduce that
    * feeds [[WelfordLedger]] (e40's continuous face): per closed
    * (day, event_type) the (n, Σm, Σm²) triple over micro-quantized
    * values, the textbook MERGEABLE state for means/variances (moments
    * add across any partition of the data — days, shards, batches —
    * because they are plain integer sums; a running mean/var would
    * not). Sums ride DECIMAL(38,0) so Σm² cannot overflow a long at
    * any event rate. Types other than the two arms are filtered before
    * the window state, so open-day state is exactly 2 rows per day.
    */
  def dailyValueMoments(events: DataFrame, typeA: String, typeB: String,
      watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type") === typeA || col("event_type") === typeB)
      .withColumn("m", floor(col("value") * 1000000).cast("long"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("m").cast("decimal(38,0)")).as("s"),
        sum((col("m") * col("m")).cast("decimal(38,0)")).as("q"))
      .select(col("w.start").as("day"), col("event_type"),
        col("n"), col("s"), col("q"))

  /** e40's one-row output over the ledger's closed days. */
  final case class WelchRow(n_a: Long, n_b: Long, mean_a_micro: Long,
      mean_b_micro: Long, t_stat: Double, df_welch: Double)

  /** Driver-held ledger: e40's Welch test run
    * CONTINUOUSLY — the always-on experiment monitor that re-scores
    * the A/B comparison as each day closes, without ever rescanning
    * history. State is one exact moment triple per closed
    * (arm, day) — calendar-bounded, never event-sized — idempotent
    * per batchId (the [[BatchLedger]] discipline); Σ and Σ² live as
    * BigInt on the driver (Σm² exceeds a long at ~10⁹ events/arm).
    * [[welch]] folds the retained days by integer ADDITION (moments
    * merge exactly — the associativity IS the correctness argument)
    * and then states e40's t/df arithmetic token for token, so on
    * closed data the row equals the batch query's bit for bit
    * (StreamingSpec pins it against the batch expression chain).
    * [[evictBefore]] turns the all-time test into a trailing-window
    * test: surviving days' moments are untouched, so the re-fold is
    * exact for the window. Wire as
    * `ledger.sink(dailyValueMoments(events, a, b)).outputMode("append")`.
    */
  final class WelfordLedger(typeA: String, typeB: String)
      extends BatchLedger[Map[(String, Long), (Long, BigInt, BigInt)]](
        Map.empty) {
    /** Folds closed [[dailyValueMoments]] rows. */
    protected def fold(s: Map[(String, Long), (Long, BigInt, BigInt)],
        batch: DataFrame) =
      s ++ batch.select(col("event_type"), col("day"), col("n"), col("s"),
        col("q")).collect().map { r =>
        (r.getString(0), dayIdx(r.getTimestamp(1))) ->
          ((r.getLong(2),
            BigInt(r.getDecimal(3).toBigInteger),
            BigInt(r.getDecimal(4).toBigInteger)))
      }

    private def arm(t: String): (Long, BigInt, BigInt) =
      state.collect { case ((`t`, _), m) => m }
        .foldLeft((0L, BigInt(0), BigInt(0))) { case ((n, s, q), (dn, ds, dq)) =>
          (n + dn, s + ds, q + dq)
        }

    /** The e40 row over every retained closed day, or None while
      * either arm has fewer than 2 observations (variance undefined —
      * absence is the honest answer, not a NaN row).
      */
    def welch(): Option[WelchRow] = {
      val (na, sa, qa) = arm(typeA)
      val (nb, sb, qb) = arm(typeB)
      if (na < 2 || nb < 2) None
      else {
        // Token-for-token the batch query's double tree: every op is
        // correctly-rounded IEEE, so bit-equality needs only identical
        // shape (BigInt.doubleValue rounds nearest-even, as both
        // engines' DECIMAL/HUGEINT -> DOUBLE casts do).
        val va = (qa.doubleValue - sa.doubleValue * sa.doubleValue / na) /
          (na - 1)
        val vb = (qb.doubleValue - sb.doubleValue * sb.doubleValue / nb) /
          (nb - 1)
        val se2 = va / na + vb / nb
        Some(WelchRow(na, nb, (sa / na).longValue, (sb / nb).longValue,
          (sa.doubleValue / na - sb.doubleValue / nb) / math.sqrt(se2),
          (se2 * se2) / ((va / na) * (va / na) / (na - 1) +
            (vb / nb) * (vb / nb) / (nb - 1))))
      }
    }

    /** Drops every closed (arm, day) strictly before `minDayIdx` —
      * the trailing-window form; survivors' moments are exact.
      */
    def evictBefore(minDayIdx: Long): Unit =
      state = state.filter { case ((_, d), _) => d >= minDayIdx }
  }

  /** Open-session state carried between micro-batches by
    * [[statefulSessionize]]: bounded per open session (counters + the
    * capped path), keyed by user — the state store holds one entry per
    * ACTIVE user, evicted on timeout, which is what keeps it bounded on
    * an unbounded stream.
    */
  final case class SessionState(
      startUs: Long,
      lastUs: Long,
      nEvents: Long,
      path: List[String])

  final case class SessionOut(
      user_id: Long,
      session_start_us: Long,
      session_end_us: Long,
      n_events: Long,
      path: String)

  /** e02's CUSTOM-STATE streaming face: flatMapGroupsWithState with an
    * event-time timeout. Unlike session_window (which can only aggregate
    * with built-in functions), the state function carries arbitrary
    * per-session structure — here the ordered event-type path, capped at
    * `maxPathLen` so state stays bounded. A session closes and is
    * emitted when a >gap idle is observed in-stream or when the
    * watermark passes its horizon (timeout).
    */
  def statefulSessionize(
      events: org.apache.spark.sql.Dataset[(Long, Long, String)], // (user_id, ts_us, event_type)
      gapMinutes: Int = 30,
      watermark: String = "2 hours",
      maxPathLen: Int = 20): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000 * 1000

    def close(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, s.startUs, s.lastUs, s.nEvents,
        s.path.reverse.mkString(">"))

    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
            state: GroupState[SessionState]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed the open session's horizon: emit + evict
            val out = state.getOption.map(close(userId, _)).toList
            state.remove()
            out.iterator
          } else {
            // fold this batch's rows (in event-time order) into sessions
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            var open = state.getOption
            val closed = List.newBuilder[SessionOut]
            for ((_, ts, typ, _) <- sorted) {
              open match {
                case Some(s) if ts - s.lastUs <= gapUs =>
                  open = Some(s.copy(lastUs = ts, nEvents = s.nEvents + 1,
                    path = if (s.path.length < maxPathLen) typ :: s.path else s.path))
                case Some(s) =>
                  closed += close(userId, s)
                  open = Some(SessionState(ts, ts, 1, List(typ)))
                case None =>
                  open = Some(SessionState(ts, ts, 1, List(typ)))
              }
            }
            open.foreach { s =>
              state.update(s)
              // time out once the watermark passes last event + gap
              state.setTimeoutTimestamp(s.lastUs / 1000 + gapMinutes * 60L * 1000)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming face of e26's session ENTRY PATHS: one `path` row (the
    * ">"-joined first `depth` event types) per CLOSED session, emitted
    * by [[statefulSessionize]] with `maxPathLen = depth` — the state
    * cap IS the entry-path slice, because the path accumulator keeps
    * the EARLIEST `depth` types and drops the rest, so per-session
    * state carries exactly the serving answer and nothing more.
    * Downstream, a catalog-sized rollup (count per path, top-k via the
    * mergeable heap) keeps the leaderboard current; aggregated
    * increments ≡ batch e26's per-path counts on closed sessions,
    * pinned in StreamingSpec.
    */
  def entryPathIncrements(
      events: org.apache.spark.sql.Dataset[(Long, Long, String)], // (user_id, ts_us, event_type)
      gapMinutes: Int = 30,
      watermark: String = "2 hours",
      depth: Int = 3): DataFrame = {
    require(depth >= 1, s"need depth >= 1, got $depth")
    statefulSessionize(events, gapMinutes, watermark, maxPathLen = depth)
      .select(col("path"))
  }

  /** Buffered event carried between micro-batches by
    * [[statefulAsOfEnrich]] — one (id, time, side) triple per not-yet-
    * finalizable event; the buffer holds only events ABOVE the
    * watermark, so its size is bounded by the key's arrival rate times
    * the watermark delay, never by stream length.
    */
  final case class AsOfEvent(eventId: Long, tsUs: Long, isRight: Boolean)

  final case class AsOfEnrichState(
      lastRightId: Long,
      lastRightTs: Long, // Long.MinValue = no right event seen yet
      buffer: List[AsOfEvent])

  final case class AsOfEnrichOut(
      event_id: Long,
      user_id: Long,
      ts_us: Long,
      right_event_id: Option[Long],
      right_ts_us: Option[Long],
      gap_us: Option[Long])

  /** The STREAMING face of the backward as-of join (e04/e15): each
    * `leftType` event enriched with the key's latest `rightType` event
    * at or before it — enrich-with-latest-prior-view, the most common
    * streaming join in event pipelines, which Spark's built-in
    * stream-stream joins cannot express take-latest-only (the interval
    * join above emits EVERY in-window partner).
    *
    * Semantics match [[graft.operators.AsOfJoin.asofJoin]] exactly on
    * closed (watermark-passed) event times — pinned in StreamingSpec
    * with arrivals split out-of-order across micro-batches: a right row
    * at the same time as a left row is visible to it; among equal-time
    * rights the largest event_id wins (the batch tieBreak); `toleranceUs`
    * nulls a match whose gap exceeds the bound exactly like no-match;
    * 0 = unbounded.
    *
    * Correctness under reordering comes from finalizing an event only
    * once the watermark passes its time: arrivals buffer in state until
    * `ts_us <= watermark`, then fold in (time, side, id) order — by the
    * watermark contract no earlier event can still arrive, so the
    * latest-right answer for each finalized left row is complete. A
    * left event above the watermark waits (an event-time timeout set at
    * the earliest buffered time flushes it when the watermark advances,
    * data for the key or not).
    *
    * State per key: one (id, ts) latest-right record plus the
    * in-horizon buffer. The latest-right record persists for the key's
    * lifetime BY DESIGN (a click next week still attributes to the last
    * view); on a churning unbounded key space, production runs should
    * bound it with a TTL pass over the state store (the same trade
    * every latest-value enrichment makes).
    */
  def statefulAsOfEnrich(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)], // (event_id, user_id, ts_us, event_type)
      leftType: String = "click",
      rightType: String = "view",
      toleranceUs: Long = 0L,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[AsOfEnrichOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(toleranceUs >= 0L, s"tolerance must be >= 0, got $toleranceUs")
    require(leftType != rightType, "left and right types must differ")

    events
      .filter(e => e._4 == leftType || e._4 == rightType)
      .withColumn("ts", timestamp_micros(col("_3")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long,
            rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[AsOfEnrichState]) =>
          // Same code path for data batches and timeout firings: fold
          // buffered + incoming events, finalize everything at or below
          // the CURRENT watermark, keep the rest buffered.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(AsOfEnrichState(-1L, Long.MinValue, Nil))
          val incoming = rows
            .map(r => AsOfEvent(r._1, r._3, r._4 == rightType)).toList
          val (ready, pending) =
            (st.buffer ++ incoming).partition(_.tsUs <= wmUs)
          var lastId = st.lastRightId
          var lastTs = st.lastRightTs
          val out = List.newBuilder[AsOfEnrichOut]
          // Rights sort before lefts at equal time (the batch join's
          // frame-visibility rule); id order makes the equal-time
          // right winner the LARGEST id, matching the batch tieBreak.
          for (e <- ready.sortBy(e => (e.tsUs, if (e.isRight) 0 else 1,
              e.eventId))) {
            if (e.isRight) {
              // Guard against a late straggler older than the stored
              // latest-right (in-contract arrivals are already ordered).
              if (e.tsUs > lastTs ||
                  (e.tsUs == lastTs && e.eventId > lastId)) {
                lastTs = e.tsUs; lastId = e.eventId
              }
            } else {
              val matched = lastTs != Long.MinValue &&
                (toleranceUs <= 0L || e.tsUs - lastTs <= toleranceUs)
              out += (if (matched)
                AsOfEnrichOut(e.eventId, userId, e.tsUs,
                  Some(lastId), Some(lastTs), Some(e.tsUs - lastTs))
              else AsOfEnrichOut(e.eventId, userId, e.tsUs, None, None, None))
            }
          }
          state.update(AsOfEnrichState(lastId, lastTs, pending))
          if (pending.nonEmpty) {
            // Earliest buffered event, as ms STRICTLY above the
            // watermark (ceil): fires as soon as the watermark passes
            // it, whether or not this key sees more data.
            state.setTimeoutTimestamp(pending.map(_.tsUs).min / 1000L + 1L)
          }
          out.result().iterator
      }
  }

  /** State for [[statefulAsOfEnrichForward]]: pending left events
    * waiting for their time-to-next match, and the right events that
    * may still serve a pending or future left. Both shrink with the
    * watermark (see the method's eviction argument) — unlike the
    * backward join, nothing persists past the horizon.
    */
  final case class AsOfFwdState(
      lefts: List[AsOfEvent],
      rights: List[AsOfEvent])

  /** The STREAMING face of the FORWARD as-of join (e10:
    * time-to-next-event): each `leftType` event enriched with the key's
    * EARLIEST `rightType` event at or after it, within `toleranceUs` —
    * view→first-click-after, campaign→first-purchase-after — matching
    * [[graft.operators.AsOfJoin.asofJoin]] `direction = "forward"` on
    * closed event times (pinned in StreamingSpec): equal-time rights
    * are visible, the smallest event_id among equal-time earliest
    * rights wins (the batch first()-with-tieBreak rule), and a left
    * with no in-bound right nulls out.
    *
    * `toleranceUs` must be positive: it is what makes a no-match
    * decidable on a stream (the answer "nothing followed within the
    * bound" is final once the watermark passes `left.ts + tolerance`;
    * an unbounded forward join could hold every unmatched left
    * forever).
    *
    * Finalization: a left L matches its earliest in-bound candidate r
    * as soon as the watermark passes r's time (any later arrival is
    * above the watermark ≥ r.ts, so none can precede r); L nulls once
    * the watermark passes L.ts + tolerance with no in-bound candidate.
    * Eviction: after a pass, every right at or below the watermark is
    * droppable — a pending left with an at-or-below-watermark in-bound
    * candidate would have finalized, and future lefts arrive above the
    * watermark — so state is bounded by the lateness horizon plus the
    * tolerance, per key.
    */
  def statefulAsOfEnrichForward(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)], // (event_id, user_id, ts_us, event_type)
      leftType: String = "view",
      rightType: String = "click",
      toleranceUs: Long,
      watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[AsOfEnrichOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    require(toleranceUs > 0L,
      s"forward streaming as-of needs a positive tolerance, got $toleranceUs")
    require(leftType != rightType, "left and right types must differ")

    events
      .filter(e => e._4 == leftType || e._4 == rightType)
      .withColumn("ts", timestamp_micros(col("_3")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long,
            rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[AsOfFwdState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption.getOrElse(AsOfFwdState(Nil, Nil))
          val in = rows.map(r => AsOfEvent(r._1, r._3, r._4 == rightType)).toList
          val rights = (st.rights ++ in.filter(_.isRight))
            .sortBy(e => (e.tsUs, e.eventId)).toIndexedSeq
          val lefts = (st.lefts ++ in.filterNot(_.isRight))
            .sortBy(e => (e.tsUs, e.eventId))
          val out = List.newBuilder[AsOfEnrichOut]
          val stillPending = List.newBuilder[AsOfEvent]
          // Both sides sorted by time ⇒ each left's earliest at-or-after
          // right is found by one monotone pointer: O(L + R) per
          // invocation, not O(L·R) on a hot key.
          var ri = 0
          for (l <- lefts) {
            while (ri < rights.length && rights(ri).tsUs < l.tsUs) ri += 1
            // earliest candidate in [l.ts, l.ts + tolerance]
            val cand = if (ri < rights.length &&
              rights(ri).tsUs - l.tsUs <= toleranceUs) Some(rights(ri))
            else None
            cand match {
              case Some(r) if r.tsUs <= wmUs =>
                out += AsOfEnrichOut(l.eventId, userId, l.tsUs,
                  Some(r.eventId), Some(r.tsUs), Some(r.tsUs - l.tsUs))
              case None if l.tsUs + toleranceUs <= wmUs =>
                out += AsOfEnrichOut(l.eventId, userId, l.tsUs,
                  None, None, None)
              case _ => stillPending += l // candidate above watermark,
                // or bound still open: a better/first right may come
            }
          }
          val pendingLefts = stillPending.result()
          val keptRights = rights.filter(_.tsUs > wmUs).toList
          if (pendingLefts.isEmpty && keptRights.isEmpty) state.remove()
          else {
            state.update(AsOfFwdState(pendingLefts, keptRights))
            // Earliest event-time whose watermark crossing can finalize
            // something: a pending left's tolerance horizon, or a kept
            // right that some pending left is waiting on.
            val wake = (pendingLefts.map(_.tsUs + toleranceUs) ++
              keptRights.map(_.tsUs)).min
            state.setTimeoutTimestamp(math.max(wake / 1000L + 1L,
              state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  /** Per-user retention state carried by [[retentionIncrements]]:
    * the user's (final, see below) cohort day, the days already
    * emitted that the watermark has not yet closed, and the buffered
    * above-watermark event times.
    */
  final case class RetentionState(
      cohortDay: Long, // Long.MinValue = user not yet finalized
      openDays: List[Long],
      pendingTs: List[Long])

  final case class RetentionInc(
      user_id: Long,
      cohort_day: Long,
      day_offset: Long)

  /** The STREAMING face of e08's retention cohorts: emits exactly one
    * (user, cohort_day, day_offset) increment the first time a user is
    * seen active on a day — a feed any downstream aggregation turns
    * into the cohort retention matrix (`COUNT(*) GROUP BY cohort_day,
    * day_offset` ≡ e08's n_active; offset-0 counts are the cohort
    * sizes), with no rescan of history. Pinned in StreamingSpec:
    * aggregated increments equal the batch e08 matrix on the same
    * events, arrivals shuffled across micro-batches.
    *
    * Exactness under reordering uses the statefulAsOfEnrich discipline:
    * events buffer per user until the watermark passes their time, then
    * fold in time order. That makes the cohort day FINAL the moment the
    * first event folds: any later arrival has event time above the
    * watermark, which is at or past the folded event's time — no
    * earlier first-day can still appear, so an emitted increment never
    * needs retraction (what keeps the output Append-mode).
    *
    * State per user stays bounded: a day leaves `openDays` once the
    * watermark passes its END (an arrival for it would be below the
    * watermark — contract-excluded), so only days inside the lateness
    * horizon are held; the buffer holds only above-watermark times; the
    * cohort day is one long, persisted for the user's lifetime by
    * design (the same latest-value trade statefulAsOfEnrich documents).
    */
  def retentionIncrements(
      events: org.apache.spark.sql.Dataset[(Long, Long)], // (user_id, ts_us)
      watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[RetentionInc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val dayUs = 24L * 3600 * 1000 * 1000

    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, java.sql.Timestamp)],
            state: GroupState[RetentionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(RetentionState(Long.MinValue, Nil, Nil))
          val (ready, pending) =
            (st.pendingTs ++ rows.map(_._2)).partition(_ <= wmUs)
          var cohort = st.cohortDay
          var open = st.openDays
          val out = List.newBuilder[RetentionInc]
          for (tsU <- ready.sorted) {
            val day = tsU / dayUs
            if (cohort == Long.MinValue) cohort = day
            // First sighting of this day: emit. A day absent from
            // openDays was either never seen, or was emitted and then
            // closed by an earlier watermark — and a closed day cannot
            // recur, because an event for it would sit below the
            // watermark that closed it and the late-row filter excludes
            // it before the state function runs.
            if (!open.contains(day)) {
              out += RetentionInc(userId, cohort, day - cohort)
              open ::= day
            }
          }
          // Close (evict) days whose END the watermark has passed.
          state.update(RetentionState(cohort,
            open.filter(d => (d + 1) * dayUs > wmUs), pending))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(pending.min / 1000L + 1L)
          out.result().iterator
      }
  }

  /** Per-user state for [[transitionIncrements]]: the last FINALIZED
    * event (the transition predecessor) and the buffered
    * above-watermark events.
    */
  final case class TransitionState(
      lastTs: Long, // Long.MinValue = no event finalized yet
      lastId: Long,
      lastType: String, // "" while lastTs is MinValue
      buffer: List[TransEvent])

  final case class TransEvent(eventId: Long, tsUs: Long, eventType: String)

  final case class TransitionInc(
      user_id: Long,
      from_type: String,
      to_type: String)

  /** The STREAMING face of e22's Markov transition matrix: emits one
    * (user, from_type, to_type) increment per consecutive-event pair —
    * `COUNT(*) GROUP BY from_type, to_type` downstream ≡ e22's exact
    * counts with no history rescan, and a user's first event
    * transitions from the synthetic '_start' state exactly as the
    * batch lag's null does. The feed is what keeps a next-action
    * model's transition counts current on a live stream.
    *
    * Exactness under reordering uses the statefulAsOfEnrich
    * discipline: arrivals buffer per user until the watermark passes
    * their time, then fold in (time, id) order — the batch window's
    * exact ordering — so each finalized event's predecessor is
    * complete and an emitted increment never needs retraction
    * (Append-safe). State per user: one last-event record (persisted
    * for the user's lifetime by design — the next event, whenever it
    * comes, transitions FROM it) plus the in-horizon buffer, flushed
    * by an event-time timeout when the data stops visiting the key.
    */
  def transitionIncrements(
      events: org.apache.spark.sql.Dataset[(Long, Long, Long, String)], // (event_id, user_id, ts_us, event_type)
      watermark: String = "2 hours")
      : org.apache.spark.sql.Dataset[TransitionInc] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    events
      .withColumn("ts", timestamp_micros(col("_3")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long,
            rows: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[TransitionState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val st = state.getOption
            .getOrElse(TransitionState(Long.MinValue, -1L, "", Nil))
          val incoming = rows.map(r => TransEvent(r._1, r._3, r._4)).toList
          val (ready, pending) =
            (st.buffer ++ incoming).partition(_.tsUs <= wmUs)
          var lastTs = st.lastTs
          var lastId = st.lastId
          var lastType = st.lastType
          val out = List.newBuilder[TransitionInc]
          for (e <- ready.sortBy(e => (e.tsUs, e.eventId))) {
            out += TransitionInc(userId,
              if (lastTs == Long.MinValue) "_start" else lastType,
              e.eventType)
            lastTs = e.tsUs; lastId = e.eventId; lastType = e.eventType
          }
          state.update(TransitionState(lastTs, lastId, lastType, pending))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(pending.map(_.tsUs).min / 1000L + 1L)
          out.result().iterator
      }
  }

  /** Stream-stream interval join: each left event joined to every right
    * event of the same key within the trailing `lag` window
    * (`l.ts - lag <= r.ts <= l.ts`). Both sides carry watermarks, so
    * Spark bounds the join state: right rows are evicted once the left
    * watermark passes their horizon — this is what makes an unbounded
    * ×unbounded join runnable at all. The batch as-of join
    * ([[graft.operators.AsOfJoin]]) is the take-latest-only face of the
    * same relationship.
    *
    * `joinType = "left_outer"` emits UNMATCHED left events too (right
    * columns null) — "views that never converted" as a stream, the
    * funnel-breakage feed an inner join silently drops. Outer results
    * for an unmatched row are emitted only once the watermark proves no
    * in-window partner can still arrive, so lateness never turns into
    * a false "unconverted" row; the price is that unmatched rows trail
    * live time by the watermark delay, which is the correctness-latency
    * trade Structured Streaming forces on every outer stream join.
    *
    * Inputs need columns (`key`, `ts`, payload…); right payload columns
    * are returned with the `rightPrefix`.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      rightPayload: Seq[String], lag: String = "30 minutes",
      watermark: String = "2 hours", rightPrefix: String = "r_",
      joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"interval join supports inner/left_outer, got $joinType")
    val l = left.withWatermark("ts", watermark)
    val r = right
      .select(col(key).as(s"$rightPrefix$key") +:
        col("ts").as(s"${rightPrefix}ts") +:
        rightPayload.map(c => col(c).as(s"$rightPrefix$c")): _*)
      .withWatermark(s"${rightPrefix}ts", watermark)
    l.join(r,
      col(key) === col(s"$rightPrefix$key") &&
        col(s"${rightPrefix}ts") >= col("ts") - expr(s"INTERVAL $lag") &&
        col(s"${rightPrefix}ts") <= col("ts"),
      joinType)
      .drop(s"$rightPrefix$key")
  }

  /** Funnel progress carried between micro-batches by
    * [[streamingFunnel]]: the first-view / first-click-after /
    * first-purchase-after timestamps observed so far — three longs per
    * ACTIVE user, evicted on completion or timeout.
    */
  final case class FunnelState(t1: Long, t2: Long, t3: Long)

  final case class FunnelOut(
      user_id: Long,
      view_us: Long,
      click_us: Long,
      purchase_us: Long)

  /** e05's streaming face: a per-user funnel STATE MACHINE
    * (view → click → purchase) over flatMapGroupsWithState — unlike the
    * windowed aggregations, the state here is ordered progress, not a
    * rollup: stage k only advances on an event strictly after stage k−1.
    * A completed funnel emits one row and clears its state immediately;
    * incomplete funnels are evicted when the watermark passes
    * `timeoutMinutes` after the last advance, so state is bounded by
    * active, incomplete users — not by stream length.
    *
    * Late events within the watermark still advance correctly when they
    * arrive in order within a batch (each batch's rows are folded in
    * event-time order); cross-batch out-of-order events that would have
    * improved an earlier stage are ignored once a later stage is locked
    * — the documented streaming-vs-batch trade (the exact batch answer
    * is e05).
    */
  def streamingFunnel(
      events: org.apache.spark.sql.Dataset[(Long, Long, String)], // (user_id, ts_us, event_type)
      timeoutMinutes: Int = 120,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[FunnelOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._

    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
            state: GroupState[FunnelState]) =>
          // Eviction horizon of a stored funnel: `timeoutMinutes` after
          // the last ADVANCE (t1 or t2). t1 >= 0 whenever state is stored.
          def horizonMs(st: FunnelState): Long =
            math.max(st.t1, st.t2) / 1000 + timeoutMinutes * 60L * 1000
          if (rows.isEmpty && state.hasTimedOut) {
            state.remove() // incomplete funnel expired
            Iterator.empty
          } else {
            // Whether Spark's timeout batch ran before this data batch is
            // an ordering detail of the engine (processAllAvailable drains
            // an empty timer batch after every watermark advance; a busy
            // production stream delivers the data in the SAME batch the
            // timer would have fired in). Make eviction deterministic
            // either way: a stored funnel whose horizon is already behind
            // the current watermark is expired HERE — drop it and fold
            // this batch's events into a fresh funnel.
            var s = state.getOption
              .filter(st => horizonMs(st) > state.getCurrentWatermarkMs())
              .getOrElse(FunnelState(-1L, -1L, -1L))
            val done = List.newBuilder[FunnelOut]
            for ((_, ts, typ, _) <- rows.toSeq.sortBy(r => (r._2, r._3))) {
              typ match {
                case "view" if s.t1 < 0 => s = s.copy(t1 = ts)
                case "click" if s.t1 >= 0 && s.t2 < 0 && ts > s.t1 =>
                  s = s.copy(t2 = ts)
                case "purchase" if s.t2 >= 0 && s.t3 < 0 && ts > s.t2 =>
                  done += FunnelOut(userId, s.t1, s.t2, ts)
                  s = FunnelState(-1L, -1L, -1L) // restart for the next funnel
                case _ => ()
              }
            }
            if (s.t1 >= 0 && horizonMs(s) > state.getCurrentWatermarkMs()) {
              state.update(s)
              state.setTimeoutTimestamp(horizonMs(s))
            } else {
              // Either no progress, or the only advances came from events
              // so late that the funnel is already past its eviction
              // horizon — storing it would resurrect expired state (and
              // setTimeoutTimestamp behind the watermark throws). Evict.
              state.remove()
            }
            done.result().iterator
          }
      }
  }

  /** Streaming exact dedup: keep the FIRST arrival of each content
    * fingerprint, with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` keys the state store by fingerprint
    * and evicts an entry once the watermark passes its event time, so a
    * duplicate arriving within the horizon is dropped and state never
    * grows with stream length (a plain streaming `dropDuplicates` keeps
    * every key forever — unusable on an unbounded corpus feed). The
    * batch face of the same policy is
    * [[graft.text.Dedup.dropExactDuplicates]]; re-deduplicate the stored
    * corpus with it periodically if duplicates can straddle horizons.
    *
    * Input needs an event-time `ts` column plus `textCol`.
    */
  def streamingExactDedup(docs: DataFrame, textCol: String = "text",
      watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("_fp", md5(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming document ingest: each micro-batch of (doc_id, text) runs
    * the batch chunk→embed path and appends to the store — foreachBatch
    * reuses the exact batch operators (the reference's artifact-handoff
    * restartability maps to checkpointed micro-batches).
    *
    * `noveltyGate = true` inserts [[graft.text.Dedup.bloomNovelty]]'s
    * continuous-ingest pattern BEFORE the embed step (so duplicate
    * chunks never pay the model): a driver-held Bloom filter over
    * md5(chunk) of everything ingested answers "definitely new?" with a
    * row-local broadcast probe — no join, no shuffle for the
    * overwhelmingly-novel common case. Rows the filter flags are "in
    * the corpus OR a false positive (~fpp)", so only that small subset
    * pays an exact anti-join against the store before being admitted.
    * The filter is REBUILT from the store every `noveltyRebuildEvery`
    * batches (one corpus aggregation pass, re-sized to 2× the current
    * corpus so growth never saturates it) and broadcast once per
    * rebuild; between rebuilds, appended fingerprints accumulate in a
    * small driver-side delta set that rides the probe closure — which
    * is what makes a duplicate of a RECENT batch (arrived since the
    * last rebuild) still gate correctly without re-broadcasting the
    * corpus-sized filter every micro-batch. Driver cost per batch: one
    * micro-batch-bounded fingerprint collect; a crash loses only the
    * in-memory filter and delta, which rebuild from the store on
    * restart. In-batch duplicate chunks collapse through
    * [[graft.text.Dedup.dropExactDuplicates]] (smallest doc_id wins)
    * before the probe, so a batch can never self-duplicate either.
    *
    * `nearDupGate = true` additionally drops chunks that are NEAR
    * duplicates of anything already stored — the streaming face of
    * [[graft.text.Dedup.crossNearDupPairs]] (banded-minhash candidates
    * between the incoming batch and the stored corpus, exact shingle
    * Jaccard >= `nearDupThreshold` rescore): a re-crawled page with a
    * changed date line sails through the EXACT gate (different md5) and
    * is caught here. Runs after the exact gate and before the embed
    * step.
    *
    * BOTH gates' corpus sides ride one snapshot per rebuild window: the
    * store is read ONCE every `noveltyRebuildEvery` batches (the same
    * cadence as the Bloom rebuild, pinned by StreamingSpec against
    * [[ParquetVectorStore.readCount]]), the snapshot's fingerprints and
    * — under the near-dup gate — its minhash signatures and shingle
    * sets are persisted, and chunks appended since the snapshot gate
    * through small per-batch deltas (a driver fingerprint set for the
    * exact gate; localCheckpointed signature/set frames for the
    * near-dup gate, lineage-free so an evicted block can never
    * recompute through a finished micro-batch source). Without the
    * snapshot, each micro-batch would pay an O(corpus) store scan —
    * and under the near-dup gate an O(corpus) shingle+minhash pass —
    * for a batch-sized probe.
    */
  /** `noveltySeedPath = Some(p)` switches the exact gate's filter to
    * the DECLARATIVE [[graft.operators.Bloom]] row, persisted at `p`
    * (the q27 stored-state pattern): each rebuild writes the folded
    * row + its (mBits, j, nKeys) shape, and a later run — a restarted
    * stream, or tomorrow's — whose snapshot count still equals the
    * stored `nKeys` REUSES the stored row instead of re-folding the
    * corpus (correct because the store only ever appends: equal counts
    * ⇒ identical fingerprint set). The row rides a 1-row broadcast
    * into a row-local [[graft.operators.Bloom.mightContain]] probe —
    * q38's plan shape. Suited to eval-set / moderate-corpus filters
    * (the row re-broadcasts per micro-batch); at corpus scales where
    * the filter itself is GBs, keep the default driver-sketch path,
    * which broadcasts once per rebuild window.
    */
  def documentIngestSink(docs: DataFrame, embedder: Embedder,
      store: ParquetVectorStore, index: String,
      chunkSize: Int = 2048, overlap: Int = 256,
      noveltyGate: Boolean = false, noveltyFpp: Double = 0.01,
      noveltyRebuildEvery: Int = 16,
      nearDupGate: Boolean = false, nearDupThreshold: Double = 0.9,
      noveltySeedPath: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    documentIngestSink(docs, embedder, store, index, chunkSize, overlap,
      noveltyGate, noveltyFpp, noveltyRebuildEvery, nearDupGate,
      nearDupThreshold, new IngestGateState, noveltySeedPath)

  /** Test face: the same sink with the driver-side gate state exposed,
    * so StreamingSpec can pin the boundedness contracts (delta set
    * resets at rebuild; size never exceeds the window's admissions).
    */
  private[streaming] def documentIngestSink(docs: DataFrame,
      embedder: Embedder, store: ParquetVectorStore, index: String,
      chunkSize: Int, overlap: Int, noveltyGate: Boolean,
      noveltyFpp: Double, noveltyRebuildEvery: Int, nearDupGate: Boolean,
      nearDupThreshold: Double, state: IngestGateState,
      noveltySeedPath: Option[String])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // foreachBatch runs on the driver: the filter, its broadcast handle,
    // the snapshot caches, the recent-fingerprint delta, and the rebuild
    // counter are plain driver state, serialized access per micro-batch.
    //
    // The corpus-sized Bloom filter is broadcast ONCE per rebuild, not
    // per batch (at 100-TB corpus scale the filter is hundreds of MB —
    // re-shipping it every micro-batch and leaving old broadcasts to
    // ContextCleaner GC would dominate the stream). Fingerprints
    // ingested since the rebuild ride a small driver-side delta SET
    // captured in the probe closure instead of mutating the broadcast
    // filter (executors would never see driver-side puts); the delta is
    // bounded by rebuildEvery micro-batches and resets at each rebuild,
    // which also destroys the superseded broadcast.
    val gated = noveltyGate || nearDupGate
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      import batch.sparkSession.implicits._
      val chunks = batch.select(col("doc_id").cast("long"), col("text"))
        .as[(Long, String)]
        .flatMap { case (id, text) =>
          Splitters.recursiveCharSplit(text, chunkSize, overlap)
            .zipWithIndex.map { case (piece, i) =>
              (id, piece, Map("doc_id" -> id.toString, "chunk" -> i.toString),
                Map.empty[String, String])
            }
        }
        .toDF("doc_id", "page_content", "metadata", "headers")
      if (gated &&
          (state.corpusFps == null || state.sinceRebuild >= noveltyRebuildEvery)) {
        // SNAPSHOT — the window's ONE store read. Distinct (fp, text)
        // is persisted and materialized BEFORE this batch appends;
        // fingerprints, the Bloom filter, and the near-dup artifacts
        // all derive from it, so no gate path touches the store again
        // until the next rebuild. (An evicted cache block recomputes
        // through the read's snapshotted file listing, not a fresh
        // one, so later appends can never leak into this window.)
        state.dropCaches()
        val corpus =
          (if (store.exists(index))
             store.read(index).select(md5(col("page_content")).as("gid"),
               col("page_content").as("gtext"))
           else Seq.empty[(String, String)].toDF("gid", "gtext"))
            .distinct().persist()
        state.cached += corpus
        val n = corpus.count()
        state.corpusFps = corpus.select(col("gid").as("_fp"))
        if (noveltyGate) noveltySeedPath match {
          case Some(seedPath) =>
            // Declarative stored-row path: reuse the persisted fold
            // when the (append-only) corpus hasn't grown since it was
            // written; otherwise fold fresh and overwrite. Re-reading
            // after the write makes the probe's lineage a plain file
            // scan — no dependency on this window's aggregation.
            val nEff = math.max(1024L, 2L * n)
            val (mB, jH) = graft.operators.Bloom.sizeFor(nEff, noveltyFpp)
            val stored =
              try {
                val sb = graft.operators.Bloom.read(
                  batch.sparkSession, seedPath)
                if (sb.mBits == mB && sb.j == jH && sb.nKeys == n) Some(sb)
                else None
              } catch { case _: Exception => None }
            state.seedReused = stored.isDefined
            state.bloomRow = stored.map(_.row).getOrElse {
              graft.operators.Bloom.write(
                graft.operators.Bloom.buildRow(state.corpusFps, "_fp", mB, jH),
                seedPath, mB, jH, n)
              graft.operators.Bloom.read(batch.sparkSession, seedPath).row
            }
            state.bloomMBits = mB
            state.bloomJ = jH
          case None =>
            if (state.bloomBc != null) state.bloomBc.destroy() // prev batch done
            state.bloom =
              if (n == 0)
                org.apache.spark.util.sketch.BloomFilter.create(1024L, noveltyFpp)
              else state.corpusFps // sized 2× so growth never saturates it
                .stat.bloomFilter("_fp", math.max(1024L, 2L * n), noveltyFpp)
            state.bloomBc = batch.sparkSession.sparkContext.broadcast(state.bloom)
        }
        if (nearDupGate) {
          val (sig, sets) = graft.text.Dedup.nearDupPrepare(corpus, "gid", "gtext")
          state.corpusSig = sig.persist()
          state.corpusSets = sets.persist()
          state.cached += state.corpusSig
          state.cached += state.corpusSets
          state.corpusSig.count() // materialize pre-append, like the fps
          state.corpusSets.count()
          ()
        }
        state.recentFps = Set.empty // the snapshot covers them now
        state.sinceRebuild = 0
      }
      if (gated) state.sinceRebuild += 1
      // Frames persisted for THIS batch only — released in the finally
      // even when the append or a gate throws, so a micro-batch retry
      // cannot leak cached blocks.
      val batchCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]
      try {
        val novel =
          if (!noveltyGate) chunks
          else {
            // In-batch dedup ties break on the chunk index: chunks of
            // one doc share doc_id, and the survivor's metadata must
            // not depend on partition order.
            val inBatch = graft.text.Dedup.dropExactDuplicates(
              chunks, "doc_id", "page_content",
              tieBreak = Seq(element_at(col("metadata"), "chunk").cast("int")))
            val recent = state.recentFps // immutable snapshot into the closure
            val probed = noveltySeedPath match {
              case Some(_) =>
                // stored-row path: q38's row-local probe over the
                // 1-row broadcast word array; the recent delta keeps
                // its driver-set check
                val inRecent = udf((fp: String) => recent.contains(fp))
                val (h1, h2) = graft.operators.Bloom.hashes(col("_fp"))
                inBatch.withColumn("_fp", md5(col("page_content")))
                  .withColumn("_h1", h1).withColumn("_h2", h2)
                  .crossJoin(broadcast(state.bloomRow))
                  .withColumn("_maybe",
                    graft.operators.Bloom.mightContain("_h1", "_h2", "bloom",
                      state.bloomMBits, state.bloomJ) || inRecent(col("_fp")))
                  .drop("_h1", "_h2", "bloom")
              case None =>
                val bc = state.bloomBc
                val probe = udf((fp: String) =>
                  bc.value.mightContainString(fp) || recent.contains(fp))
                inBatch.withColumn("_fp", md5(col("page_content")))
                  .withColumn("_maybe", probe(col("_fp")))
            }
            val flagged = probed.filter(col("_maybe"))
            // Exact membership = snapshot ∪ appended-since-snapshot:
            // the anti-join probes the CACHED snapshot fingerprints
            // (no store read), the recent delta is the same driver set
            // the Bloom probe consulted — only true false positives
            // survive both.
            val inRecent = udf((fp: String) => recent.contains(fp))
            val cleared = flagged
              .join(state.corpusFps, Seq("_fp"), "left_anti")
              .filter(!inRecent(col("_fp")))
            val out = probed.filter(!col("_maybe")).unionByName(cleared)
              .drop("_fp", "_maybe")
              .persist()
            batchCaches += out
            out
          }
        val admitted =
          if (!nearDupGate) novel
          else {
            val (bSig, bSets) = graft.text.Dedup.nearDupPrepare(
              novel.select(md5(col("page_content")).as("gid"),
                col("page_content").as("gtext")),
              "gid", "gtext")
            val rSig = state.ndDeltaSig.foldLeft(state.corpusSig)(_ unionByName _)
            val rSets = state.ndDeltaSets.foldLeft(state.corpusSets)(_ unionByName _)
            val doomed = graft.text.Dedup.crossNearDupPairsPrepared(
              bSig, bSets, rSig, rSets, nearDupThreshold)
              .select(col("a_id").as("_nd_fp")).distinct()
            val out = novel.withColumn("_nd_key", md5(col("page_content")))
              .join(doomed, col("_nd_key") === col("_nd_fp"), "left_anti")
              .drop("_nd_key")
              .persist() // consumed by append, the fp collect, the deltas
            batchCaches += out
            out
          }
        // Admitted fingerprints are collected BEFORE the append: nothing
        // downstream may recompute the gate chain against a store the
        // append has already grown.
        val admittedFps: Array[String] =
          if (noveltyGate)
            admitted.select(md5(col("page_content")).as("_fp"))
              .distinct().collect().map(_.getString(0))
          else Array.empty
        if (nearDupGate) {
          // Delta artifacts for the chunks about to be appended, so the
          // NEXT batches gate against them without a store read.
          // localCheckpoint (eager) truncates lineage: an evicted
          // persist block would recompute through this batch's already-
          // finished micro-batch source, which is undefined.
          val (aSig, aSets) = graft.text.Dedup.nearDupPrepare(
            admitted.select(md5(col("page_content")).as("gid"),
              col("page_content").as("gtext")),
            "gid", "gtext")
          state.ndDeltaSig += aSig.localCheckpoint(true)
          state.ndDeltaSets += aSets.localCheckpoint(true)
          ()
        }
        val out = admitted
          .as[(Long, String, Map[String, String], Map[String, String])]
          .map { case (id, piece, meta, hdrs) =>
            (id, piece, meta, hdrs, embedder.embed(piece))
          }
          .toDF("doc_id", "page_content", "metadata", "headers", "embedding")
        store.append(index, out)
        if (noveltyGate) {
          // admitted ⊆ novel: only fingerprints actually APPENDED enter
          // the delta (a near-dup-dropped chunk must stay re-checkable).
          state.recentFps ++= admittedFps
          ()
        }
      } finally {
        batchCaches.foreach(_.unpersist())
      }
    }
  }

  /** Admission record of [[statefulQuotaGate]]: `seq` is the
    * document's 1-based admission index within its key (≤ budget when
    * admitted).
    */
  final case class QuotaOut(key: String, doc_id: Long, ts_us: Long,
      seq: Long, admitted: Boolean)

  /** Per-key ADMISSION BUDGET for continuous ingest — d67's
    * anti-domination cap made streaming: each key (a source, a
    * domain, a tenant) may admit at most `budget` documents over the
    * stream's lifetime; everything past the budget is emitted with
    * `admitted = false` so the caller can route, count, or drop.
    * d67's batch form admits by RATE (keeps the within-group
    * distribution when the group total is known); the streaming form
    * must decide per arrival without the total, so it admits
    * FIRST-COME in (event-time, doc_id) order — batch-internal ties
    * fold deterministically, and cross-batch order is arrival order,
    * the only order an unbounded stream has.
    *
    * State: ONE counter per key, forever (a quota is a lifetime
    * contract; reset epochs by restarting with a fresh checkpoint, the
    * statefulLshNoveltyGate retention note). The counter lives in the
    * keyed state store — partitioned across executors, restored from
    * the checkpoint — so a million-key tenant space costs a million
    * longs, nothing driver-side.
    */
  def statefulQuotaGate(
      docs: org.apache.spark.sql.Dataset[(String, Long, Long)], // (key, doc_id, ts_us)
      budget: Long,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[QuotaOut] = {
    require(budget >= 1, s"need a positive budget, got $budget")
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    docs.toDF("key", "doc_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermark)
      .as[(String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long, java.sql.Timestamp)],
            state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map {
            case (_, id, ts, _) =>
              n += 1
              QuotaOut(key, id, ts, n, n <= budget)
          }
          state.update(n)
          out.iterator
      }
  }

  /** Per-document verdict of [[statefulLshNoveltyGate]]: `n_fresh` of
    * the `n_buckets` band buckets were unclaimed when the document
    * arrived; `admitted` = all of them were.
    */
  final case class LshGateOut(doc_id: Long, ts_us: Long,
      n_buckets: Int, n_fresh: Int, admitted: Boolean)

  /** Fully state-store-backed streaming NEAR-dup novelty gate — the
    * scale-out alternative to [[documentIngestSink]]'s `nearDupGate`,
    * whose corpus signatures and per-window deltas are driver-held
    * frames: here the seen-bucket table lives in Spark's keyed state
    * store (RocksDB-backed on a cluster), partitioned by bucket across
    * executors, survives restarts via the checkpoint, and no driver
    * structure grows with the corpus.
    *
    * Mechanics: each document's `nBands` MinHash band values (the
    * d05/d06 signature, same native expression) are its LSH bucket
    * keys. A bucket-keyed stateful pass marks each (doc, bucket) pair
    * `fresh` iff the document is the bucket's FIRST toucher ever
    * (batch-internal ties fold in (ts, doc_id) order); a second,
    * doc-keyed stateful pass reassembles the per-document verdict:
    * admitted ⇔ every bucket fresh.
    *
    * Semantics — claim-on-sight: every document claims its buckets
    * whether or not it is admitted. A document colliding with a
    * REJECTED document is itself rejected, i.e. the gate keeps exactly
    * one representative per connected CLUSTER of the candidate graph —
    * d23's greedy near-dup drop / d19's component semantics, arrival
    * order replacing min-id as the tie-break. (Claim-on-admit would
    * need cross-bucket coordination within a batch — the per-bucket
    * state could not decide a claim without knowing the toucher's
    * fate in its OTHER buckets.) Like every LSH gate it is candidate-
    * based: collisions are band-level, so rejects are near-dup
    * CANDIDATES — route them to an exact-Jaccard rescore if the
    * admission policy must be exact (the documentIngestSink pairing).
    *
    * State: one claimed-marker per distinct bucket ever seen — corpus-
    * bounded (≤ nBands · admitted docs + rejected stragglers), the
    * same asymptotics as any dedup index, but sharded in the state
    * store instead of broadcast. Bucket claims deliberately never
    * expire (a dup of LAST YEAR's doc is still a dup); bound the
    * horizon, if required, by restarting with a fresh checkpoint per
    * retention epoch. Documents with fewer than `shingleN` tokens
    * have no LSH identity (empty shingle set → null signature) and
    * are NOT emitted — route them through the exact gate.
    */
  def statefulLshNoveltyGate(
      docs: org.apache.spark.sql.Dataset[(Long, Long, String)], // (doc_id, ts_us, text)
      shingleN: Int = 3,
      nBands: Int = 4,
      watermark: String = "2 hours"): org.apache.spark.sql.Dataset[LshGateOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import docs.sparkSession.implicits._
    import graft.text.{TextFunctions => TF}
    val touches = docs.toDF("doc_id", "ts_us", "text")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermark)
      .withColumn("sig", graft.functions.text.minhashSlices(
        TF.shingles(TF.tokens(col("text")), shingleN), nBands))
      .filter(col("sig").isNotNull)
      .select(col("doc_id"), col("ts_us"),
        posexplode(col("sig")).as(Seq("band", "mh")))
      .as[(Long, Long, Int, Long)]
    val perBucket = touches
      .groupByKey(r => (r._3, r._4))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[(Long, Long, Int, Long)],
            state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
          val claimed = state.exists
          if (!claimed && sorted.nonEmpty) state.update(sorted.head._1)
          sorted.iterator.zipWithIndex.map { case ((id, ts, _, _), i) =>
            (id, ts, !claimed && i == 0)
          }
      }
    perBucket
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId: Long, rows: Iterator[(Long, Long, Boolean)],
            state: GroupState[(Long, Int, Int)]) =>
          // All of a document's bucket rows are produced in the same
          // micro-batch, so the verdict closes here; the state carry
          // exists only for defensive cross-batch reassembly.
          var (ts, seen, fresh) = state.getOption.getOrElse((0L, 0, 0))
          rows.foreach { case (_, t, f) =>
            ts = t; seen += 1; if (f) fresh += 1
          }
          if (seen >= nBands) {
            state.remove()
            Iterator.single(
              LshGateOut(docId, ts, nBands, fresh, fresh == nBands))
          } else {
            state.update((ts, seen, fresh))
            Iterator.empty
          }
      }
  }
}

/** Driver-side state of [[EventStreams.documentIngestSink]]'s gates,
  * package-visible so StreamingSpec can pin its contracts directly:
  * `recentFps` holds only fingerprints appended since the last corpus
  * snapshot (≤ rebuild-window admissions, reset to empty at every
  * rebuild), and `ndDeltaSig`/`ndDeltaSets` hold one batch-sized frame
  * per post-snapshot batch (≤ `noveltyRebuildEvery` each). `cached`
  * tracks every window-lifetime persisted frame for release at the
  * next rebuild.
  */
private[streaming] final class IngestGateState {
  var bloom: org.apache.spark.util.sketch.BloomFilter = null
  var bloomBc: org.apache.spark.broadcast.Broadcast[
    org.apache.spark.util.sketch.BloomFilter] = null
  // stored-row path (noveltySeedPath): the 1-row declarative filter,
  // its shape, and whether the last rebuild reused the persisted fold
  var bloomRow: DataFrame = null
  var bloomMBits: Int = 0
  var bloomJ: Int = 0
  var seedReused: Boolean = false
  var recentFps: Set[String] = Set.empty
  var sinceRebuild = 0
  var corpusFps: DataFrame = null // snapshot fingerprints (cache-backed)
  var corpusSig: DataFrame = null // snapshot minhash band signatures
  var corpusSets: DataFrame = null // snapshot distinct shingle sets
  val ndDeltaSig = scala.collection.mutable.ListBuffer.empty[DataFrame]
  val ndDeltaSets = scala.collection.mutable.ListBuffer.empty[DataFrame]
  val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Release the window's persisted frames and deltas (rebuild time). */
  def dropCaches(): Unit = {
    cached.foreach(_.unpersist())
    cached.clear()
    ndDeltaSig.clear()
    ndDeltaSets.clear()
  }
}
