package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one warmup pass then median-of-3 timed runs per query.
  *
  * Round 2→3 proved single-run numbers on local[N] are noise-dominated
  * (byte-identical code swung individual queries ~3×): warmup absorbs JVM
  * JIT + parquet-footer caching, the median absorbs GC/scheduler jitter.
  *
  * Contamination handling is two-stage. DIAGNOSE, on two independent
  * triggers: (a) a query whose 3 post-warmup runs spread past 2×
  * max/min was measured under external load (round 9 proved the flag
  * works — it caught its own contaminated sweep); (b) a query whose
  * median exceeds 2.5× its historical floor (the per-query min across
  * committed sweeps, carried in `BENCH_FLOORS.json`) was measured
  * under SUSTAINED load — round 13 proved a uniformly inflated triple
  * keeps a tight spread (q35: 34.7 s median, ratio 1.86×, isolated
  * floor 5.8 s) and sails past a pure ratio trigger. HEAL: each
  * flagged query is re-run (up to 2 fresh median-of-3 attempts) AFTER
  * the whole sweep, when the box has gone quiet, and the first clean
  * attempt replaces the contaminated runs; a query still flagged after
  * retries keeps its flag, so a noisy headline total can never
  * silently masquerade as clean. A genuine >2.5× regression therefore
  * flags as noisy for one round (reviewable, never hidden); committing
  * the new sweep raises nothing — floors only ratchet DOWN — so an
  * intentional re-costing is acknowledged by editing its entry out of
  * `BENCH_FLOORS.json`. Floors are read and rewritten only when the
  * run's SF dir matches the floors file's, so a local sf0.01 audit
  * can neither borrow nor clobber the committed sf0.1 floors.
  *
  * `SPARK_GRAFT_ONLY=q1,q2` restricts the sweep to named queries — the
  * isolated-rerun mode used to audit individual timings on a quiet box.
  *
  * Failures are LOUD: a failed query is reported in "failed", excluded
  * from the total, timed as -1, and the process exits nonzero — a broken
  * query must never read as a fast one.
  *
  * DEADLINE (round 20): the round-19 harness run was killed at its
  * wall-clock timeout (rc=124) — the box was under sustained external
  * load (q39 ran 17× its floor), which inflated every run AND tripped
  * floor-triggered heal retries, each costing 4 more inflated runs.
  * A bench that produces NO number is strictly worse than one that
  * produces a degraded-precision number, so the sweep now carries a
  * wall-clock budget (`SPARK_GRAFT_BENCH_BUDGET` seconds, default
  * 1600 — in-JVM time, sized well inside the harness timeout net of
  * sbt startup/compile). Degradation is per-query and graceful:
  *   - warmup ALWAYS runs (an unwarmed number is a different metric —
  *     the first full-budget sweep measured cold runs at 2-3× the warm
  *     medians, so no degradation level ever reports the warmup);
  *   - the timed triple runs only while there is room for it before
  *     80% of budget (estimated at 3× the query's own warmup time);
  *   - else ONE warm timed run stands in for the triple;
  *   - past 95% of budget remaining queries are SKIPPED outright
  *     (listed in "skipped", previous committed spreads carried in
  *     the sidecar, exit stays 0 — a partial number the harness can
  *     parse beats a timeout kill that reports nothing);
  *   - the heal pass runs per-retry only while the remaining budget
  *     covers that query's 4-run cost; foregone retries keep the flag.
  * Queries measured below full precision are listed in "degraded" in
  * the sidecar and counted in the summary — a degraded sweep is
  * visible, never silently noisy. Floors only ratchet down, so a
  * degraded single-run min can tighten but never corrupt them.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local(cpus)

    // Full materialization via the noop sink: every column is computed and
    // serialized exactly as a real write would, but nothing hits disk. A
    // bare count() would let Catalyst prune all payload columns, so
    // projection-heavy queries would be timed as near-no-ops.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    def noisySpread(runs: Seq[Double]): Boolean =
      runs.head > 0 && runs.last / runs.head > 2.0

    // Historical per-query floors (min median-of-3 across committed
    // sweeps at the same SF). Jackson ships with Spark, so parsing needs
    // no extra dependency; a missing/foreign-SF file just means no
    // floor trigger this run (new queries rely on the ratio trigger
    // until their first committed sweep).
    val floorsPath = java.nio.file.Paths.get("BENCH_FLOORS.json")
    val floors: Map[String, Double] =
      if (!java.nio.file.Files.exists(floorsPath)) Map.empty
      else try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(floorsPath.toFile)
        if (root.path("sf").asText() != sfDir) Map.empty
        else {
          val it = root.path("floors").fields()
          val b = Map.newBuilder[String, Double]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
          b.result()
        }
      } catch { case e: Exception =>
        System.err.println(s"[bench] could not read BENCH_FLOORS.json: $e")
        Map.empty
      }
    def floorInflated(name: String, runs: Seq[Double]): Boolean =
      floors.get(name).exists(f => f > 0 && runs(1) > 2.5 * f)
    def flagged(name: String, runs: Seq[Double]): Boolean =
      noisySpread(runs) || floorInflated(name, runs)

    // GC barrier before each query's block: by sweep position 80+ the
    // JVM carries whatever heap state the preceding queries left, and
    // round 10/11 isolated audits showed that inheritance alone moving
    // a ~1.7 s query to ~2.5-3.2 s (q22). Collecting first means every
    // query measures from a comparably quiet heap — the same state its
    // isolated audit runs in — instead of paying an arbitrary
    // predecessor's garbage. (A System.gc() is a hint, but on the
    // default collector a full collection reliably follows.)
    def quietHeap(): Unit = { System.gc(); Thread.sleep(50) }

    // Default sized from measured round-20 full sweeps: ~300 s of
    // medians → ~1350-1450 s in-JVM at full precision on a quiet 32-cpu
    // box (warmups of index-building queries cost more than their
    // medians), so 1600 keeps a quiet sweep nearly un-degraded with
    // ~150 s of heal reserve, while capping a contended one at ~27 min
    // in-JVM — inside the harness timeout even after sbt startup.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET")
      .map(_.toDouble).getOrElse(1600.0)
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    // 0.80/0.95 split: the sweep degrades past 80% of budget and hard-
    // skips past 95%, so the heal pass ALWAYS gets ≥5% of budget. The
    // first loaded-box full sweep proved why: with the sweep allowed to
    // run to 100%, 84 queries kept contamination flags and ZERO healed —
    // and healing is the cheapest flag-remover there is (a cheap flagged
    // query retries in seconds).
    val sweepDeadline = 0.80 * budgetSec
    val skipDeadline = 0.95 * budgetSec

    // Sweep order: new queries first (no floor yet, so no flag
    // protection — they need the tightest measurement), then ASCENDING
    // historical floor, ties alphabetical. Degradation consumes the
    // sweep from the tail, so this order degrades the FEWEST queries
    // and the right ones: a full-budget descending-order sweep degraded
    // 145 cheap queries (each needing median-of-3 the most — GC spikes
    // dominate their relative error), where ascending order degrades
    // only the handful of heaviest queries, whose multi-second runs
    // self-average and whose single warm run tracks their median
    // within jitter. Per-query values are order-independent (quietHeap
    // barriers each block), so spreads stay comparable with every
    // previous alphabetical sweep.
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy { case (name, _) =>
        (floors.getOrElse(name, -1.0), name)
      }
    require(selected.nonEmpty, s"SPARK_GRAFT_ONLY matched no queries: $only")
    // Sentinel Left marker for budget-skips — NOT a failure: the query is
    // fine, the box ran out of wall clock. Distinguished everywhere below
    // (carried spreads, no nonzero exit, own summary count).
    val SkipMark = "SKIPPED_BUDGET"
    val degradedNames = scala.collection.mutable.ListBuffer.empty[String]
    val swept = selected.map { case (name, fn) =>
      if (elapsed() > skipDeadline) {
        // hard-over the skip deadline: even a warm single run of every
        // remaining query could blow the harness timeout (the rc=124
        // failure mode this guards) and would starve the heal pass.
        // Skip loudly; the sidecar carries the previous committed
        // spread for visibility.
        System.err.println(f"[bench] $name SKIPPED: ${elapsed()}%.0fs " +
          f"past ${skipDeadline}%.0fs skip deadline")
        name -> Left(SkipMark)
      } else try {
        quietHeap()
        val w = timeOnce(fn) // warmup: JIT, codegen cache, file-footer cache
        // Degraded mode is ONE WARM run, never the warmup itself: the
        // first full-budget sweep proved warmup-as-measurement reports
        // cold-cache numbers 2-3× the warm medians — a different metric
        // that floor-flagged the whole degraded tail, not a noisy one.
        val runs =
          if (elapsed() + 3 * w <= sweepDeadline)
            Seq.fill(3)(timeOnce(fn)).sorted // [min, median, max]
          else {
            degradedNames += name
            val r = timeOnce(fn) // one warm run stands in for the triple
            Seq.fill(3)(r)
          }
        name -> Right(runs)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          name -> Left(e.getClass.getSimpleName)
      }
    }
    // Self-heal pass: retry flagged queries after the sweep (quiet tail).
    // "healed" records only queries whose contaminated runs were actually
    // REPLACED by a clean retry — a retry that throws or stays noisy must
    // not read as a heal. Each retry re-warms first: by the sweep's tail
    // the query's footer/JIT caches may have been evicted, and an unwarmed
    // triple would re-inject exactly the cold-start spread being healed.
    val fnOf = selected.toMap
    val healedNames = scala.collection.mutable.ListBuffer.empty[String]
    val results = swept.map {
      case (name, Right(runs)) if flagged(name, runs) =>
        var cur = runs
        var attempts = 0
        // A retry costs warmup + triple ≈ 4 runs at the query's current
        // (possibly inflated) cost — only spend it if the budget covers
        // it, else keep the flag (reviewable, never hidden).
        def retryFits(): Boolean = elapsed() + 4 * cur(1) <= budgetSec
        while (attempts < 2 && flagged(name, cur) && retryFits()) {
          attempts += 1
          val why =
            if (noisySpread(cur)) f"spread ${cur.last / cur.head}%.1fx"
            else f"median ${cur(1)}%.2fs > 2.5x floor ${floors(name)}%.2fs"
          System.err.println(s"[bench] $name $why — isolated retry $attempts")
          try {
            quietHeap()
            timeOnce(fnOf(name)) // re-warm before the timed triple
            cur = Seq.fill(3)(timeOnce(fnOf(name))).sorted
          } catch { case e: Throwable => // keep the contaminated-but-real runs
            System.err.println(s"[bench] $name retry failed: ${e.getMessage}")
          }
        }
        if (!flagged(name, cur) && (cur ne runs)) healedNames += name
        // a retry's triple is full-precision — it supersedes a degraded
        // (single-run / warmup-only) sweep measurement
        if (cur ne runs) degradedNames -= name
        name -> Right(cur)
      case other => other
    }
    // The harness captures only the last ~2000 chars of output and parses
    // the JSON line it finds there. Round-8's compact inline medians bought
    // time, but by round 11 the query count had grown the line past the
    // window again (the head — "metric":"total" — is what gets cut), and
    // the driver recorded parsed:null every round since. So stdout now
    // carries a FIXED-SIZE line (~150 bytes: total/noisy/failed counts,
    // sf, n_queries) that always fits, and the complete per-query data —
    // full-precision [min,median,max] spreads, noisy/healed lists — lives
    // in the BENCH_SPREADS.json sidecar (medians are spreads[k][1]).
    def fmt(d: Double): String = {
      // Locale.ROOT for the same reason as the floors writer below.
      val pat = if (d >= 100) "%.0f" else if (d >= 10) "%.1f"
        else if (d >= 1) "%.2f" else "%.3f"
      String.format(java.util.Locale.ROOT, pat, Double.box(d))
    }
    // Queries still flagged after the heal pass: the box never went
    // quiet, the query is intrinsically variable, or (floor trigger)
    // the cost genuinely moved — flag them either way.
    val noisy = results.collect {
      case (k, Right(runs)) if flagged(k, runs) => k
    }
    noisy.foreach { k =>
      System.err.println(s"[bench] WARNING: $k still flagged " +
        "(spread > 2x or median > 2.5x historical floor) after isolated " +
        "retries — rerun on a quiet box, or acknowledge a real re-costing " +
        "by dropping its BENCH_FLOORS.json entry")
    }
    val skippedNames = results.collect {
      case (k, Left(m)) if m == SkipMark => k
    }
    val failedNames = results.collect {
      case (k, Left(m)) if m != SkipMark => k
    }
    val failed = failedNames.map(k => s"\"$k\"")
    val total = results.collect { case (_, Right(runs)) => runs(1) }.sum
    // Merge with the previous sidecar: an ONLY-subset isolated audit
    // must OVERLAY its re-measured queries onto the committed
    // full-sweep spreads, not discard them (the floors-ratchet rule
    // applied to the sidecar — before this, a post-sweep
    // `SPARK_GRAFT_ONLY=q1` hand-audit silently shrank the committed
    // spreads map to one entry). Re-measured queries drop their stale
    // flags; unmeasured queries keep spreads AND flags from the
    // previous run. A sidecar from a different SF is ignored whole.
    // Budget-skipped queries were NOT measured: their previous committed
    // spreads (and flags) must carry through the merge below, exactly like
    // an ONLY-subset audit's unselected queries.
    val measured = results.collect {
      case (k, Left(m)) if m != SkipMark => k
      case (k, Right(_)) => k
    }.toSet
    val prev =
      try {
        val p = java.nio.file.Paths.get("BENCH_SPREADS.json")
        if (!java.nio.file.Files.exists(p)) None
        else {
          val n = new com.fasterxml.jackson.databind.ObjectMapper()
            .readTree(p.toFile)
          if (n.path("sf").asText() == sfDir) Some(n) else None
        }
      } catch { case _: Exception => None }
    import scala.jdk.CollectionConverters._
    val prevSpreads = prev.map { n =>
      n.path("spreads").fields().asScala
        .filterNot(e => measured(e.getKey))
        .map(e => e.getKey -> e.getValue.toString).toSeq
    }.getOrElse(Nil)
    def carried(field: String, current: Seq[String]): Seq[String] =
      (prev.map(_.path(field).elements().asScala.map(_.asText())
        .filterNot(measured).toSeq).getOrElse(Nil) ++ current).distinct
    val spreads =
      (prevSpreads ++ results.collect { case (k, Right(runs)) =>
        k -> s"[${runs.mkString(",")}]"
      }).sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
        .mkString("{", ",", "}")
    def jlist(xs: Seq[String]): String =
      xs.sorted.map(k => s"\"$k\"").mkString(",")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("BENCH_SPREADS.json"),
      (s"""{"spreads":$spreads,"noisy":[${jlist(carried("noisy", noisy))}],""" +
        s""""healed":[${jlist(carried("healed", healedNames.toSeq))}],""" +
        s""""degraded":[${jlist(carried("degraded", degradedNames.toSeq))}],""" +
        s""""skipped":[${jlist(carried("skipped", skippedNames))}],""" +
        s""""failed":[${jlist(carried("failed", failedNames))}],"sf":"$sfDir"}""")
        .getBytes("UTF-8"))
    catch { // the sidecar is best-effort; never fail the bench over it
      case e: Exception =>
        System.err.println(s"[bench] could not write BENCH_SPREADS.json: $e")
    }
    // Ratchet the floors: per-query min(previous floor, this run's min),
    // preserving floors for queries not in this run (an ONLY-subset audit
    // must not drop the rest of the map). Created fresh when absent;
    // never touched when it belongs to a different SF.
    val floorsOwnSf = !java.nio.file.Files.exists(floorsPath) || floors.nonEmpty ||
      (try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(floorsPath.toFile).path("sf").asText() == sfDir
      catch { case _: Exception => false })
    if (floorsOwnSf) try {
      val mins = results.collect { case (k, Right(runs)) => k -> runs.head }.toMap
      val merged = (floors.keySet ++ mins.keySet).toSeq.sorted.map { k =>
        val v = math.min(floors.getOrElse(k, Double.MaxValue),
          mins.getOrElse(k, Double.MaxValue))
        // Locale.ROOT: the f-interpolator is locale-sensitive, and a
        // comma-decimal locale would write unparseable JSON.
        s""""$k":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))}"""
      }.mkString(",")
      java.nio.file.Files.write(floorsPath,
        s"""{"sf":"$sfDir","floors":{$merged}}""".getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write BENCH_FLOORS.json: $e")
    }
    val summary = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","noisy":${noisy.length},"failed":${failed.length},"healed":${healedNames.length},"degraded":${degradedNames.length},"skipped":${skippedNames.length},"n_queries":${results.length},"elapsed_sec":${fmt(elapsed())},"sf":"$sfDir"}"""
    // The summary ALSO lands in a sidecar file: the stdout line has been
    // visibly complete since it went fixed-size, yet the harness's
    // parsed field still read null (capture-side last-line selection or
    // the sbt "[info] " prefix) — a file needs no stdout parsing at all.
    // Same best-effort discipline as BENCH_SPREADS. FULL sweeps only:
    // a hand-run SPARK_GRAFT_ONLY audit must not clobber the committed
    // full-suite summary with an n_queries=2 partial (round-16 bite).
    if (only.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        summary.getBytes("UTF-8"))
      catch { case e: Exception =>
        System.err.println(s"[bench] could not write BENCH_SUMMARY.json: $e")
      }
    }
    // stop() BEFORE the println: the harness parses the JSON line from
    // the tail of captured output, and Spark's shutdown chatter (context
    // cleaner, shuffle service warnings) must not land after it.
    spark.stop()
    println(summary)
    if (failed.nonEmpty) sys.exit(1)
  }
}
