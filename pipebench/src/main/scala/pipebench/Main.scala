package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.text.{HtmlPrep, Splitters}

import Workload.clock

/** The pipeline benchmark's entry point:
  *
  * {{{
  *   Main --workload <pipeline|dedup> --seed <n> --seconds <s>
  *        --trace <0|1> --work <scratch dir>
  * }}}
  *
  * With `--trace 0` it sets the workload up, runs one timed pass with
  * tracing off, checks the outputs and prints the end-to-end metrics.
  * With `--trace 1` it runs the pass untraced and then, after a fresh
  * traced set-up, traced, and prints the per-layer metrics; the layer
  * table and the spans are written under `<work>/trace`. The last stdout
  * line is one JSON object; the exit code is 0 only if every output
  * checked out.
  */
object Main {
  val EndToEnd: Vector[(String, String)] = Vector(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_ms" -> "ms",
    "throughput_per_s" -> "1/s", "bytes_per_input_byte" -> "ratio",
    "peak_live_heap_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt.getOrElse("workload", "")
    require(Workload.Names.contains(name), s"--workload must be one of ${Workload.Names.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    Memory.watch()
    val (spark, sessionMs) = clock(phase("session")(session(work)))
    val code = try run(spark, sessionMs, name, seed, seconds, trace, work)
    finally { Pipeline.shutdown(); spark.stop() }
    sys.exit(code)
  }

  private def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Time a phase of the run and log it to stderr. */
  private def phase[T](what: String)(f: => T): T = {
    val (r, ms) = clock(f)
    System.err.println(f"pipebench phase $what%-12s $ms%10.1f ms")
    r
  }

  private def run(spark: SparkSession, sessionMs: Double, name: String,
      seed: Long, seconds: Int, trace: Boolean, work: Path): Int = {
    val wl = Workload(name, new Gen(seed), spark, work.resolve("data"), seconds)
    val plain = new Pipeline(spark, new Tracer(spark, enabled = false), None)
    val cores = Runtime.getRuntime.availableProcessors

    val (pass, metrics) =
      if (!trace) {
        val setupMs = clock(phase("setup")(wl.setup(0, plain)))._2
        val pass = phase("measure")(wl.measure(plain, "timed"))
        System.err.println(pass.opMs.map(ms => f"$ms%.0f").mkString("pipebench op ms: ", " ", ""))
        (pass, Vector(
          "setup_s" -> (sessionMs + setupMs) / 1000,
          "pass_s" -> pass.wallMs / 1000,
          "op_p50_ms" -> Workload.median(pass.opMs),
          "throughput_per_s" -> pass.throughput,
          "bytes_per_input_byte" -> pass.bytesPerInputByte,
          "peak_live_heap_mb" -> Memory.peakLiveHeapMb))
      } else {
        phase("setup")(wl.setup(0, plain))
        val untraced = phase("measure")(wl.measure(plain, "plain"))
        val tracer = new Tracer(spark, enabled = true)
        val rowLocal = new RowLocal(spark)
        val traced = new Pipeline(spark, tracer, Some(rowLocal))
        phase("setup")(tracer.span("bench", "setup")(wl.setup(1, traced)))
        val pass = phase("measure")(tracer.span("bench", "pass")(wl.measure(traced, "traced")))
        val apart = tracer.span("bench", "apart")(wl.traceApart(traced))
        val replayed = tracer.span("bench", "replay")(replay(tracer, wl.pages.take(ReplayPages)))
        val report = tracer.report()
        val dir = work.resolve("trace")
        Files.createDirectories(dir)
        Files.write(dir.resolve("layers.tsv"), report.table.getBytes(StandardCharsets.UTF_8))
        Files.write(dir.resolve("spans.jsonl"), report.spansJson.getBytes(StandardCharsets.UTF_8))
        print(report.table)
        (pass, Layers.metrics(report, rowLocal, pass.copy(layer = pass.layer ++ apart),
          untraced, wl.published, replayed, cores))
      }

    val checks = phase("check")(wl.check(plain))
    checks.filterNot(_._2).foreach { case (c, _) => println(s"MISMATCH $c") }
    val attempted = pass.attempted + checks.length
    val failed = pass.failed + checks.count(!_._2)
    val finite = metrics.forall { case (_, v) => !v.isNaN && !v.isInfinite }
    val correct = failed == 0 && finite

    val n = pass.opMs.length
    println(s"workload $name seed $seed: $n operations, tail = ${Workload.tailName(n)}")
    (pass.named ++ Vector(
      ("peak_rss_mb", Memory.peakRssMb, "MB"),
      ("failed_ratio", failed.toDouble / attempted, "ratio"))).foreach {
      case (k, v, u) => println(f"named $k%-22s $v%14.4f $u")
    }
    val units = (EndToEnd ++ Layers.PerLayer).toMap
    val body = metrics.map { case (k, v) =>
      s""""$k": {"value": ${if (finite) v.toString else "0"}, "unit": "${units(k)}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  val ReplayPages = 200

  /** Time the row-local HTML and splitting layers per call, on the
    * driver, over the run's pages (inside ingest they run fused in one
    * task, where no span can reach them).
    */
  private def replay(tr: Tracer, pages: Seq[Page]): Replayed = Replayed(pages.length,
      pages.map { pg =>
    val html = Gen.pageHtml(pg)
    val body = tr.span("text.HtmlPrep", "extractTitleAndBody", pg.slug) {
      HtmlPrep.extractTitleAndBody(html)._2
    }
    val clean = tr.span("text.HtmlPrep", "cleanHtml", pg.slug)(HtmlPrep.cleanHtml(body))
    val md = tr.span("text.HtmlPrep", "htmlToMarkdown", pg.slug)(HtmlPrep.htmlToMarkdown(clean))
    val sections = tr.span("text.Splitters", "markdownHeaderSplit", pg.slug) {
      Splitters.markdownHeaderSplit(md, Splitters.Headers3)
    }
    tr.span("text.Splitters", "recursiveCharSplit", pg.slug) {
      sections.map(s => Splitters.recursiveCharSplit(s.content, 2048, 256).length).sum
    }
  }.sum)
}
