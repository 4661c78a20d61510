package pipebench

/** Pages replayed through HtmlPrep and Splitters, and the chunks they
  * split into.
  */
final case class Replayed(pages: Int, chunks: Int)

/** The per-layer metrics of a traced run, named after the library's
  * modules. Call latencies (`*_ms`, `*_us`) are mean self time per call of
  * that public function, taken from the timed pass, or from set-up for
  * calls only set-up makes (the base ingest); `*_jobs` and `*_input_bytes`
  * are per call. `ingest.*` and `embed.*` are per call of the ingest path
  * (`ingestProductsBatched`, or the chunking step of an update); the
  * `spark.*` and `catalyst.*` totals are per operation of the timed pass.
  * A layer the workload never calls reads 0.
  */
object Layers {
  val PerLayer: Vector[(String, String)] = Vector(
    "ingest.pages" -> "count", "ingest.chunks" -> "count",
    "ingest.fetch_ms" -> "ms", "ingest.task_skew" -> "ratio",
    "htmlprep.us_per_page" -> "us", "splitters.us_per_page" -> "us",
    "splitters.chunks_per_page" -> "count",
    "embed.ms" -> "ms", "embed.texts" -> "count", "embed.batches" -> "count",
    "vectorstore.append_ms" -> "ms", "vectorstore.fetch_ms" -> "ms",
    "vectorstore.files" -> "count", "vectorstore.bytes" -> "bytes",
    "textindex.build_ms" -> "ms", "textindex.search_ms" -> "ms",
    "textindex.search_jobs" -> "count", "textindex.search_input_bytes" -> "bytes",
    "textindex.batch_ms" -> "ms", "textindex.append_ms" -> "ms",
    "textindex.delete_ms" -> "ms", "textindex.postings_files" -> "count",
    "textindex.bytes" -> "bytes",
    "ivf.train_ms" -> "ms", "ivf.train_jobs" -> "count", "ivf.build_ms" -> "ms",
    "ivf.search_ms" -> "ms", "ivf.search_jobs" -> "count",
    "ivf.search_input_bytes" -> "bytes", "ivf.batch_ms" -> "ms",
    "ivf.append_ms" -> "ms", "ivf.delete_ms" -> "ms",
    "dedup.rows_in" -> "count", "dedup.rows_out" -> "count",
    "dedup.pairs" -> "count", "dedup.prepare_ms" -> "ms",
    "dedup.prepare_jobs" -> "count", "dedup.pairs_ms" -> "ms",
    "dedup.cc_ms" -> "ms", "dedup.cc_jobs" -> "count",
    "rag.embed_us" -> "us", "rag.fuse_ms" -> "ms", "rag.context_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.core_busy_ratio" -> "ratio",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "trace.overhead_ms" -> "ms", "trace.overhead_ratio" -> "ratio")

  def metrics(r: Report, rl: RowLocal, traced: Pass, untraced: Pass,
      published: Option[Published], replayed: Replayed,
      cores: Int): Vector[(String, Double)] = {
    val ops = math.max(traced.opMs.length, 1).toDouble
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    def selfMs(layer: String, call: String): Double = mean(r.of(layer, call).map(r.selfMs))
    def perCall(layer: String, call: String)(f: Counters => Long): Double =
      mean(r.of(layer, call).map(s => f(r.counters(s)).toDouble))
    def perPage(layer: String): Double =
      if (replayed.pages == 0) 0.0
      else r.ofLayer(layer).map(r.selfMs).sum * 1000 / replayed.pages
    val ingestCalls = r.ofLayer("pipeline.IngestPipeline")
    val perIngest = (v: Double) => if (ingestCalls.isEmpty) 0.0 else v / ingestCalls.length
    // max ÷ median executor time over the tasks of the ingest call's
    // heaviest stage: the product-per-task stage when products are skewed.
    val skew = ingestCalls.flatMap { s =>
      val stages = r.counters(s).stageTasks.values.filter(_.length > 1)
      if (stages.isEmpty) None
      else {
        val ts = stages.maxBy(_.sum).map(_.toDouble)
        Some(ts.max / math.max(Workload.median(ts.toSeq), 1.0))
      }
    }
    val all = r.total(r.under("pass"))
    val bytesOf = (p: Published => String) => published.map(x => Workload.dirBytes(p(x)).toDouble).getOrElse(0.0)
    val files = (p: Published => String) => published.map(x => Workload.files(p(x))
      .count(_.getFileName.toString.endsWith(".parquet")).toDouble).getOrElse(0.0)
    val p50 = Workload.median(traced.opMs)
    val base = Workload.median(untraced.opMs)
    val m = Vector(
      "ingest.pages" -> traced.layer.getOrElse("ingest.pages", 0.0),
      "ingest.chunks" -> traced.layer.getOrElse("ingest.chunks", 0.0),
      "ingest.fetch_ms" -> perIngest(rl.fetchNs.value / 1e6),
      "ingest.task_skew" -> (if (skew.isEmpty) 0.0 else Workload.median(skew)),
      "htmlprep.us_per_page" -> perPage("text.HtmlPrep"),
      "splitters.us_per_page" -> perPage("text.Splitters"),
      "splitters.chunks_per_page" ->
        (if (replayed.pages == 0) 0.0 else replayed.chunks.toDouble / replayed.pages),
      "embed.ms" -> perIngest(rl.embedNs.value / 1e6),
      "embed.texts" -> perIngest(rl.embedTexts.value.toDouble),
      "embed.batches" -> perIngest(rl.embedBatches.value.toDouble),
      "vectorstore.append_ms" -> selfMs("store.ParquetVectorStore", "appendAll"),
      "vectorstore.fetch_ms" -> selfMs("store.ParquetVectorStore", "fetch"),
      "vectorstore.files" -> files(_.store),
      "vectorstore.bytes" -> bytesOf(_.store),
      "textindex.build_ms" -> selfMs("store.TextIndex", "build"),
      "textindex.search_ms" -> selfMs("store.TextIndex", "search"),
      "textindex.search_jobs" -> perCall("store.TextIndex", "search")(_.jobs),
      "textindex.search_input_bytes" -> perCall("store.TextIndex", "search")(_.input),
      "textindex.batch_ms" -> selfMs("store.TextIndex", "searchBatch"),
      "textindex.append_ms" -> selfMs("store.TextIndex", "appendBatch"),
      "textindex.delete_ms" -> selfMs("store.TextIndex", "deleteBatch"),
      "textindex.postings_files" -> files(p => s"${p.text}/postings"),
      "textindex.bytes" -> bytesOf(_.text),
      "ivf.train_ms" -> selfMs("store.IvfIndex", "trainSeeds"),
      "ivf.train_jobs" -> perCall("store.IvfIndex", "trainSeeds")(_.jobs),
      "ivf.build_ms" -> selfMs("store.IvfIndex", "build"),
      "ivf.search_ms" -> selfMs("store.IvfIndex", "search"),
      "ivf.search_jobs" -> perCall("store.IvfIndex", "search")(_.jobs),
      "ivf.search_input_bytes" -> perCall("store.IvfIndex", "search")(_.input),
      "ivf.batch_ms" -> selfMs("store.IvfIndex", "searchBatch"),
      "ivf.append_ms" -> selfMs("store.IvfIndex", "append"),
      "ivf.delete_ms" -> selfMs("store.IvfIndex", "deleteIds"),
      "dedup.rows_in" -> traced.layer.getOrElse("dedup.rows_in", 0.0),
      "dedup.rows_out" -> traced.layer.getOrElse("dedup.rows_out", 0.0),
      "dedup.pairs" -> traced.layer.getOrElse("dedup.pairs", 0.0),
      "dedup.prepare_ms" -> selfMs("pipeline.CorpusPrep", "prepare"),
      "dedup.prepare_jobs" -> perCall("pipeline.CorpusPrep", "prepare")(_.jobs),
      "dedup.pairs_ms" -> selfMs("text.Dedup", "nearDupPairs"),
      "dedup.cc_ms" -> selfMs("text.Dedup", "dupComponents"),
      "dedup.cc_jobs" -> perCall("text.Dedup", "dupComponents")(_.jobs),
      "rag.embed_us" -> selfMs("pipeline.RagQuery", "embed") * 1000,
      "rag.fuse_ms" -> selfMs("pipeline.RagQuery", "fuse"),
      "rag.context_ms" -> selfMs("pipeline.RagQuery", "context"),
      "spark.jobs" -> all.jobs / ops,
      "spark.stages" -> all.stages / ops,
      "spark.tasks" -> all.tasks / ops,
      "spark.executor_run_ms" -> all.runMs / ops,
      "spark.executor_cpu_ms" -> all.cpuNs / 1e6 / ops,
      "spark.gc_ms" -> all.gcMs / ops,
      "spark.shuffle_read_bytes" -> all.shuffleRead / ops,
      "spark.shuffle_write_bytes" -> all.shuffleWrite / ops,
      "spark.spill_bytes" -> all.spill / ops,
      "spark.input_bytes" -> all.input / ops,
      "spark.core_busy_ratio" -> all.runMs / (traced.wallMs * cores),
      "catalyst.analysis_ms" -> all.analysisMs / ops,
      "catalyst.optimization_ms" -> all.optimizationMs / ops,
      "catalyst.planning_ms" -> all.planningMs / ops,
      "trace.overhead_ms" -> (p50 - base),
      "trace.overhead_ratio" -> (p50 / base - 1))
    require(m.map(_._1) == PerLayer.map(_._1), "per-layer metric list out of sync")
    m
  }
}
