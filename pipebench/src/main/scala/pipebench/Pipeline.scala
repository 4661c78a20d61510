package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.embed.{BatchEmbedder, HashingBatchEmbedder, HashingEmbedder}
import graft.pipeline.{Fetcher, IngestPipeline, StubLlm}
import graft.store.{IvfIndex, ParquetVectorStore, TextIndex}

/** Reads the pages of a generated site from local files: the URL path is
  * the file path under `root`.
  */
final case class LocalSiteFetcher(root: String) extends Fetcher {
  override def fetch(url: String): Option[String] = {
    val f = Paths.get(root, url.stripPrefix("/") + ".html")
    if (Files.isRegularFile(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }
}

/** Traced-run wrapper: adds up fetch time on the executors. */
final case class TimedFetcher(inner: Fetcher, nanos: LongAccumulator) extends Fetcher {
  override def fetch(url: String): Option[String] = {
    val t0 = System.nanoTime()
    try inner.fetch(url)
    finally nanos.add(System.nanoTime() - t0)
  }
}

/** Traced-run wrapper: counts embedded texts, batches and model time. */
final case class TimedEmbedder(inner: BatchEmbedder, texts: LongAccumulator,
    batches: LongAccumulator, nanos: LongAccumulator) extends BatchEmbedder {
  override def dim: Int = inner.dim
  override def embedBatch(ts: Seq[String]): Seq[Array[Float]] = {
    val t0 = System.nanoTime()
    try inner.embedBatch(ts)
    finally {
      texts.add(ts.length.toLong); batches.add(1); nanos.add(System.nanoTime() - t0)
    }
  }
}

/** Executor-side counters of the row-local layers that
  * `ingestProductsBatched` fuses into one task.
  */
final class RowLocal(spark: SparkSession) {
  private def acc(n: String) = spark.sparkContext.longAccumulator(s"pipebench.$n")
  val fetchNs, embedTexts, embedBatches, embedNs = acc("rowlocal")
}

/** Where one published corpus lives: the chunk store and the two indexes
  * built over it.
  */
final case class Published(root: String) {
  def store: String = s"$root/store"
  def text: String = s"$root/text"
  def ivf: String = s"$root/ivf"
}

/** A retrieved chunk after fusion. */
final case class Hit(id: Long, rrf: Double, title: String, content: String)

/** One hybrid query's result: both rankings as (id, score) in rank
  * order, the fused hits and the completion of the prompt built on them.
  */
final case class Answer(dense: Seq[(Long, Double)], lexical: Seq[(Long, Double)],
    hits: Seq[Hit], completion: String)

/** The pipeline as the benchmark drives it, only through the library's
  * public entry points. Every call into a layer is one tracer span named
  * after the module it enters.
  */
final class Pipeline(val spark: SparkSession, val tr: Tracer,
    rowLocal: Option[RowLocal]) {
  import Pipeline._

  private val fetcherOf: String => Fetcher = root => rowLocal match {
    case None => LocalSiteFetcher(root)
    case Some(r) => TimedFetcher(LocalSiteFetcher(root), r.fetchNs)
  }

  private val embedderFactory: () => BatchEmbedder = rowLocal match {
    case None => () => HashingBatchEmbedder(Dim)
    case Some(r) =>
      val (t, b, n) = (r.embedTexts, r.embedBatches, r.embedNs)
      () => TimedEmbedder(HashingBatchEmbedder(Dim), t, b, n)
  }

  val queryEmbedder: HashingEmbedder = HashingEmbedder(Dim)

  def store(p: Published): ParquetVectorStore = new ParquetVectorStore(spark, p.store)

  /** Every stored chunk of every product index, with its id: a 64-bit
    * hash of (source, crawl, content). `crawl` is absent on pages the
    * batch ingest wrote and set on pages an update re-published.
    */
  def chunks(p: Published): DataFrame = {
    val s = store(p)
    s.listIndexes().map(s.read).reduce(_.unionByName(_))
      .withColumn("id", xxhash64(element_at(col("metadata"), "source"),
        coalesce(element_at(col("metadata"), "crawl"), lit("0")),
        col("page_content")))
  }

  /** The batch ingest: raw HTML pages → store → TextIndex + IvfIndex,
    * ending with one query proving both indexes answer. Returns chunks
    * stored per index.
    */
  def ingest(site: String, p: Published, trace: String): Seq[(String, Long)] = {
    val perIndex = tr.span("pipeline.IngestPipeline", "ingestProductsBatched", trace) {
      IngestPipeline.ingestProductsBatched(spark, Gen.Catalog, Gen.landingUrl,
        fetcherOf(site), embedderFactory, store(p), EmbedBatch)
    }
    val docs = chunks(p)
    tr.span("store.TextIndex", "build", trace) {
      TextIndex.build(docs, "id", "page_content", p.text, Buckets)
    }
    val vecs = docs.select("id", "embedding")
    val seeds = tr.span("store.IvfIndex", "trainSeeds", trace) {
      IvfIndex.trainSeeds(vecs, "id", "embedding", Cells, TrainIters)
    }
    tr.span("store.IvfIndex", "build", trace) {
      IvfIndex.build(vecs, "id", "embedding", seeds, "cell_id", "seed_vec", p.ivf)
    }
    val probe = Query(-1, Vector("cluster"))
    require(denseSearch(p, queryEmbedder.embed(probe.text), trace).nonEmpty &&
      lexicalSearch(p, probe.terms, trace).nonEmpty, s"$trace: index not searchable")
    perIndex
  }

  def denseSearch(p: Published, v: Array[Float], trace: String,
      parent: Option[Long] = None): Seq[(Long, Double)] =
    tr.span("store.IvfIndex", "search", trace, parent) {
      IvfIndex.search(spark, p.ivf, "id", "embedding", v, Pool, Probes)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }

  def lexicalSearch(p: Published, terms: Seq[String], trace: String)
      : Seq[(Long, Double)] =
    tr.span("store.TextIndex", "search", trace) {
      TextIndex.search(spark, p.text, terms, Pool)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }

  /** One hybrid RAG query: embed → IvfIndex.search ‖ TextIndex.search →
    * reciprocal-rank fusion → fetch the top chunks → RagQuery-format
    * context → StubLlm. Returns both rankings, the fused hits and the
    * completion.
    */
  def hybrid(p: Published, q: Query): Answer = {
    val trace = s"q${q.id}"
    val v = tr.span("pipeline.RagQuery", "embed", trace)(queryEmbedder.embed(q.text))
    val parent = tr.current
    val dense = Future(denseSearch(p, v, trace, parent))(Pipeline.pool)
    val lexical = lexicalSearch(p, q.terms, trace)
    val denseHits = Await.result(dense, Duration.Inf)
    val fused = tr.span("pipeline.RagQuery", "fuse", trace)(rrf(denseHits, lexical))
    val hits = fetch(p, Map(q.id -> fused), trace)(q.id)
    Answer(denseHits, lexical, hits, answer(q, hits, trace))
  }

  /** The same queries answered through the batch faces: one
    * TextIndex.searchBatch and one IvfIndex.searchBatch per batch, fused
    * per query, one chunk fetch for the whole batch.
    */
  def hybridBatch(p: Published, qs: Seq[Query], trace: String)
      : Map[Long, Answer] = {
    import spark.implicits._
    val vs = tr.span("pipeline.RagQuery", "embed", trace) {
      qs.map(q => (q.id, queryEmbedder.embed(q.text)))
    }
    val dense = tr.span("store.IvfIndex", "searchBatch", trace) {
      IvfIndex.searchBatch(spark, p.ivf, "id", "embedding", vs.toDF("qid", "qvec"),
        "qid", "qvec", Pool, Probes)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.toSeq.map(r => (r._2, r._3)) }
    }
    val lexical = tr.span("store.TextIndex", "searchBatch", trace) {
      TextIndex.searchBatch(spark, p.text, qs.map(q => (q.id, q.terms)), Pool)
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
        .groupBy(_._1).map { case (q, rs) => q -> rs.toSeq.map(r => (r._2, r._3)) }
    }
    val ranked = qs.map(q => q.id ->
      ((byScore(dense.getOrElse(q.id, Nil)), byScore(lexical.getOrElse(q.id, Nil))))).toMap
    val fused = tr.span("pipeline.RagQuery", "fuse", trace) {
      ranked.map { case (q, (d, l)) => q -> rrf(d, l) }
    }
    val hits = fetch(p, fused, trace)
    qs.map(q => q.id -> Answer(ranked(q.id)._1, ranked(q.id)._2, hits(q.id),
      answer(q, hits(q.id), trace))).toMap
  }

  private def fetch(p: Published, fused: Map[Long, Seq[(Long, Double)]],
      trace: String): Map[Long, Seq[Hit]] = {
    val ids = fused.values.flatten.map(_._1).toSeq.distinct
    val rows = tr.span("store.ParquetVectorStore", "fetch", trace) {
      if (ids.isEmpty) Map.empty[Long, (String, String)]
      else chunks(p).filter(col("id").isin(ids: _*))
        .select(col("id"), coalesce(element_at(col("metadata"), "title"), lit("")),
          col("page_content"))
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    }
    fused.map { case (q, f) =>
      q -> f.flatMap { case (id, s) => rows.get(id).map { case (t, c) => Hit(id, s, t, c) } }
    }
  }

  /** RagQuery.ragQuery's prompt: "Title: …\nContent: …" pieces in rank
    * order, joined by blank lines, under the question.
    */
  private def answer(q: Query, hits: Seq[Hit], trace: String): String =
    tr.span("pipeline.RagQuery", "context", trace) {
      val context = hits.map(h => s"Title: ${h.title}\nContent: ${h.content}").mkString("\n\n")
      StubLlm.complete(s"Query: ${q.text}\n\nContext:\n$context")
    }

  // ---- update path ------------------------------------------------------

  /** One update micro-batch, published: the pages go through the
    * pipeline's fetch → chunk → batched embed, the chunk rows land in the
    * store, re-crawled pages' old chunks are deleted from both indexes
    * (TextIndex.deleteBatch, IvfIndex.deleteIds) and the new chunks
    * appended (TextIndex.appendBatch, IvfIndex.append) — the calls the
    * streaming sinks run per micro-batch. Returns (source, id) of every
    * chunk published.
    */
  def publish(site: String, p: Published, batchId: Long, pages: Seq[Page],
      doomed: Seq[Long]): Seq[(String, Long)] = {
    import spark.implicits._
    val trace = s"b$batchId"
    val fetcher = fetcherOf(site)
    val crawl = (batchId + 1).toString
    val batch = tr.span("pipeline.IngestPipeline", "pageToChunks", trace) {
      val raw = spark.createDataset(pages.map(pg => (pg.product, pg.docPath)))
        .flatMap { case (prod, url) =>
          fetcher.fetch(url).toSeq.flatMap(html =>
            IngestPipeline.pageToChunks(prod, url, html)).map(c =>
            (prod.indexName, c.pageContent, c.metadata + ("crawl" -> crawl), c.headers))
        }.toDF("index_name", "page_content", "metadata", "headers")
      graft.embed.BatchedEmbed.embedAll(raw, "page_content", "embedding",
        embedderFactory, EmbedBatch)
        .withColumn("id", xxhash64(element_at(col("metadata"), "source"),
          element_at(col("metadata"), "crawl"), col("page_content")))
        .localCheckpoint()
    }
    tr.span("store.ParquetVectorStore", "appendAll", trace) {
      store(p).appendAll(batch)
    }
    if (doomed.nonEmpty) {
      val ids = doomed.toDF("id")
      tr.span("store.TextIndex", "deleteBatch", trace) {
        TextIndex.deleteBatch(ids, "id", p.text, batchId)
      }
      tr.span("store.IvfIndex", "deleteIds", trace) { IvfIndex.deleteIds(ids)(p.ivf) }
    }
    tr.span("store.TextIndex", "appendBatch", trace) {
      TextIndex.appendBatch(batch, "id", "page_content", p.text, Buckets, batchId)
    }
    tr.span("store.IvfIndex", "append", trace) {
      IvfIndex.append(batch.select("id", "embedding"), "id", "embedding", p.ivf)
    }
    batch.select(element_at(col("metadata"), "source"), col("id"))
      .as[(String, Long)].collect().toSeq
  }
}

object Pipeline {
  val Dim = 64
  val EmbedBatch = 32
  val Buckets = 16
  val Cells = 8
  val TrainIters = 3
  val Probes = 2
  val Pool = 20
  val TopK = 5

  /** Runs the dense half of a hybrid query beside the lexical half. */
  private lazy val executor = java.util.concurrent.Executors.newFixedThreadPool(1)
  private lazy val pool: ExecutionContext = ExecutionContext.fromExecutorService(executor)

  def shutdown(): Unit = executor.shutdownNow()

  /** Score descending, ties on id: the order both solo searches return. */
  def byScore(rs: Seq[(Long, Double)]): Seq[(Long, Double)] =
    rs.sortBy { case (id, s) => (-s, id) }

  /** Reciprocal-rank fusion, 1/(60+rank) per ranking; top [[TopK]] by
    * fused score, ties on id.
    */
  def rrf(dense: Seq[(Long, Double)], lexical: Seq[(Long, Double)]): Seq[(Long, Double)] = {
    val parts = Seq(dense, lexical).flatMap(_.zipWithIndex.map { case ((id, _), i) =>
      id -> 1.0 / (60 + i + 1)
    })
    byScore(parts.groupMapReduce(_._1)(_._2)(_ + _).toSeq).take(TopK)
  }
}
