package pipebench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.IngestPipeline
import graft.store.TextIndex

/** Serving and updating, as a closed loop with one client over a
  * documentation site ingested in set-up (raw HTML → store, TextIndex and
  * IvfIndex). The client serves distinct hybrid queries one at a time,
  * then the same set as one batch, then publishes micro-batches of new and
  * re-crawled pages (a re-crawl replaces its old version by a delete and
  * an append), each followed by more hybrid queries over the grown,
  * tombstoned indexes. The operation is one hybrid query.
  */
final class PipelineWorkload(gen: Gen, spark: SparkSession, work: Path,
    readQueries: Int, updates: Int) extends Workload(gen, spark, work) {
  val BasePages = 60
  val QueriesPerUpdate = 4
  val BatchSize = 2
  val FreshPerUpdate = 3
  val RecrawlPerUpdate = 3

  private var base = Vector.empty[Page]
  private var batches = Vector.empty[UpdateBatch]
  private var queries = Vector.empty[Query]
  private var inputBytes = 0L
  private var pub: Published = _
  private var solo = Map.empty[Long, Answer]
  private var batched = Map.empty[Long, Answer]
  private var last: (Query, Answer) = _
  /** source URL → ids of its live chunks. */
  private val live = scala.collection.mutable.Map[String, Vector[Long]]()
  private var ingestMs = 0.0
  /** Chunks of each ingest-path call in set-up: the base, the warm batch. */
  private var setupChunks = Vector.empty[Double]

  def pages: Vector[Page] = base ++ batches.flatMap(b => b.fresh ++ b.recrawled)
  def published: Option[Published] = Option(pub)

  private def dir(what: String): Path = repDir.resolve(s"in/$what")

  /** Generate the site, its updates and the queries; ingest the site;
    * then run every update and serving path once on inputs of their own
    * (a micro-batch of new pages and queries disjoint from the timed ones).
    */
  def setup(rep: Int, pl: Pipeline): Unit = {
    fresh(rep)
    base = gen.site("base", BasePages)
    batches = gen.updates("update", base, updates, FreshPerUpdate, RecrawlPerUpdate)
      .map(b => b.copy(id = b.id + 1))
    queries = gen.queries("session", readQueries + updates * QueriesPerUpdate)
    val warm = UpdateBatch(0, gen.site("warm", FreshPerUpdate), Vector.empty)
    inputBytes = Gen.writeSite(dir("base"), base) +
      (warm +: batches).map(b => Gen.writeSite(dir(s"batch${b.id}"), b.fresh ++ b.recrawled)).sum
    pub = Published(repDir.resolve("session").toString)
    live.clear()
    val (perIndex, ms) = clock(pl.ingest(dir("base").toString, pub, "base"))
    ingestMs = ms
    pl.chunks(pub).select(element_at(col("metadata"), "source"), col("id")).collect()
      .groupBy(_.getString(0)).foreach { case (s, rs) => live(s) = rs.map(_.getLong(1)).toVector }
    // Publish first: the first query after a publish reads the new delta
    // files cold, and the timed pass should not start on one.
    setupChunks = Vector(perIndex.map(_._2).sum.toDouble, publish(pl, warm).toDouble)
    val qs = gen.queries("warm", 4).filterNot(q => queries.exists(_.terms == q.terms)).take(2)
    qs.foreach(q => pl.hybrid(pub, q))
    pl.hybridBatch(pub, qs, "warm")
  }

  private def publish(pl: Pipeline, b: UpdateBatch): Int = {
    val doomed = b.recrawled.flatMap(pg => live.getOrElse(pg.docPath, Vector.empty))
    val chunks = pl.publish(dir(s"batch${b.id}").toString, pub, b.id,
      b.fresh ++ b.recrawled, doomed)
    b.recrawled.foreach(pg => live.remove(pg.docPath))
    chunks.groupBy(_._1).foreach { case (s, rs) => live(s) = rs.map(_._2).toVector }
    chunks.length
  }

  def measure(pl: Pipeline, pass: String): Pass = {
    val read = queries.take(readQueries)
    var failed = 0
    val chunks = Vector.newBuilder[Double]
    val (result, wall) = clock {
      val (soloMs, fs) = timed(read)(q => solo += q.id -> pl.hybrid(pub, q))
      val (batch, fb) = timed(read.grouped(BatchSize).toVector.zipWithIndex) {
        case (qs, i) => batched ++= pl.hybridBatch(pub, qs, s"batch$i")
      }
      val fresh, underWrites = Vector.newBuilder[Double]
      batches.zipWithIndex.foreach { case (b, i) =>
        val (f, ff) = timed(Seq(b))(b => chunks += publish(pl, b).toDouble)
        val (q, fq) = timed(queries.slice(readQueries + i * QueriesPerUpdate,
          readQueries + (i + 1) * QueriesPerUpdate))(q => last = q -> pl.hybrid(pub, q))
        fresh ++= f; underWrites ++= q; failed += ff + fq
      }
      failed += fs + fb
      (soloMs, batch, fresh.result(), underWrites.result())
    }
    val (soloMs, batch, fresh, underWrites) = result
    val all = soloMs ++ underWrites
    val qps = if (batch.isEmpty) 0.0 else read.length / (batch.sum / 1000)
    // Hybrid answers per second over the read phase, solo and batched.
    val answersPerS = (soloMs.length + read.length) / ((soloMs.sum + batch.sum) / 1000)
    Pass(all, answersPerS, Vector(
      ("ingest_s (set-up)", ingestMs / 1000, "s"),
      ("query_p50_ms", Workload.median(all), "ms"),
      ("query_tail_ms", Workload.tail(all), "ms"),
      ("batch_qps", qps, "1/s"),
      ("fresh_p50_ms", Workload.median(fresh), "ms"),
      ("fresh_tail_ms", Workload.tail(fresh), "ms")),
      read.length + (read.length + BatchSize - 1) / BatchSize +
        batches.length * (1 + QueriesPerUpdate), failed, wall,
      Workload.indexBytes(pub).toDouble / inputBytes,
      Map("ingest.pages" -> (BasePages + FreshPerUpdate +
        batches.length * (FreshPerUpdate + RecrawlPerUpdate)).toDouble / (2 + batches.length),
        "ingest.chunks" -> (setupChunks ++ chunks.result()).sum / (2 + batches.length)))
  }

  /** Outputs checked outside the timed pass:
    *   - the base ingest stored exactly the chunks IngestPipeline.pageToChunks
    *     makes of the same pages on the driver;
    *   - the batch faces answered every read query as the solo path did;
    *   - the last query, run on the final incrementally maintained
    *     indexes, ranks lexically as Bm25.score over the live chunks and as
    *     a TextIndex built from scratch over them, and densely (all cells
    *     probed) as exact cosine over them.
    */
  def check(pl: Pipeline): Vector[(String, Boolean)] = {
    val all = pl.chunks(pub)
    val stored = all.filter(element_at(col("metadata"), "crawl").isNull)
      .select("page_content").collect().map(_.getString(0)).toSeq
    val fetcher = LocalSiteFetcher(dir("base").toString)
    val expect = base.flatMap(pg => IngestPipeline.pageToChunks(pg.product,
      pg.docPath, fetcher.fetch(pg.docPath).get).map(_.pageContent))
    val ids = live.values.flatten.toSeq
    val docs = all.filter(col("id").isin(ids: _*))
    val vecs = docs.select("id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val rebuilt = repDir.resolve("check/text").toString
    TextIndex.build(docs, "id", "page_content", rebuilt, Pipeline.Buckets)
    val (q, a) = last
    val fromScratch = TextIndex.search(spark, rebuilt, q.terms, Pipeline.Pool)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    Vector(
      "ingest chunk count" -> (stored.length == expect.length),
      "ingest chunk digest" -> (Workload.digest(stored) == Workload.digest(expect)),
      "live ids unique" -> (vecs.size == ids.length),
      s"update = rebuild q${q.id}" -> (a.lexical == fromScratch),
      Checks.lexical(q, a, docs),
      Checks.dense(pl, pub, q, vecs)) ++
      Checks.batch(solo, batched)
  }
}
