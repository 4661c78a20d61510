package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{CorpusPrep, IngestPipeline}
import graft.store.IvfIndex
import graft.text.{Bm25, Dedup}

/** What one measured pass produced. `opMs` are the latencies of the
  * workload's operation; `throughput` its work per second; `named` the
  * workload's own end-to-end figures under their pipeline names; `layer`
  * the per-layer counts only the workload knows (rows, pages, pairs).
  */
final case class Pass(opMs: Vector[Double], throughput: Double,
    named: Vector[(String, Double, String)], attempted: Int, failed: Int,
    wallMs: Double, bytesPerInputByte: Double, layer: Map[String, Double])

/** One workload: seeded inputs, a set-up that can be repeated, a timed
  * pass and a correctness gate that runs outside the timed region.
  */
abstract class Workload(val gen: Gen, val spark: SparkSession, work: Path) {
  /** Generate the inputs and build what the timed pass starts from, in
    * fresh directories, then warm the JVM on a disjoint input.
    */
  def setup(rep: Int, pl: Pipeline): Unit
  /** The timed pass over what the last set-up built; `pass` names the
    * directory its new outputs go to.
    */
  def measure(pl: Pipeline, pass: String): Pass
  /** (check, passed) pairs over what the last pass produced. */
  def check(pl: Pipeline): Vector[(String, Boolean)]
  /** Pages whose HTML the traced run replays through HtmlPrep and
    * Splitters on the driver.
    */
  def pages: Vector[Page]
  /** Where the last pass's store and indexes live, if it wrote any. */
  def published: Option[Published]
  /** Traced runs only, after the timed pass: calls the pass makes only
    * inside a fused library call, made on their own so they show as
    * layers. Returns per-layer counts.
    */
  def traceApart(pl: Pipeline): Map[String, Double] = Map.empty

  protected var repDir: Path = work
  protected def fresh(rep: Int): Path = {
    repDir = work.resolve(s"rep$rep")
    Files.createDirectories(repDir)
  }

  /** Run `ops`, timing each; an exception counts as a failed operation. */
  protected def timed[A](ops: Seq[A])(f: A => Unit): (Vector[Double], Int) = {
    var failed = 0
    val ms = ops.toVector.flatMap { a =>
      val t0 = System.nanoTime()
      try { f(a); Some((System.nanoTime() - t0) / 1e6) }
      catch {
        case e: Exception =>
          System.err.println(s"operation failed: $e")
          failed += 1
          None
      }
    }
    (ms, failed)
  }

  protected def clock[T](f: => T): (T, Double) = Workload.clock(f)
}

object Workload {
  val Names = Vector("pipeline", "dedup")

  /** `f`'s result and its wall time in ms. */
  def clock[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Operations per run, derived only from `--seconds` so the sample
    * count is fixed for a given run length.
    */
  def apply(name: String, gen: Gen, spark: SparkSession, work: Path,
      seconds: Int): Workload = name match {
    case "pipeline" => new PipelineWorkload(gen, spark, work,
      math.max(2, seconds / 6), math.max(1, seconds / 20))
    case "dedup" => new DedupWorkload(gen, spark, work, math.max(2, seconds / 5), 150)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it; the
    * maximum when there are too few samples for one.
    */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(if (s.length > 10) s.length - 11 else s.length - 1)
  }

  def tailName(n: Int): String =
    if (n > 10) f"p${100.0 * (n - 10) / n}%.1f of $n" else s"max of $n"

  def dirBytes(p: String): Long = files(p).map(Files.size).sum
  def files(p: String): Vector[Path] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Vector.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".")).toVector
      finally s.close()
    }
  }
  def indexBytes(p: Published): Long = dirBytes(p.store) + dirBytes(p.text) + dirBytes(p.ivf)

  def digest(texts: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    texts.sorted.foreach(t => md.update((t + "\u0000").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}

/** Correctness checks of the serving path. Each compares a result the
  * timed pass already produced with a reference computed here, so the
  * gate adds as little Spark work as it can.
  */
object Checks {
  import Pipeline._

  /** The lexical ranking equals Bm25.score over `docs` (the live
    * chunks): ids and scores bit for bit, the index's own contract.
    */
  def lexical(q: Query, got: Answer, docs: DataFrame): (String, Boolean) = {
    val expect = Bm25.score(docs.select("id", "page_content"), "id", "page_content", q.terms)
      .filter(col("score") > 0).orderBy(col("score").desc, col("id")).limit(Pool)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    s"lexical = Bm25.score q${q.id}" -> (got.lexical == expect)
  }

  /** IvfIndex.search probing every cell equals exact cosine top-k over
    * `vecs` (id → vector), computed here.
    */
  def dense(pl: Pipeline, p: Published, q: Query,
      vecs: Map[Long, Array[Float]]): (String, Boolean) = {
    val v = pl.queryEmbedder.embed(q.text)
    val expect = byScore(vecs.toSeq.map { case (id, x) => (id, cosine(x, v)) }).take(Pool)
    val got = IvfIndex.search(pl.spark, p.ivf, "id", "embedding", v, Pool, Cells)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    s"dense all cells = exact q${q.id}" -> (got == expect)
  }

  /** The engine's cosine, in the same operation order. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else math.max(-1.0, math.min(1.0, dot / (math.sqrt(na) * math.sqrt(nb))))
  }

  /** Per query, the batch faces' rankings and answer equal the solo
    * query's.
    */
  def batch(solo: Map[Long, Answer], batched: Map[Long, Answer]): Vector[(String, Boolean)] =
    solo.toVector.sortBy(_._1).flatMap { case (q, a) =>
      val b = batched.get(q)
      Vector(
        s"batch dense = solo q$q" -> b.exists(_.dense == a.dense),
        s"batch lexical = solo q$q" -> b.exists(_.lexical == a.lexical),
        s"batch answer = solo q$q" -> b.contains(a))
    }
}

/** Corpus preparation: each operation runs CorpusPrep.prepare with exact
  * duplicate groups over the chunk corpus of a re-crawled site and writes
  * the survivors.
  */
final class DedupWorkload(gen: Gen, spark: SparkSession, work: Path, ops: Int,
    pagesPerCrawl: Int) extends Workload(gen, spark, work) {
  val Cfg = CorpusPrep.Config(exactDupGroups = true)
  private var crawls = Vector.empty[Vector[Page]]
  private var corpora = Vector.empty[String]
  private var inputBytes = 0L
  private var lastPass = ""
  private def out(pass: String, i: Int): String =
    repDir.resolve(s"out/$pass/op$i").toString

  def pages: Vector[Page] = crawls.flatten
  def published: Option[Published] = None

  /** The ingest path's chunks (IngestPipeline.pageToChunks) of a crawl
    * plus its re-crawl: a quarter of the pages re-emitted exactly, a
    * quarter with one small edit.
    */
  private def corpus(stream: String, n: Int): (Vector[Page], Vector[(Long, String)]) = {
    val first = gen.site(stream, n)
    val pages = first ++ gen.recrawl(stream, first, 0.25, 0.25)
    val rows = pages.flatMap(pg => IngestPipeline.pageToChunks(pg.product,
      pg.docPath, Gen.pageHtml(pg)).map(_.pageContent))
    (pages, rows.zipWithIndex.map { case (t, i) => (i.toLong, t) })
  }

  private def write(rows: Vector[(Long, String)], path: String): Unit = {
    import spark.implicits._
    rows.toDF("id", "text").coalesce(1).write.parquet(path)
  }

  def setup(rep: Int, pl: Pipeline): Unit = {
    val d = fresh(rep)
    val built = (0 until ops).toVector.map(i => corpus(s"dedup$i", pagesPerCrawl))
    crawls = built.map(_._1)
    corpora = built.indices.toVector.map(i => d.resolve(s"in/corpus$i").toString)
    built.zip(corpora).foreach { case ((_, rows), path) => write(rows, path) }
    inputBytes = built.map(_._2.map(_._2.getBytes("UTF-8").length.toLong).sum).sum
    val warm = d.resolve("in/warm").toString
    write(corpus("dedup-warm", pagesPerCrawl)._2, warm)
    prepare(pl, warm, d.resolve("warm").toString, "warm")
  }

  private def prepare(pl: Pipeline, in: String, to: String, trace: String): Unit =
    pl.tr.span("pipeline.CorpusPrep", "prepare", trace) {
      CorpusPrep.prepare(spark.read.parquet(in), "id", "text", Cfg).write.parquet(to)
    }

  def measure(pl: Pipeline, pass: String): Pass = {
    lastPass = pass
    val outs = corpora.indices.map(i => out(pass, i))
    val (ms, wall) = clock {
      timed(corpora.indices)(i => prepare(pl, corpora(i), outs(i), s"corpus$i"))
    }
    val rowsIn = corpora.map(c => spark.read.parquet(c).count().toDouble)
    val rowsOut = outs.map(o => spark.read.parquet(o).count().toDouble)
    // Per pass, so one pass slowed by the host moves the figure no more
    // than it moves the median pass.
    val chunksPerS = rowsIn.zip(ms._1).map { case (r, t) => r / (t / 1000) }
    Pass(ms._1, Workload.median(chunksPerS),
      Vector(("dedup_s", Workload.median(ms._1) / 1000, "s"),
        ("dedup_tail_s", Workload.tail(ms._1) / 1000, "s")),
      corpora.length, ms._2, wall,
      outs.map(Workload.dirBytes).sum.toDouble / inputBytes,
      Map("dedup.rows_in" -> Workload.median(rowsIn),
        "dedup.rows_out" -> Workload.median(rowsOut)))
  }

  /** The two stages prepare fuses, near-dup pairs and their connected
    * components, per corpus. Returns the median pair count.
    */
  override def traceApart(pl: Pipeline): Map[String, Double] = {
    val pairs = corpora.indices.map { i =>
      val exact = exactStage(corpora(i))
      val pairs = pl.tr.span("text.Dedup", "nearDupPairs", s"corpus$i") {
        Dedup.nearDupPairs(exact, "id", "text", Cfg.nearDupJaccard).localCheckpoint()
      }
      pl.tr.span("text.Dedup", "dupComponents", s"corpus$i") {
        Dedup.dupComponents(pairs).count()
      }
      pairs.count().toDouble
    }
    Map("dedup.pairs" -> Workload.median(pairs))
  }

  /** What reaches prepare's near-dup stage. Every generated chunk is
    * prose of dozens of tokens, which prepare's quality gate keeps, so
    * this is the corpus after Dedup.dropExactDuplicates; `check` holds
    * prepare's survivors to it.
    */
  private def exactStage(in: String): DataFrame =
    Dedup.dropExactDuplicates(spark.read.parquet(in), "id", "text")

  /** On the last corpus: the exact stage keeps one row per distinct
    * text, and prepare's survivors equal a union-find over
    * Dedup.nearDupPairs of that stage, where every duplicate component
    * keeps only its smallest id.
    */
  def check(pl: Pipeline): Vector[(String, Boolean)] = {
    val i = corpora.length - 1
    val exact = exactStage(corpora(i))
    val ids = exact.select("id").collect().map(_.getLong(0))
    val pairs = Dedup.nearDupPairs(exact, "id", "text", Cfg.nearDupJaccard)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.filter(id => find(id) == id).toSet
    val got = spark.read.parquet(out(lastPass, i)).select("id").collect()
      .map(_.getLong(0)).toSet
    val texts = spark.read.parquet(corpora(i)).select("text").collect().map(_.getString(0))
    Vector(
      s"exact stage = distinct texts corpus$i" -> (ids.length == texts.distinct.length),
      s"dedup survivors corpus$i" -> (got == expect),
      s"dedup finds duplicates corpus$i" -> (ids.length < texts.length && pairs.nonEmpty))
  }
}
