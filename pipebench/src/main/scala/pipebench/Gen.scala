package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import graft.pipeline.{IngestPipeline, Product}

/** One documentation page of the synthetic site. A re-crawl keeps the
  * page's URL; an edited re-crawl changes `date` or one sentence.
  */
final case class Page(product: Product, slug: String, title: String,
    date: String, sections: Vector[Section]) {
  def docPath: String =
    s"/en/documentation/${product.product}/${product.version}/html-single/$slug"
  def linkPath: String = docPath.replace("/html-single/", "/html/")
}

final case class Section(heading: String, paras: Vector[String],
    code: String, terms: Vector[(String, String)],
    subs: Vector[(String, Vector[String])])

/** A query: 1–4 vocabulary terms. The hybrid query embeds `text` and
  * looks the terms up lexically.
  */
final case class Query(id: Long, terms: Vector[String]) {
  def text: String = terms.mkString(" ")
}

/** One update micro-batch: pages new to the site, and new versions of
  * pages already published (each replaces its predecessor).
  */
final case class UpdateBatch(id: Long, fresh: Vector[Page],
    recrawled: Vector[Page])

/** The benchmark's seeded input generator. Everything the workloads feed
  * the pipeline comes from here: documentation pages (rendered to HTML
  * with the structures `HtmlPrep` handles), re-crawl variants, query sets
  * and update batches. Each named stream draws from its own generator,
  * derived from (seed, name), so adding a stream never shifts another.
  * The vocabulary is fixed; only its use depends on the seed.
  */
final class Gen(seed: Long) {
  import Gen._

  def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** `n` pages spread over the catalog with skewed shares (1/2, 1/4,
    * 3/20, 1/10 of the pages), so the one-product-per-task ingest stage
    * has unequal tasks. Slugs carry `stream`, so two sites never share a
    * URL.
    */
  def site(stream: String, n: Int): Vector[Page] = {
    val r = rng(s"site/$stream")
    val counts = productCounts(n)
    Catalog.zip(counts).flatMap { case (p, c) =>
      (0 until c).map(i => page(r, p, s"$stream-$i"))
    }.toVector
  }

  /** A re-crawl of `pages`: a `exactShare` of them re-emitted unchanged,
    * an `editShare` with one small edit (a new date line, or one changed
    * sentence), the rest not seen again.
    */
  def recrawl(stream: String, pages: Vector[Page], exactShare: Double,
      editShare: Double): Vector[Page] = {
    val r = rng(s"recrawl/$stream")
    pages.flatMap { p =>
      val u = r.nextDouble()
      if (u < exactShare) Some(p)
      else if (u < exactShare + editShare) Some(edit(r, p))
      else None
    }
  }

  /** One small edit: half the time the date line, otherwise one
    * sentence of one paragraph.
    */
  def edit(r: SplittableRandom, p: Page): Page =
    if (r.nextBoolean()) p.copy(date = date(r))
    else {
      val si = r.nextInt(p.sections.length)
      val s = p.sections(si)
      val pi = r.nextInt(s.paras.length)
      val ss = s.paras(pi).split(SentenceSep).toVector
      val ss2 = ss.updated(r.nextInt(ss.length), sentence(r))
      p.copy(sections =
        p.sections.updated(si, s.copy(paras = s.paras.updated(pi, ss2.mkString(SentenceSep)))))
    }

  /** `n` distinct queries of 1–4 distinct terms, terms Zipf-weighted
    * over the vocabulary: most queries share the hot terms, some carry
    * rare ones. The term counts cycle 1, 2, 3, 4, so every seed's query
    * set has the same mix of lengths.
    */
  def queries(stream: String, n: Int): Vector[Query] = {
    val r = rng(s"queries/$stream")
    val seen = scala.collection.mutable.LinkedHashSet[Vector[String]]()
    while (seen.size < n)
      seen += Iterator.continually(word(r)).distinct.take(1 + seen.size % 4).toVector
    seen.toVector.zipWithIndex.map { case (t, i) => Query(i.toLong, t) }
  }

  /** `n` micro-batches over a published `base` site: each brings
    * `freshPer` new pages and edited re-crawls of `recrawlPer` pages
    * drawn from everything published so far (a page can be replaced
    * more than once).
    */
  def updates(stream: String, base: Vector[Page], n: Int, freshPer: Int,
      recrawlPer: Int): Vector[UpdateBatch] = {
    val r = rng(s"updates/$stream")
    var live = base
    (0 until n).toVector.map { b =>
      val fresh = site(s"$stream-b$b", freshPer)
      val picked = pickDistinct(r, live.length, recrawlPer).map(live)
      val recrawled = picked.map(p => edit(r, p))
      val replaced = recrawled.map(_.slug).toSet
      live = live.filterNot(p => replaced(p.slug)) ++ recrawled ++ fresh
      UpdateBatch(b.toLong, fresh, recrawled)
    }
  }

  private def pickDistinct(r: SplittableRandom, n: Int, k: Int): Vector[Int] = {
    val picked = scala.collection.mutable.LinkedHashSet[Int]()
    while (picked.size < math.min(k, n)) picked += r.nextInt(n)
    picked.toVector
  }

  private def page(r: SplittableRandom, p: Product, slug: String): Page =
    Page(p, slug, phrase(r, 3), date(r),
      Vector.fill(SectionsPerPage) {
        Section(phrase(r, 2),
          Vector.fill(2 + r.nextInt(2))(paragraph(r)),
          Vector.fill(2 + r.nextInt(3))(
            s"${word(r)}: ${word(r)}-${r.nextInt(100)}").mkString("\n"),
          Vector.fill(2)((word(r), sentence(r))),
          Vector.fill(1 + r.nextInt(2))((phrase(r, 2), Vector(paragraph(r)))))
      })

  private def date(r: SplittableRandom): String =
    f"2026-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"

  private def paragraph(r: SplittableRandom): String =
    Vector.fill(3 + r.nextInt(3))(sentence(r)).mkString(SentenceSep)

  /** 8–15 words, about a quarter of them stopwords. Words are joined by
    * single spaces with no punctuation, so a word is a whole token under
    * the engine's single-space tokenization.
    */
  private def sentence(r: SplittableRandom): String =
    Vector.fill(8 + r.nextInt(8)) {
      if (r.nextInt(4) == 0) Stopwords(r.nextInt(Stopwords.length)) else word(r)
    }.mkString(" ")

  private def phrase(r: SplittableRandom, n: Int): String =
    Vector.fill(n)(word(r)).mkString(" ")

  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble() * ZipfCdf.last
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    Vocabulary(math.min(if (i >= 0) i else -i - 1, Vocabulary.length - 1))
  }
}

object Gen {
  val Catalog: Vector[Product] = IngestPipeline.DefaultCatalog.toVector
  val SectionsPerPage = 3
  val SentenceSep = " then "
  private val Shares = Vector(0.5, 0.25, 0.15, 0.10)

  def productCounts(n: Int): Vector[Int] = {
    val c = Shares.map(s => math.max(1, math.round(n * s).toInt))
    c.updated(0, math.max(1, n - c.tail.sum))
  }

  val Stopwords: Vector[String] =
    Vector("the", "a", "to", "of", "and", "in", "is", "for", "with", "on")

  /** A fixed vocabulary: a few dozen domain words, then pseudo-words
    * built from syllables. Rank order is the Zipf order.
    */
  val Vocabulary: Vector[String] = {
    val domain = Vector("cluster", "node", "pod", "operator", "install",
      "configure", "update", "network", "storage", "volume", "route",
      "service", "secret", "token", "image", "registry", "policy", "role",
      "user", "project", "namespace", "deployment", "container", "runtime",
      "kernel", "package", "repository", "playbook", "inventory", "host",
      "certificate", "proxy", "ingress", "egress", "monitor", "alert",
      "metric", "log", "backup", "restore", "upgrade", "release", "version",
      "model", "notebook", "pipeline", "workbench", "serving", "accelerator",
      "gpu", "quota", "limit", "request", "label", "annotation", "selector")
    val on = Vector("b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s",
      "t", "v", "z")
    val nu = Vector("a", "e", "i", "o", "u")
    val syl = for (c <- on; v <- nu) yield c + v
    val r = new SplittableRandom(20261017L)
    val pseudo = scala.collection.mutable.LinkedHashSet[String]()
    while (pseudo.size < 1400)
      pseudo += Vector.fill(2 + r.nextInt(3))(syl(r.nextInt(syl.length))).mkString
    (domain ++ pseudo.toVector.filterNot(domain.toSet)).distinct
  }

  private val ZipfCdf: Array[Double] =
    Vocabulary.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray

  // ---- rendering ----------------------------------------------------

  def landingHtml(pages: Seq[Page]): String = {
    val links = pages.map(p =>
      s"""<h3 slot="headline"><a href="${p.linkPath}">${p.title}</a></h3>""")
    s"<html><body><main>\n${links.mkString("\n")}\n</main></body></html>\n"
  }

  /** A page in the shape of the product documentation the reference
    * crawls: title `h1`, a `book` body, the classes and anchors
    * `HtmlPrep.cleanHtml` strips, `pre.programlisting` code and
    * `dl`/`dt` term lists.
    */
  def pageHtml(p: Page): String = {
    val sb = new StringBuilder
    sb ++= s"<html><head><title>${p.title}</title></head><body>\n"
    sb ++= """<div class="book">""" + "\n"
    sb ++= s"<h1>${p.product.productFullName} ${p.title}</h1>\n"
    sb ++= s"""<div class="producttitle"><span>${p.product.productFullName}</span> ${p.product.version}</div>""" + "\n"
    sb ++= s"""<div class="abstract"><p>Abstract for ${p.title}</p></div>""" + "\n"
    sb ++= s"""<p>Last updated on ${p.date}</p>""" + "\n"
    sb ++= """<a href="#legal">Legal Notice</a>""" + "\n"
    p.sections.foreach { s =>
      sb ++= s"<section><h2>${s.heading}</h2>\n"
      s.paras.foreach(t => sb ++= s"<p>$t</p>\n")
      sb ++= s"""<pre class="programlisting language-yaml">${s.code}</pre>""" + "\n"
      sb ++= "<dl>" + s.terms.map { case (t, d) => s"<dt>$t</dt><dd>$d</dd>" }.mkString + "</dl>\n"
      s.subs.foreach { case (h, ps) =>
        sb ++= s"<div><h3>$h</h3>" + ps.map(t => s"<p>$t</p>").mkString + "</div>\n"
      }
      sb ++= "</section>\n<hr/>\n"
    }
    sb ++= "</div></body></html>\n"
    sb.toString
  }

  def landingUrl(p: Product): String = s"/landing/${p.product}"

  /** Write a site under `root`: one landing page per product that has
    * pages, one HTML file per page. Returns the HTML bytes written.
    */
  def writeSite(root: Path, pages: Seq[Page]): Long = {
    var bytes = 0L
    def put(url: String, html: String): Unit = {
      val f = root.resolve(url.stripPrefix("/") + ".html")
      Files.createDirectories(f.getParent)
      val b = html.getBytes(StandardCharsets.UTF_8)
      Files.write(f, b)
      bytes += b.length
    }
    pages.groupBy(_.product).foreach { case (p, ps) =>
      put(landingUrl(p), landingHtml(ps.sortBy(_.slug)))
    }
    pages.foreach(p => put(p.docPath, pageHtml(p)))
    bytes
  }
}
