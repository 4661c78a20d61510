package pipebench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The generator is the benchmark's only input source: a seed must
  * reproduce every input byte for byte, and another seed must not.
  */
class GenSpec extends AnyFunSuite {

  /** Every kind of input the workloads draw — a site, its re-crawl,
    * update batches and queries — written under a fresh directory.
    */
  private def inputs(seed: Long): Path = {
    val g = new Gen(seed)
    val root = Files.createTempDirectory("pipebench-gen")
    val site = g.site("base", 24)
    Gen.writeSite(root.resolve("site"), site)
    Gen.writeSite(root.resolve("recrawl"), g.recrawl("base", site, 0.25, 0.25))
    g.updates("update", site, 2, 2, 2).foreach(b =>
      Gen.writeSite(root.resolve(s"batch${b.id}"), b.fresh ++ b.recrawled))
    Files.write(root.resolve("queries.tsv"),
      g.queries("q", 20).map(q => s"${q.id}\t${q.text}\n").mkString.getBytes("UTF-8"))
    root
  }

  private def contents(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally s.close()
  }

  private def remove(root: Path): Unit = {
    val s = Files.walk(root)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  test("the same seed gives byte-identical inputs") {
    val (a, b) = (inputs(7), inputs(7))
    try {
      val ca = contents(a)
      assert(ca.size > 30)
      assert(ca == contents(b))
    } finally { remove(a); remove(b) }
  }

  test("a different seed gives different inputs") {
    val (a, b) = (inputs(7), inputs(8))
    try {
      val (ca, cb) = (contents(a), contents(b))
      assert(ca("queries.tsv") != cb("queries.tsv"))
      assert(ca.keySet.intersect(cb.keySet).exists(k => ca(k) != cb(k)))
    } finally { remove(a); remove(b) }
  }

  test("re-crawls re-emit pages exactly or with one small edit") {
    val g = new Gen(3)
    val site = g.site("s", 200)
    val again = g.recrawl("s", site, 0.25, 0.25)
    val bySlug = site.map(p => p.slug -> p).toMap
    val exact = again.count(p => bySlug(p.slug) == p)
    val edited = again.count(p => bySlug(p.slug) != p)
    assert(exact > 20 && edited > 20)
    again.filter(p => bySlug(p.slug) != p).foreach { p =>
      val o = bySlug(p.slug)
      val changedSentences = o.sections.zip(p.sections).map { case (x, y) =>
        x.paras.zip(y.paras).count { case (u, v) => u != v }
      }.sum
      assert((o.date != p.date) ^ (changedSentences == 1))
    }
  }

  test("product page counts are skewed and sum to the site size") {
    val c = Gen.productCounts(60)
    assert(c.sum == 60 && c == c.sorted.reverse && c.head >= 3 * c.last)
  }
}
