package graft.pipeline

import java.nio.file.Files
import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession
import graft.embed.HashingEmbedder
import graft.store.ParquetVectorStore

/** Cross-JVM-visible probe for the BulkSink test (local master runs
  * executors in-process, so statics are shared).
  */
object BulkSinkProbe {
  val total = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  def record(n: Int): Unit = total.addAndGet(n)
  def closed(): Unit = closes.incrementAndGet()
}

/** End-to-end ingest → store → search → RAG over fixture pages (mirrors
  * the reference's manual validation, WEB-LOCAL
  * ingestion-pipeline-website-local.py:417–454).
  */
class PipelineSpec extends AnyFunSuite {
  import TestSession.spark

  private def fixture(name: String): String = {
    val src = Source.fromResource(name)
    try src.mkString finally src.close()
  }

  private val product = Product("red_hat_openshift_ai_self-managed",
    "Red Hat OpenShift AI Self-Managed", "2.14", "en-US")
  private val embedder = HashingEmbedder(64)

  private val landingUrl = "https://docs.example/landing"
  private val fetcher = FixtureFetcher(Map(
    landingUrl -> fixture("landing.html"),
    // filterDocLinks keeps the two /html/ links and rewrites them:
    "/en/documentation/red_hat_openshift_ai/2.14/html-single/installing" ->
      fixture("redhat-book.html"),
    "/en/documentation/red_hat_openshift_ai/2.14/html-single/serving" ->
      fixture("redhat-book.html")))

  test("index name derivation (P14)") {
    assert(product.indexName == "red_hat_openshift_ai_self_managed_en_us_2_14")
  }

  test("doc-link filter keeps /html/ links and rewrites to /html-single/") {
    assert(IngestPipeline.filterDocLinks(Seq(
      "/en/documentation/x/html/a", "/en/documentation/x/nohtml",
      "/other/html/b", "https://ext/html/c")) ==
      Seq("/en/documentation/x/html-single/a"))
  }

  test("store DDL: create is idempotent, list/delete work") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    assert(store.listIndexes().isEmpty)
    store.createIndex("idx_a")
    store.createIndex("idx_a") // idempotent
    store.createIndex("idx_b")
    assert(store.listIndexes() == Seq("idx_a", "idx_b"))
    assert(store.count("idx_a") == 0)
    store.deleteIndex("idx_a")
    assert(store.listIndexes() == Seq("idx_b"))
    intercept[IllegalArgumentException](store.createIndex("../escape"))
    // '_'-prefixed names would be creatable yet invisible to listIndexes
    // (hidden-dir exclusion) — rejected at create time instead.
    intercept[IllegalArgumentException](store.createIndex("_hidden"))
  }

  test("per-document deletes: tombstone-visible everywhere, compact reclaims, heal-on-next-compact") {
    import org.apache.spark.sql.functions.{col, element_at}
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    def chunk(src: String, i: Int) =
      (s"content $src/$i", Map("source" -> src), Map.empty[String, String],
        Seq.fill(4)(i.toFloat))
    val rows = (for (s <- Seq("a", "b", "c"); i <- 0 until 4)
      yield chunk(s"doc-$s", i))
      .toDF("page_content", "metadata", "headers", "embedding")
    store.append("idx", rows)
    store.append("idx", rows.filter(element_at(col("metadata"),
      "source") === "doc-c")) // doc-c has 8 chunks across 2 files
    assert(store.count("idx") == 16)

    // delete one document: every read face loses its chunks at once
    store.deleteDocuments("idx", Seq("doc-b"))
    assert(store.count("idx") == 12)
    assert(store.read("idx").select(element_at(col("metadata"), "source"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
      == Seq("doc-a", "doc-c"))
    assert(store.topRecords("idx", 20).collect()
      .forall(!_.getString(0).contains("doc-b/")))
    // a second delete accumulates; deleting an unknown source is a no-op
    store.deleteDocuments("idx", Seq("doc-a", "doc-zz"))
    assert(store.count("idx") == 8)

    // compact drops the rows physically and clears the tombstones
    val (before, after) = store.compactIndex("idx")
    assert(before >= 3 && after == 1,
      s"compact must fold files: $before -> $after")
    assert(store.count("idx") == 8)
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(root, "idx", "_tombstones")),
      "tombstones must clear with the swap")
    // with no tombstones the read plan has no join node at all
    assert(!store.read("idx").queryExecution.executedPlan.toString
      .contains("Join"), "tombstone-free reads must stay bare scans")

    // crash between the renames: dir absent, .old present — the next
    // compact heals (restores the aside copy) before doing anything
    Files.move(java.nio.file.Paths.get(root, "idx"),
      java.nio.file.Paths.get(root, ".old-idx"))
    assert(!store.exists("idx"))
    assert(store.listIndexes().isEmpty, "the aside copy must stay hidden")
    val (b2, a2) = store.compactIndex("idx")
    assert(b2 == 1 && a2 == 1 && store.count("idx") == 8,
      "heal must restore the aside copy, losing nothing")
  }

  test("full RHPD chain: ingest fixtures, search, rag query") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val lu = landingUrl // local copy: the flatMap closure must not capture the suite

    val counts = IngestPipeline.ingestProducts(spark, Seq(product),
      _ => lu, fetcher, embedder, store)
    assert(counts.map(_._1) == Seq(product.indexName))
    val n = counts.head._2
    assert(n > 0, "no chunks ingested")

    // Chunks carry enriched metadata (P12) and the prepend (P13).
    val rows = store.read(product.indexName).collect()
    assert(rows.length == n)
    rows.foreach { r =>
      val meta = r.getMap[String, String](1)
      assert(meta("product") == product.product)
      assert(meta("version") == "2.14")
      assert(meta("title") == "Installing FooProduct")
      assert(meta("source").startsWith("/en/documentation/"))
      assert(r.getString(0).startsWith("Section: Installing FooProduct"))
      assert(r.getString(0).contains("\n\nContent:\n"))
      assert(r.getSeq[Float](3).length == 64)
    }

    // Search: the code chunk should be found by its own tokens (the
    // query repeats the chunk's distinctive tokens so the 64-dim hashing
    // embedder's direction is dominated by them).
    val q = "kind: Pod metadata: x ```yaml echo hi print(1) $ oc get pods"
    val hit = RagQuery.search(store, product.indexName, q, embedder, k = 4)
      .collect()
    assert(hit.length == 4)
    assert(hit.head.getString(0).contains("```yaml"),
      s"expected yaml chunk first, got: ${hit.head.getString(0).take(80)}")

    // RAG: stub LLM sees a prompt assembled from top-k in rank order.
    val answer = RagQuery.ragQuery(store, product.indexName,
      q, embedder, StubLlm, k = 2)
    assert(answer.startsWith("[stub:"))
    assert(answer.contains(s"Query: $q"))

    // Re-ingest appends (the store is append-mode like add_documents).
    IngestPipeline.ingestProducts(spark, Seq(product), _ => lu,
      fetcher, embedder, store)
    assert(store.count(product.indexName) == 2 * n)
  }

  test("appendAll writes many indexes in one job and keeps them readable") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val n = 12
    val chunks = (0 until 60).map { i =>
      (s"idx_${i % n}", s"content $i", Map("k" -> s"$i"),
        Map.empty[String, String], Array.fill(4)(i.toFloat))
    }.toDF("index_name", "page_content", "metadata", "headers", "embedding")
    val written = store.appendAll(chunks)
    assert(written == (0 until n).map(i => s"idx_$i").sorted)
    assert(store.listIndexes() == written)
    (0 until n).foreach(i => assert(store.count(s"idx_$i") == 5))
    // append again: rows accumulate, no staging leftovers
    store.appendAll(chunks)
    assert(store.count("idx_0") == 10)
    assert(store.listIndexes() == written, "staging dirs must not leak")
  }

  test("appendAll rejects illegal index names BEFORE committing anything") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    def chunk(idx: String) =
      (idx, "content", Map.empty[String, String],
        Map.empty[String, String], Array(1.0f))
    // One good name + one bad (uppercase) — the move loop would have
    // committed idx_ok before failing on the bad one; pre-validation
    // must fail the whole job with NOTHING written.
    for (bad <- Seq("BadName", "bad-name", "_hidden", null)) {
      val chunks = Seq(chunk("idx_ok"), chunk(bad))
        .toDF("index_name", "page_content", "metadata", "headers", "embedding")
      val e = intercept[IllegalArgumentException](store.appendAll(chunks))
      assert(e.getMessage.contains("illegal index names"))
      assert(store.listIndexes().isEmpty,
        s"partial append leaked for bad name $bad: ${store.listIndexes()}")
    }
  }

  test("batched-embedder ingest produces the same store rows as per-row") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val rootB = Files.createTempDirectory("graft-store-b").toString
    val storeB = new ParquetVectorStore(spark, rootB)
    val lu = landingUrl

    val perRow = IngestPipeline.ingestProducts(spark, Seq(product),
      _ => lu, fetcher, embedder, store)
    val batched = IngestPipeline.ingestProductsBatched(spark, Seq(product),
      _ => lu, fetcher, () => graft.embed.HashingBatchEmbedder(64), storeB,
      batchSize = 8)
    assert(batched == perRow)

    def rows(s: ParquetVectorStore) = s.read(product.indexName).collect()
      .map(r => (r.getString(0), r.getSeq[Float](3).toSeq)).toSet
    assert(rows(storeB) == rows(store))
  }

  test("hybridSearch fuses lexical and dense rankings (RRF)") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val lu = landingUrl
    IngestPipeline.ingestProducts(spark, Seq(product), _ => lu,
      fetcher, embedder, store)

    val q = "kind: Pod metadata: x ```yaml echo hi print(1) $ oc get pods"
    val hits = RagQuery.hybridSearch(store, product.indexName, q,
      embedder, k = 4).collect()
    assert(hits.length == 4)
    // rrf scores are in (0, 2/61], descending, deterministic
    val rrf = hits.map(_.getDouble(4))
    assert(rrf.toSeq == rrf.sortBy(-_).toSeq)
    assert(rrf.forall(s => s > 0 && s <= 2.0 / 61.0 + 1e-12))
    // The yaml chunk dominates BOTH rankings for this query, so fusion
    // must keep it first — same winner as pure-dense search.
    assert(hits.head.getString(0).contains("```yaml"))
    // Determinism: a second run returns the identical ranking.
    val again = RagQuery.hybridSearch(store, product.indexName, q,
      embedder, k = 4).collect()
    assert(again.map(r => (r.getString(0), r.getDouble(4))).toSeq ==
      hits.map(r => (r.getString(0), r.getDouble(4))).toSeq)
  }

  test("hybridSearch tolerates empty indexes and whitespace queries") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    store.createIndex("empty_idx")
    assert(RagQuery.hybridSearch(store, "empty_idx", "anything",
      embedder, k = 3).isEmpty)

    val lu = landingUrl
    IngestPipeline.ingestProducts(spark, Seq(product), _ => lu,
      fetcher, embedder, store)
    // whitespace-only query: lexical side empty → pure-dense fusion,
    // not an exception
    val hits = RagQuery.hybridSearch(store, product.indexName, "   ",
      embedder, k = 2).collect()
    assert(hits.length == 2)
  }

  test("a store rooted at a file: URI lists, re-appends, compacts and drops its indexes") {
    import org.apache.spark.sql.functions.lit
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-uri").toString
    val store = new ParquetVectorStore(spark, "file:" + dir)
    def chunks(src: String, n: Int) = (0 until n).map(i =>
      (s"$src $i", Map("source" -> src), Map.empty[String, String],
        Seq.fill(4)(i.toFloat)))
      .toDF("page_content", "metadata", "headers", "embedding")
    store.append("docs", chunks("a", 3))
    store.append("docs", chunks("b", 2)) // the index exists: no re-create
    assert(store.exists("docs") && store.listIndexes() == Seq("docs"))
    assert(store.count("docs") == 5)
    val written = store.appendAll(
      chunks("c", 4).withColumn("index_name", lit("more")))
    assert(written == Seq("more") && store.listIndexes() == Seq("docs", "more"))
    assert(store.count("more") == 4)
    store.deleteDocuments("docs", Seq("a"))
    val (before, after) = store.compactIndex("docs")
    assert(before >= 2 && after == 1 && store.count("docs") == 2,
      s"compact: $before -> $after files")
    store.deleteIndex("more")
    assert(store.listIndexes() == Seq("docs"))
    assert(new java.io.File(dir).list().toSeq == Seq("docs"),
      "staging and compaction directories must not leak")
  }

  test("listIndexes never surfaces hidden/staging directories") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    store.createIndex("real_idx")
    Files.createDirectory(java.nio.file.Paths.get(root, ".staging-orphan"))
    Files.createDirectory(java.nio.file.Paths.get(root, "_committer_tmp"))
    assert(store.listIndexes() == Seq("real_idx"))
  }

  test("WEB chain: website ingest with 4-level headers and source stamp") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val url = "https://site.example/page"
    val n = IngestPipeline.ingestWebsite(spark, url, "web_idx",
      FixtureFetcher(Map(url -> fixture("website-body.html"))),
      embedder, store)
    assert(n > 0)
    val rows = store.read("web_idx").collect()
    rows.foreach { r =>
      assert(r.getMap[String, String](1)("source") == url) // P15
      assert(r.getString(0).startsWith("Section: Site Guide"))
    }
    // The #### Hardware section exists with the full 4-level trail.
    val hw = rows.filter(_.getMap[String, String](2).get("Header4").contains("Hardware"))
    assert(hw.nonEmpty)
    assert(hw.head.getString(0).startsWith(
      "Section: Site Guide / Getting Started / Prerequisites / Hardware"))
  }

  test("fetch error yields empty ingest, not failure (S4 semantics)") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val n = IngestPipeline.ingestWebsite(spark, "https://down.example",
      "empty_idx", FixtureFetcher(Map.empty), embedder, store)
    assert(n == 0)
    assert(store.listIndexes().contains("empty_idx")) // DDL still ran
  }

  test("catalog loads from JSON (S1 production form)") {
    val path = Files.createTempDirectory("graft-cat").toString + "/catalog"
    import spark.implicits._
    spark.createDataset(IngestPipeline.DefaultCatalog)
      .write.json(path)
    val back = IngestPipeline.loadCatalog(spark, path).collect().toSet
    assert(back == IngestPipeline.DefaultCatalog.toSet)
  }

  test("topRecords projects and limits (Q1)") {
    val root = Files.createTempDirectory("graft-store").toString
    val store = new ParquetVectorStore(spark, root)
    val url = "https://site.example/page"
    IngestPipeline.ingestWebsite(spark, url, "q1_idx",
      FixtureFetcher(Map(url -> fixture("website-body.html"))),
      embedder, store)
    val top = store.topRecords("q1_idx", 3).collect()
    assert(top.length == 3)
    assert(top.head.schema.fieldNames.toSeq == Seq("page_content", "metadata"))
  }

  test("BulkSink batches per partition through a fresh writer (E4 shape)") {
    import graft.store.{BulkSink, BulkWriter}
    import spark.implicits._
    val df = (1 to 25).toDF("n").repartition(2)
    BulkSink.write(df, batchSize = 10)(() => new BulkWriter {
      private var open = true
      override def writeBatch(rows: Seq[org.apache.spark.sql.Row]): Unit = {
        assert(open && rows.nonEmpty && rows.size <= 10)
        BulkSinkProbe.record(rows.size)
      }
      override def close(): Unit = { open = false; BulkSinkProbe.closed() }
    })
    assert(BulkSinkProbe.total.get() == 25)
    assert(BulkSinkProbe.closes.get() == 2) // one writer per partition
  }

  test("JSON checkpoint round-trips chunks (E5/S5)") {
    import spark.implicits._
    val df = Seq(("c1", Map("k" -> "v"))).toDF("page_content", "metadata")
    val path = Files.createTempDirectory("graft-ckpt").toString + "/chunks"
    IngestPipeline.writeCheckpoint(df, path)
    val back = IngestPipeline.readCheckpoint(spark, path, df.schema)
    assert(back.collect().map(_.getString(0)).toSeq == Seq("c1"))
  }
}
