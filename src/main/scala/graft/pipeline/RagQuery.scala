package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.functions.vectors
import graft.operators.Ranks
import graft.store.ParquetVectorStore

/** LLM completion contract for the RAG tail (Q5; reference:
  * ingestion-pipeline-website-local.py:178–200 prompts a vLLM endpoint).
  * Model inference is outside engine scope — the engine's job ends at
  * the assembled prompt; the default stub is deterministic for tests.
  */
trait LlmClient extends Serializable {
  def complete(prompt: String): String
}

/** Deterministic stub: echoes a digest of the prompt (tests pin the
  * prompt content through it without a model).
  */
object StubLlm extends LlmClient {
  override def complete(prompt: String): String =
    s"[stub:${prompt.length}] " + prompt.linesIterator.take(1).mkString
}

object RagQuery {

  /** Q3/E2: embed the query string, exact top-k over the index. The plan
    * is a single scan + TakeOrderedAndProject (per-partition heap); the
    * query vector is a broadcast literal.
    */
  def search(store: ParquetVectorStore, index: String, query: String,
      embedder: Embedder, k: Int = 4): DataFrame =
    store.read(index)
      .withColumn("score",
        vectors.cosineSimilarity(col("embedding"), lit(embedder.embed(query))))
      .orderBy(col("score").desc, col("page_content"))
      .limit(k)

  /** Hybrid retrieval over the index: dense kNN ranking fused with a
    * BM25 lexical ranking by reciprocal-rank fusion (1/(60+rank)) —
    * the d25 fusion shape over the store's chunks. Each side's top
    * `poolK` is a TakeOrderedAndProject; the rank windows run over
    * `poolK` rows, not the index. Chunks found by only one ranking keep
    * that one term (full outer + coalesce). Lexical tokenization is the
    * engine's standard lowercase-word split applied to `page_content`.
    */
  def hybridSearch(store: ParquetVectorStore, index: String, query: String,
      embedder: Embedder, k: Int = 4, poolK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Chunk identity = content, keyed by md5(content): chunks are
    // multi-KB, and the id flows through a dropDuplicates exchange, two
    // rank windows, a full-outer join and the final re-join — hashing
    // cuts every one of those shuffles ~100× narrower while content
    // itself rides along only where projected. Duplicate copies
    // (append-mode stores accumulate them) collapse to one row so RANKS
    // stay deterministic; ties still break on the raw content string.
    // Contract note: when duplicate-content copies carry different
    // metadata/headers, the surviving copy's metadata is unspecified —
    // content and rrf are the deterministic outputs.
    val chunks = store.read(index)
      .withColumn("_hs_id", md5(col("page_content")))
      .dropDuplicates("_hs_id")
    val vr = chunks
      .withColumn("vscore",
        vectors.cosineSimilarity(col("embedding"), lit(embedder.embed(query))))
      .orderBy(col("vscore").desc, col("_hs_id")).limit(poolK)
      .select(col("_hs_id").as("_hs_vid"), row_number()
        .over(Window.orderBy(col("vscore").desc, col("_hs_id")))
        .cast("long").as("vrank"))
    // A whitespace-only query has no lexical side: fuse against an empty
    // BM25 ranking (pure-dense result) instead of failing.
    val terms = query.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
    val brBase =
      if (terms.isEmpty) chunks.select(col("_hs_id"), lit(0.0).as("score")).limit(0)
      else graft.text.Bm25
        .score(chunks.withColumn("_hs_text", lower(col("page_content"))),
          "_hs_id", "_hs_text", terms)
    val br = brBase
      .orderBy(col("score").desc, col("_hs_id")).limit(poolK)
      .select(col("_hs_id").as("_hs_bid"), row_number()
        .over(Window.orderBy(col("score").desc, col("_hs_id")))
        .cast("long").as("brank"))
    val fused = vr.join(br, col("_hs_vid") === col("_hs_bid"), "full_outer")
      .select(coalesce(col("_hs_vid"), col("_hs_bid")).as("_hs_id"),
        Ranks.rrf(col("vrank"), col("brank")).as("rrf"))
      .orderBy(col("rrf").desc, col("_hs_id"))
      .limit(k)
    chunks.join(fused, "_hs_id")
      .select(col("page_content"), col("metadata"), col("headers"),
        col("embedding"), col("rrf"))
      .orderBy(col("rrf").desc, col("page_content"))
  }

  /** Q5 (WEB-LOCAL:178–200): retrieve → fold "Title: …\nContent: …" in
    * rank order → prompt → LLM. The fold is one 4-row aggregate; the
    * heavy lifting (the scan) happened in [[search]].
    */
  def ragQuery(store: ParquetVectorStore, index: String, question: String,
      embedder: Embedder, llm: LlmClient, k: Int = 5): String = {
    val context = search(store, index, question, embedder, k)
      .select(
        concat(lit("Title: "), coalesce(element_at(col("metadata"), "title"), lit("")),
          lit("\nContent: "), col("page_content")).as("piece"),
        col("score"), col("page_content"))
      .agg(array_join(
        transform(
          array_sort(collect_list(
            struct((-col("score")).as("ns"), col("page_content"), col("piece")))),
          x => x.getField("piece")), "\n\n").as("context"))
      .head().getString(0)
    llm.complete(s"Query: $question\n\nContext:\n$context")
  }
}
