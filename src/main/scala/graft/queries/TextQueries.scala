package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.embed.HashingEmbedder
import graft.functions.vectors
import graft.operators.Ranks
import graft.text.{Pii, Splitters, TextFunctions => TF}

/** Text-processing surface over the `documents` table: chunking (T1/T2
  * declarative forms), exact + near dedup, token/quality analytics, text
  * kNN (E2 contract) and the RAG context fold (Q5) — the operators a
  * training-data pipeline runs over a 100 TB text corpus.
  *
  * Scale shapes:
  *   - chunking/analytics are row-local projections (no shuffle, full
  *     codegen — no UDFs anywhere in this module);
  *   - exact dedup shuffles once on the md5 fingerprint;
  *   - near-dup LSH shuffles on (band, minhash) — candidate pairs are
  *     O(sum of bucket sizes squared), never O(n²);
  *   - the RAG fold is a top-k (TakeOrderedAndProject) + a single-group
  *     aggregate of 4 rows.
  *
  * Oracle parity: all hashes go through the md5-based
  * [[graft.text.TextFunctions.hash32]] contract; integer sums stay
  * integers; doubles come only from final divisions of exact ints or from
  * the shared cosine expression.
  */
object TextQueries {

  private val ChunkSize = 200
  private val Stride = 150 // 50-char overlap between adjacent windows
  private val RcChunk = 100 // d12 recursive-split params (> max word len,
  private val RcOverlap = 30 // so the merge stays at the word level)
  private val Stopwords = Seq("the", "a")
  private val BatchDocs = 64 // d02/d15 docs-per-markdown-batch row bound
  private val embedder = HashingEmbedder(64)
  private val RagQueryText = "big data table scan query"
  private val QueryTerms = RagQueryText.split(" ").toSeq
  private val HybridTopK = 50
  private val PackBudget = 300 // d26 tokens per training sequence
  private val LangBudget = 70 // d38 docs kept per language
  private val PpsBudget = 10 // d39 selection points per source
  private val EditBand = 112 // d54 banded-DP threshold; > 0.2 × max doc len
  private val LmFloor = -3.43 // d40 avg-logprob flag threshold (~5th pct)
  private val LmVocabCap = 16 // d41 serving vocab (bites: corpus vocab 31)
  private val MixBudget = 25 // d42 PPS token-selection points per language
  private val NgramKmvK = 256 // d43 sketch size (bites: >3k distinct/lang)
  private val LineMaxDf = 2 // d44 boilerplate df gate (max df 6 at sf0.01)
  private val LineTokens = 8 // d44 derived-line width (tokens per line)
  private val ExportShards = 16 // d45 shard count (≈31 docs/shard at sf0.01)
  private val CurricK = 128 // d47 threshold sample (bites: 500 docs at sf0.01)
  private val CmW = 16 // d49 count-min width (< |vocab| = 31: collisions bite)
  private val PackGroups = 4 // d26 parallel packing groups
  private val SourceBudget = 8 // d67 docs admitted per (source, lang)
  private val TopTierN = 64 // d102 impact tier depth (bites: dfs ≈ 390/3.9k)
  /** d104's fixed serving batch: overlapping term sets so the shared
    * pruned read genuinely amortizes (terms "big"/"table"/"data" serve
    * multiple queries from one candidate materialization).
    */
  private val QueryBatch: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("big", "data"),
    2L -> Seq("table", "scan"),
    3L -> Seq("query", "big", "table"),
    4L -> Seq("data"))
  /** d114's audit workload: QueryBatch (every term hot — all_exact
    * false) extended with the corpus's one RARE term "dup" (df 25 at
    * sf0.01, under the 64-deep tier → exact), a rare+hot mix (the hot
    * term drags max_df over the cut), and an absent term (df 0,
    * trivially held whole) — so both flag branches and the
    * missing-term case all occur at the oracle SFs. At sf0.1 "dup"
    * crosses the cut (df 250): the flag genuinely tracks corpus
    * growth, which is exactly why the audit exists.
    */
  private val CoverageBatch: Seq[(Long, Seq[String])] = QueryBatch ++ Seq(
    5L -> Seq("dup"),
    6L -> Seq("dup", "table"),
    7L -> Seq("zz", "dup"))
  private val WinnowK = 4 // d86 shingle width (tokens per k-gram)
  private val WinnowW = 5 // d86 window width (hashes per min-window)
  private val WinnowMaxDf = 2 // d86 posting cap (bites: 29 fps at df 3)
  private val MinColloc = 25 // d94 bigram count floor (bites at both SFs)

  /** Session-lifetime scratch for the query faces that build on-disk
    * indexes (d100/d101/d102): one base directory per JVM, deleted
    * recursively at exit, a fresh subdirectory per invocation — the
    * bench-honest build-included timing stays, while repeated sweeps
    * and CI runs can no longer accumulate full index copies in /tmp
    * (ADVICE r17).
    */
  private lazy val scratchBase: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-qscratch")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles()
        if (cs != null) cs.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }
    p
  }

  private def scratchDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(scratchBase, tag).toString

  /** d19's and d71's one body: [[graft.text.Dedup.dupComponents]] over
    * d06's candidate pairs, ordered by id. Both keys stay in the map and
    * each recomputes it — the 245-query contract times every key on its
    * own, with no caching across runs.
    */
  private def dupComponentLabels(s: SparkSession, d: String): DataFrame =
    graft.text.Dedup.dupComponents(
      graft.text.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.0))
      .orderBy(col("id"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T2 declarative form: fixed-stride substring windows (chunk i covers
    // [i*stride, i*stride+size)). Projection-only: no UDF, no shuffle.
    "d01_char_chunks" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Splitters.fixedWindowChunkCol(col("text"), ChunkSize, Stride))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          col("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // T1 round-trip: build markdown docs per source ("## d<id>" section
    // per document), split them with the real MarkdownHeaderTextSplitter
    // semantics, and recover exactly the original (source, id, text) rows.
    // Docs are grouped into FIXED-SIZE batches (row_number over the
    // source, BatchDocs docs per markdown string): the collected row is
    // bounded at BatchDocs × doc size no matter how popular a source is —
    // an unbatched per-source collect_list would grow a single row with
    // corpus size and OOM a task at 100×. Sections are independent, so
    // batching preserves the round-trip output exactly.
    "d02_header_sections" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"))
        .withColumn("batch",
          ((row_number().over(w) - 1) / lit(BatchDocs)).cast("int"))
        .groupBy(col("source"), col("batch"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => concat(lit("## d"), x.getField("doc_id"), lit("\n"),
              x.getField("text"))), "\n").as("md"))
        .select(col("source"), col("md"))
        .as[(String, String)]
        .flatMap { case (src, md) =>
          Splitters.markdownHeaderSplit(md, Splitters.Headers3.take(2))
            .map(sec => (src, sec.headers.getOrElse("Header2", ""), sec.content))
        }
        .toDF("source", "header2", "content")
        .orderBy(col("source"), col("header2"))
    },

    // Per-language corpus stats: tokens via single split, exact int sums.
    "d03_token_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("n_chars"),
          size(TF.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          sum(col("n_tok")).as("total_tokens"),
          (sum(col("n_tok")).cast("double") / count(lit(1))).as("avg_tokens"))
        .orderBy(col("lang"))
    },

    // Exact dedup: one shuffle on the md5 fingerprint; keeper = min id.
    "d04_exact_dedup" -> { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("fingerprint"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_doc_id"))
        .orderBy(col("fingerprint"))
    },

    // MinHash signatures over word 3-shingles (4 hash-family members).
    // toks/sh are materialized projection steps, NOT inlined expressions:
    // interpreted higher-order lambdas re-evaluate every non-attribute
    // they reference per element, so an inlined split(text) would
    // re-tokenize the document hundreds of times per row (measured 10×
    // slowdown). Attribute references keep each stage one-pass.
    "d05_minhash_signature" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"), TF.shingles(col("toks"), 3).as("sh"))
        .select(col("doc_id"),
          graft.functions.text.minhashSlices(col("sh"), 4).as("mhs"))
        .select(col("doc_id") +: (0 until 4).map(b =>
          element_at(col("mhs"), b + 1).as(s"mh$b")): _*)
        .orderBy(col("doc_id"))
    },

    // Near-dup detection, LSH-banded: candidates = pairs sharing any
    // minhash band (shuffle on (band, mh), never all-pairs), then exact
    // shingle-set Jaccard on candidates only. Cost shape (r21): ONE
    // materialized tokenize+shingle pass — the signature projection
    // (one md5 per shingle; all 4 bands slice one digest), both sides
    // of the band self-join, and both rescore joins read the
    // checkpointed distinct-shingle frame (see Dedup.nearDupPairs for
    // the measured trade), instead of carrying full arrays through the
    // band shuffle.
    // (Implementation lives in graft.text.Dedup.nearDupPairs — banded
    // minhash candidates + single-evaluation exact Jaccard; threshold 0
    // keeps every candidate pair so the oracle checks the full band
    // semantics.)
    "d06_near_dup_text" -> { (s, d) =>
      graft.text.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.0)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Exact duplicate grouping: connected components over the d06
    // candidate-pair edge list (Dedup.dupComponents: star-contraction
    // rounds while the edge set is large, a driver-side union-find
    // finish once it is small — at sf0.01 the whole graph is small).
    // The oracle re-derives the same labels with a recursive CTE
    // (transitive closure, then min over reachable nodes) — the one
    // operator that was previously pinned only by unit tests.
    "d19_dup_components" -> dupComponentLabels _,

    // WEB-variant section pipeline (P13/WEB + T1/Headers4): per-document
    // 4-level markdown run through the real markdownHeaderSplit with the
    // WEB header set, then prependHeaderWeb (Header1 is the trail base —
    // the §2.8 RHPD/WEB difference). Row-local flatMap, zero shuffle.
    "d20_web_sections" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .as[(Long, String, String, String)]
        .flatMap { case (id, src, lang, text) =>
          val md = s"# $src\n## d$id\n### $lang\n#### body\n$text"
          Splitters.markdownHeaderSplit(md, Splitters.Headers4).map { sec =>
            val chunk = graft.pipeline.IngestPipeline.prependHeaderWeb(
              graft.pipeline.Chunk(sec.content, Map.empty, sec.headers))
            (id, sec.headers.getOrElse("Header4", ""), chunk.pageContent)
          }
        }
        .toDF("doc_id", "header4", "page_content")
        .orderBy(col("doc_id"), col("header4"))
    },

    // Language-ID under the oracle — as a REPRODUCIBILITY check, not
    // accuracy (documents.lang is not ground truth for this corpus; see
    // LangId's scaladoc): DuckDB mirrors the same stopword-profile
    // scoring with the same tie-breaks, so the row pins that the scorer
    // is the deterministic function it claims to be. Scan-projection
    // shape: one tokenization + set lookups per row.
    "d22_lang_id" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.text.LangId.langIdCol(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    },

    // The COMPOSED corpus-prep pass under the oracle: quality gate →
    // exact dedup → greedy near-dup drop → LangId stamp → deterministic
    // split, exactly as CorpusPrep.prepare wires them (default config).
    // The oracle re-derives every stage in SQL from the same shared CTE
    // builders the per-stage oracles use, so the composition itself —
    // stage order and inter-stage contracts — is what this row checks.
    "d23_corpus_prep" -> { (s, d) =>
      graft.pipeline.CorpusPrep.prepare(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("detected_lang"), col("split"))
        .orderBy(col("doc_id"))
    },

    // Sequence packing: greedy fixed-token-budget bin-packing within
    // hash groups (packing is sequential, so groups are the parallel
    // unit — one shuffle, then a pure per-group fold). The oracle
    // re-derives the exact assignment with a per-group linear recursion.
    "d26_pack_greedy" -> { (s, d) =>
      graft.text.Packing.packGreedy(Tables.documents(s, d),
        "doc_id", "text", budget = PackBudget, groups = PackGroups)
        .orderBy(col("doc_id"))
    },

    // BM25 lexical scoring for the fixed RAG query — the lexical half of
    // hybrid retrieval. One bounded aggregate (N, avgdl, per-term df) +
    // one scoring projection; no shuffle, no inverted index for a
    // constant query.
    "d24_bm25" -> { (s, d) =>
      graft.text.Bm25.score(Tables.documents(s, d), "doc_id", "text",
        QueryTerms)
        .orderBy(col("doc_id"))
    },

    // BM25 THROUGH THE ON-DISK INVERTED INDEX
    // ([[graft.store.TextIndex]]) — d24's serving face: the scan path
    // scores a constant query against a corpus you were reading
    // anyway; at 100 TB a query must NOT read the corpus, so postings
    // live bucketed by hash(term) and partitioned by bucket, a q-term
    // query reads at most q partitions (the IvfIndex cell-prune
    // contract applied to terms), and each posting row carries the doc
    // length so scoring joins nothing corpus-scale. Scores are BIT
    // IDENTICAL to the scan path (term-ordered addition chain, not a
    // row-order SUM — TextIndexSpec pins it); the oracle is d24's
    // formula restricted to candidate docs and top-10. Bench-honest:
    // the timing includes the index BUILD each run — the one-time cost
    // the serving path amortizes in production.
    "d100_bm25_index" -> { (s, d) =>
      val p = scratchDir("graft-textindex-q")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.search(s, p, QueryTerms, k = 10)
    },

    // BM25 THROUGH THE IMPACT-ORDERED SERVING TIER — d100's hot-term
    // defense ([[graft.store.TextIndex.buildTopTier]]): every query
    // term here sits in ~78% of the corpus, so the EXACT index's
    // posting read is data-scale even after bucket pruning — the
    // stopword problem. The tier keeps only the top-64 postings per
    // term by the BM25 tf-part impact (rank-monotone per term; Anh &
    // Moffat's impact ordering) with the TRUE df stored alongside, so
    // idf stays exact and the serving read is ≤ topN rows per term —
    // a CONFIGURED bound, not a data-dependent one; that is the 100-TB
    // serving shape. The oracle replays the tier cut declaratively
    // (per-term ROW_NUMBER by the identical IEEE impact expression,
    // doc_id tiebreak) and scores candidates with the same
    // frozen-true-df formula — under-recall vs d100 is the DOCUMENTED
    // contract (TextIndexSpec holds the witness), and the oracle
    // proves the cut lands on exactly the same postings. Build
    // included in the timing, as d100.
    "d102_bm25_top_tier" -> { (s, d) =>
      val p = scratchDir("graft-ti-tier")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.buildTopTier(s, p, topN = TopTierN)
      graft.store.TextIndex.searchTop(s, p, QueryTerms, k = 10)
    },

    // TIER WORKLOAD-COVERAGE audit — [[graft.store.TextIndex
    // .buildTopTier]]'s exactness contract quantified against a
    // SERVING WORKLOAD (d105 profiles the corpus side — which terms
    // are hot; this is the query side — what fraction of a workload
    // the tier serves EXACTLY): per batch query, the distinct-term
    // count, the max df over its terms, and the all_exact flag
    // (max df ≤ topN → the tier holds every relevant posting list
    // whole, so searchTop ≡ search bit for bit for that query — the
    // TextIndexSpec theorem, applied per workload row). This is THE
    // number an operator tunes topN against: raise it until the
    // workload's exact fraction meets the SLA, spend the configured
    // read bound on nothing more. Shape: one pruned posting read
    // (bucket partition pruning to the workload's terms), a
    // |terms|-bounded df aggregate, a broadcast join onto the
    // (query, term) frame (workload-sized — a serving batch is
    // codebook-sized by nature), one query-keyed aggregate. Terms
    // absent from the corpus have df 0 (trivially exact). The oracle
    // re-derives every term's df with d104's list_contains counts and
    // replays the per-query max/flag.
    "d114_tier_coverage" -> { (s, d) =>
      import s.implicits._
      val p = scratchDir("graft-ti-cov")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      val allTerms = CoverageBatch.flatMap(_._2).distinct
      // The modulus is part of the layout: read it back from the index's
      // meta (the phraseSearch/searchTop rule) so the pruning predicate
      // can never diverge from the nBuckets the build above was given.
      val nb = s.read.parquet(s"$p/meta").head().getInt(0)
      val buckets = allTerms
        .map(t => graft.store.TextIndex.hash32Of(t) % nb).distinct
      val dfs = s.read.parquet(s"$p/postings")
        .filter(col("bucket").isin(buckets: _*))
        .filter(col("term").isin(allTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val qt = CoverageBatch.flatMap { case (qid, ts) =>
        ts.distinct.map(t => (qid, t))
      }.toDF("query_id", "q_term")
      qt.join(broadcast(dfs), col("q_term") === col("term"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_terms"),
          max(coalesce(col("df"), lit(0L))).as("max_df"))
        .withColumn("all_exact", col("max_df") <= TopTierN)
        .orderBy(col("query_id"))
    },

    // INDEX TERM-HOTNESS PROFILE — the observability face the impact
    // tier's topN is tuned against (v18's cell-balance profile,
    // applied to the lexical index): the top-16 terms by df with
    // corpus share and home bucket, ranked as the MERGEABLE tagged
    // top-k ([[graft.operators.Sketches.TopKByScoreTagged]], df DESC /
    // term ASC) — the vocabulary never sorts and never windows; k rows
    // per task cross the wire. Reads ONLY the index layout (postings +
    // the 1-row stats pair), never the corpus: a production profile
    // must audit the serving layout itself, and at 100 TB the corpus
    // scan is precisely what the index exists to avoid. share_micro =
    // df·1e6 div n_docs, exact integer; bucket recomputed row-locally
    // from the layout contract (hash32 % nBuckets, pinned ≡ the stored
    // partitioning by TextIndexSpec). Build included in the timing, as
    // the d100 family.
    "d105_term_hotness" -> { (s, d) =>
      val p = scratchDir("graft-ti-hotness")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      val nDocs = s.read.parquet(s"$p/stats")
        .agg(coalesce(sum(col("n_docs")), lit(0L))).head().getLong(0)
      val topk = udaf(new graft.operators.Sketches.TopKByScoreTagged(16),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, String, java.lang.Long)]())
      s.read.parquet(s"$p/postings")
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .agg(topk(col("df"), col("term"),
          TF.hash32(col("term")) % 16).as("top"))
        .select(posexplode(col("top")).as(Seq("r0", "p")))
        .select((col("r0") + 1).cast("long").as("rank"),
          col("p._2").as("term"), col("p._1").as("df"),
          col("p._3").as("bucket"),
          expr(s"p._1 * 1000000 div $nDocs").as("share_micro"))
        .orderBy(col("rank"))
    },

    // BUCKET-BALANCE profile — the third index-observability face
    // (d105 names the hot TERMS, d110 the positional BYTES; this one
    // audits the LAYOUT ITSELF): per bucket the posting-row count,
    // distinct-term count, and integer micro-share of all posting
    // rows — v18's IVF cell-balance profile applied to the text
    // index's hash(term) % nBuckets partitioning. This is the face
    // that tells an operator when nBuckets is mis-sized: a bucket
    // whose share is many × 1/nBuckets means one partition of every
    // q-term read carries a disproportionate scan (hash skew from a
    // stopword cluster), the signal to raise the modulus at the next
    // compact or move the hot terms to the impact tier. One layout
    // scan, one bucket-keyed aggregate (nBuckets groups — CATALOG
    // sized, so the exchange is trivially bounded at any corpus
    // scale); the corpus is never read. The oracle re-derives every
    // (term, doc) posting row and the same md5-derived bucket. Build
    // included in the timing, as the d100 family.
    "d113_bucket_balance" -> { (s, d) =>
      val p = scratchDir("graft-ti-balance")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      val total = s.read.parquet(s"$p/postings").count()
      s.read.parquet(s"$p/postings")
        .groupBy(col("bucket").cast("long").as("bucket"))
        .agg(count(lit(1)).as("posting_rows"),
          countDistinct(col("term")).as("n_terms"))
        .withColumn("share_micro",
          expr(s"posting_rows * 1000000 div $total"))
        .orderBy(col("bucket"))
    },

    // EXACT PHRASE SEARCH through the index's POSITIONAL tier
    // ([[graft.store.TextIndex.phraseSearch]]) — the lookup
    // bag-of-words postings cannot answer: docs where "hash" and
    // "join" occur CONSECUTIVELY, with the occurrence count
    // (overlaps counted; TextIndexSpec pins the repeated-token case).
    // Serving shape: the phrase's distinct terms prune the read to ≤ 2
    // bucket partitions of the positional layout (positions ride the
    // posting row, doc-bounded arrays), one doc-keyed aggregate builds
    // each candidate's term→positions map, and adjacency is a
    // row-local array fold of codegen'd builtins — the corpus is never
    // read, no window, no join. At 100 TB the read is Σ df(term) rows
    // over the phrase's terms — [[search]]'s bound for the same terms
    // — and the one exchange is the candidate groupBy. The oracle
    // re-derives occurrences from the corpus by sliding a 2-token
    // window over the token list. Build included in the timing, as
    // the d100 family.
    "d106_phrase_search" -> { (s, d) =>
      val p = scratchDir("graft-ti-phrase")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.buildPositions(Tables.documents(s, d),
        "doc_id", "text", p)
      graft.store.TextIndex.phraseSearch(s, p, Seq("hash", "join"))
    },

    // POSITIONAL-TIER COST PROFILE — d105's observability face for the
    // layout the phrase opt-in roughly DOUBLES ([[graft.store.TextIndex
    // .buildPositions]]'s documented price): per term the tier stores
    // one row per containing doc (df) and one position per occurrence
    // (Σ tf), so the top-16 terms by stored positions ARE the bytes
    // budget — the profile an operator reads before enabling the tier
    // on a corpus, and the one that names which stopwords make a
    // phrase query pay [[phraseSearch]]'s rarest-term gate. Ranked by
    // the MERGEABLE tagged top-k (positions DESC / term ASC, df riding
    // as the payload): the vocabulary never sorts and never windows, k
    // rows per task cross the wire. Reads ONLY the index layout
    // (postings_pos + the 1-row stats pair), never the corpus — at
    // 100 TB auditing the serving layout through a corpus scan would
    // defeat the index. cost_micro = Σ positions · 1e6 div total
    // tokens (the stats pair's sum_dl — Σ over terms of Σ tf IS the
    // token count), exact integers. Build included in the timing, as
    // the d100 family.
    "d110_pos_cost_profile" -> { (s, d) =>
      val p = scratchDir("graft-ti-poscost")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.buildPositions(Tables.documents(s, d),
        "doc_id", "text", p)
      val totalPos = s.read.parquet(s"$p/stats")
        .agg(coalesce(sum(col("sum_dl")), lit(0L))).head().getLong(0)
      val topk = udaf(new graft.operators.Sketches.TopKByScoreTagged(16),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, String, java.lang.Long)]())
      s.read.parquet(s"$p/postings_pos")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          sum(size(col("positions"))).cast("long").as("pos_total"))
        .agg(topk(col("pos_total"), col("term"), col("df")).as("top"))
        .select(posexplode(col("top")).as(Seq("r0", "p")))
        .select((col("r0") + 1).cast("long").as("rank"),
          col("p._2").as("term"), col("p._1").as("pos_total"),
          col("p._3").as("df"),
          expr(s"p._1 * 1000000 div $totalPos").as("cost_micro"))
        .orderBy(col("rank"))
    },

    // INCREMENTAL COMPONENT MAINTENANCE under the oracle — d19's
    // clusters reached through [[graft.text.Dedup
    // .dupComponentsIncremental]]: the candidate pairs split into a
    // "yesterday" base (both endpoints < 250) and a "today" delta,
    // the base labels computed once, and the delta FOLDED into them
    // via the quotient identity (labels' star edges reconnect exactly
    // the old components, so components over |labels| + |delta|
    // edges equal components over the full history — which is never
    // re-read). The oracle computes ONLY the full pass (d19's
    // recursive closure over every pair); hash-equality proves the
    // maintenance identity, the e14/q36 pattern. At 100 TB this is
    // the difference between per-batch work proportional to the batch
    // and recomputing a trillion-edge closure on every ingest.
    "d109_incremental_cc" -> { (s, d) =>
      val pairs = graft.text.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.0)
        .select(col("a_id"), col("b_id"))
      val pinned = new graft.operators.LineageCheckpoint(s, None)(pairs)
      val cut = 250L
      val base = pinned.filter(col("a_id") < cut && col("b_id") < cut)
      val delta = pinned.filter(col("a_id") >= cut || col("b_id") >= cut)
      val baseLabels = graft.text.Dedup.dupComponents(base)
      graft.text.Dedup.dupComponentsIncremental(baseLabels, delta)
        .orderBy(col("id"))
    },

    // LABEL STORE under the oracle — d109's quotient fold run
    // CONTINUOUSLY through the ON-DISK store ([[graft.text.Dedup
    // .labelStoreBatch]], the streaming ingest shape d109's docstring
    // gestures at): the candidate pairs split into two ingest batches
    // by endpoint range (d109's cut), each folded into
    // `<scratch>/labels` under the write-aside → rename swap + batchId
    // marker protocol, with batch 0 RE-DELIVERED mid-stream
    // (foreachBatch is at-least-once; the marker skips it wholesale —
    // near-zero cost; deeper fold-of-fold/crash interleavings are
    // StreamingSpec's crash matrix), and the final labeling read back
    // with [[graft.text.Dedup.labelStore]]. The oracle computes ONLY
    // the full recursive closure over every pair (d109's SQL verbatim):
    // hash-equality proves the continuously-maintained store lands
    // exactly the one-shot batch answer — per batch the store pays
    // |labels| + |delta| edges through the O(log n) contraction and the
    // pair history is never stored or replayed, which at 100 TB is the
    // difference between ingest-proportional work and a trillion-edge
    // closure per batch. At sf0.001 batch 1 is EMPTY (60 docs, all ids
    // < 250): the marker-only empty-batch path is exercised there,
    // both folds at sf0.01+.
    "d112_label_store_cc" -> { (s, d) =>
      val p = scratchDir("graft-cc-store")
      val pairs = graft.text.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.0)
        .select(col("a_id"), col("b_id"))
      val pinned = new graft.operators.LineageCheckpoint(s, None)(pairs)
      val cut = 250L
      val b0 = pinned.filter(col("a_id") < cut && col("b_id") < cut)
      val b1 = pinned.filter(col("a_id") >= cut || col("b_id") >= cut)
      graft.text.Dedup.labelStoreBatch(b0, p, batchId = 0L)
      graft.text.Dedup.labelStoreBatch(b0, p, batchId = 0L) // replay: no-op
      graft.text.Dedup.labelStoreBatch(b1, p, batchId = 1L)
      graft.text.Dedup.labelStore(s, p)
        .select(col("id"), col("component"))
        .orderBy(col("id"))
    },

    // K-ANONYMITY AUDIT with one GENERALIZATION step — the privacy
    // face next to PII redaction (d34/d53 scrub direct identifiers;
    // this measures QUASI-identifier re-identification risk): every
    // (lang, source, length-bucket) equivalence class is k-anonymous
    // iff ≥ k docs share it (Sweeney, IJUFKS 2002). Classes failing
    // k = 5 at the fine bucket (n_chars div 500) re-generalize one
    // lattice level up (length suppressed, the Mondrian-style cut:
    // LeFevre et al., ICDE 2006) and are re-audited; classes still
    // under k there are the suppression set a release would drop.
    // Shape: two catalog-sized grouped counts plus one broadcast
    // semi-join of the failing class keys back onto the scan — the
    // fine class frame is checkpointed (two consumers, the d86 rule);
    // nothing is ever row-keyed driver state and the equivalence
    // classes ARE the output entities. All four outcome branches
    // occur at both SFs (37/90 fine, 5/68 coarse at sf0.01).
    "d108_k_anonymity" -> { (s, d) =>
      val kMin = 5L
      val docs = Tables.documents(s, d).select(col("lang"), col("source"),
        expr("n_chars div 500").as("len_bucket"))
      val fine = new graft.operators.LineageCheckpoint(s, None)(
        docs.groupBy(col("lang"), col("source"), col("len_bucket"))
          .agg(count(lit(1)).as("class_size")))
      val keep = fine.filter(col("class_size") >= kMin)
        .select(lit("fine").as("level"), col("lang"), col("source"),
          col("len_bucket"), col("class_size"), lit(true).as("meets_k"))
      val failing = fine.filter(col("class_size") < kMin)
        .select(col("lang"), col("source"), col("len_bucket"))
      val coarse = docs
        .join(broadcast(failing), Seq("lang", "source", "len_bucket"),
          "left_semi")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("class_size"))
        .select(lit("coarse").as("level"), col("lang"), col("source"),
          lit(-1L).as("len_bucket"), col("class_size"),
          (col("class_size") >= kMin).as("meets_k"))
      keep.unionAll(coarse)
        .orderBy(col("level"), col("lang"), col("source"),
          col("len_bucket"))
    },

    // SORTED-NEIGHBORHOOD blocking ([[graft.text.Dedup
    // .sortedNeighborhoodPairs]]) — the THIRD blocking family next to
    // LSH bands (d05) and inverted-index prefixes (d92): candidates =
    // record pairs within 4 consecutive positions of the corpus
    // sorted by a 20-char text-prefix key, each flagged with whether
    // the blocking key actually ties (the precision witness an SN
    // deployment tunes window/key against). NO unpartitioned window:
    // positions come from Ranks.globalRowNumber's two-pass rank over
    // the (id, key) projection, and neighbors meet by RANK-SPACE
    // bucketing (buckets ⌊r/B⌋ and ⌊r/B⌋+1, B = window−1) — each pair
    // counted once in the larger rank's home bucket, each bucket
    // ≤ 2B rows, PERFECTLY balanced under any key skew (a hot key
    // spreads by position — the failure that melts key-equality
    // blocking). Candidate volume is exactly n·(w−1) − C(w,2):
    // linear in n, the SN guarantee. The oracle replays the window
    // rank + rank-distance join declaratively.
    "d107_sorted_neighborhood" -> { (s, d) =>
      graft.text.Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
          "doc_id", substring(col("text"), 1, 20), window = 4)
        .select(col("a_id"), col("b_id"), col("rank_dist"),
          (col("a_key") === col("b_key")).as("same_key"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // BATCH BM25 SERVING — d100's index answering a QUERY BATCH from
    // one pruned posting read ([[graft.store.TextIndex.searchBatch]]):
    // the union of the batch's terms prunes the scan, one probe returns
    // the candidate rows, and each query scores its own terms' rows on
    // the driver through the solo-search fixed-order chain, so every
    // row is bit-identical to running that query alone (TextIndexSpec
    // pins the equality; the oracle re-derives each query's scores
    // independently and the union matches). At 100 TB this is the
    // serving amortization that matters: Q queries sharing hot terms
    // pay ONE bucket read, not Q. Build included in the timing, as
    // d100.
    "d104_bm25_batch" -> { (s, d) =>
      val p = scratchDir("graft-ti-batchq")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.searchBatch(s, p, QueryBatch, k = 5)
    },

    // BATCH SERVING OFF THE IMPACT TIER — d104's one-read batch
    // amortization composed with d102's configured read bound
    // ([[graft.store.TextIndex.searchTopBatch]]): the whole batch is
    // answered from ≤ topN tier rows per DISTINCT term across the
    // batch, so Q queries sharing hot terms pay one read whose size is
    // CONFIGURED, not data-dependent — the shape a serving fleet runs
    // at 100 TB (both bounds at once: tier-bounded candidates,
    // batch-amortized read, each query scored on the driver while the
    // rows fit, one aggregate + one rank window past that). idf uses
    // the tier's stored TRUE df, so only candidate recall is bounded;
    // per query the rows are bit-identical to solo
    // [[graft.store.TextIndex.searchTop]] (TextIndexSpec pins it). The
    // oracle replays each term's tier cut declaratively (d102's
    // ROW_NUMBER by the identical IEEE impact) and each query's
    // candidates as the union of ITS terms' cuts, scored by the same
    // frozen-true-df chain. Build included in the timing, as d100.
    "d111_tier_batch" -> { (s, d) =>
      val p = scratchDir("graft-ti-tierb")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", p, nBuckets = 16)
      graft.store.TextIndex.buildTopTier(s, p, topN = TopTierN)
      graft.store.TextIndex.searchTopBatch(s, p, QueryBatch, k = 5)
    },

    // HYBRID RECALL FLOOR — v16's recall-evaluation pattern applied to
    // the RRF path: the question a RAG deployment tunes on is not "is
    // each arm approximate" but "what does the FUSED top-10 lose when
    // the dense arm prunes cells". Served fusion = nprobe-2-of-8
    // multi-probe dense arm ([[graft.operators.Similarity
    // .ivfMultiProbeSearch]] — real pruning, unlike d101's
    // deterministically-exhaustive serving face) + the exact lexical
    // arm; reference fusion = d25's brute-force dense arm + the SAME
    // lexical arm (checkpointed — two fusions must not replay the
    // corpus BM25 aggregate twice). Output: the reference fusion's
    // top-10, each row flagged with whether the served fusion kept it
    // — the per-rank recall witness. Both dense arms score through the
    // identical cosine expression, so the only divergence is the cell
    // prune; the oracle replays both fusions declaratively (v16's
    // assignment/probe-rank CTEs + d25's fusion). 100-TB: every
    // window here ranks a ≤ K-row frame; the corpus pays one
    // assignment pass, one pruned probe, one BM25 aggregate.
    "d103_hybrid_recall" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = embedder.embed(RagQueryText)
      val e = Tables.embeddings(s, d)
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = graft.operators.Similarity.ivfAssign(e, "vec_id",
        "embedding", seeds, "seed_id", "seed_vec")
        .select(col("vec_id"), col("embedding"), col("cell"))
      val dense2 = graft.operators.Similarity.ivfMultiProbeSearch(assigned,
        "vec_id", "embedding", seeds, "seed_id", "seed_vec", q,
        nprobe = 2, k = HybridTopK)
        .select(col("vec_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("vec_id")))
          .cast("long").as("vrank"))
      val denseX = e
        .withColumn("vscore",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("vscore").desc, col("vec_id")).limit(HybridTopK)
        .select(col("vec_id"), row_number()
          .over(Window.orderBy(col("vscore").desc, col("vec_id")))
          .cast("long").as("vrank"))
      val br = new graft.operators.LineageCheckpoint(s, None)(
        graft.text.Bm25.score(Tables.documents(s, d), "doc_id", "text",
            QueryTerms)
          .orderBy(col("score").desc, col("doc_id")).limit(HybridTopK)
          .select(col("doc_id"), row_number()
            .over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long").as("brank")))
      def fuse(vr: DataFrame) =
        vr.join(br, col("vec_id") === col("doc_id"), "full_outer")
          .select(coalesce(col("vec_id"), col("doc_id")).as("doc_id"),
            Ranks.rrf(col("vrank"), col("brank")).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id")).limit(10)
      val served = fuse(dense2)
        .select(col("doc_id").as("s_doc"), lit(1L).as("hit"))
      fuse(denseX)
        .select(col("doc_id"), col("rrf"), row_number()
          .over(Window.orderBy(col("rrf").desc, col("doc_id")))
          .cast("long").as("exact_rank"))
        .join(served, col("doc_id") === col("s_doc"), "left")
        .select(col("exact_rank"), col("doc_id"), col("rrf"),
          coalesce(col("hit"), lit(0L)).as("in_served"))
        .orderBy(col("exact_rank"))
    },

    // Hybrid retrieval: dense kNN ranking + BM25 ranking fused with
    // reciprocal-rank fusion (1/(60+rank), the standard RRF constant)
    // over the top-K of each side. Each side's top-K is a
    // TakeOrderedAndProject (per-partition heap); the rank window then
    // runs over K rows, not the corpus — the scale-safe fusion shape.
    // Docs present in only one list contribute that one term (full
    // outer + coalesce).
    "d25_hybrid_rrf" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = embedder.embed(RagQueryText)
      val vr = Tables.embeddings(s, d)
        .withColumn("vscore",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("vscore").desc, col("vec_id")).limit(HybridTopK)
        .select(col("vec_id"), row_number()
          .over(Window.orderBy(col("vscore").desc, col("vec_id")))
          .cast("long").as("vrank"))
      val br = graft.text.Bm25
        .score(Tables.documents(s, d), "doc_id", "text", QueryTerms)
        .orderBy(col("score").desc, col("doc_id")).limit(HybridTopK)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("brank"))
      vr.join(br, col("vec_id") === col("doc_id"), "full_outer")
        .select(coalesce(col("vec_id"), col("doc_id")).as("doc_id"),
          Ranks.rrf(col("vrank"), col("brank")).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // HYBRID RETRIEVAL OVER THE ON-DISK SERVING STACK — d25's fusion
    // with BOTH arms served from persisted indexes: dense top-K from
    // the cell-partitioned [[graft.store.IvfIndex]], lexical top-K
    // from the bucket-partitioned [[graft.store.TextIndex]], RRF-fused
    // exactly as d25. This is the query a production RAG system runs
    // against stores built by earlier jobs — no arm touches the corpus
    // tables at search time. nProbe covers every cell here so the
    // dense arm is deterministically the exhaustive rank (cell PRUNING
    // is v05/v16's pinned property; what d101 pins is the composed
    // serving stack end to end); the lexical arm serves candidates
    // only, the index contract. Bench-honest: timings include both
    // index builds, the cost production amortizes.
    "d101_hybrid_index" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val q = embedder.embed(RagQueryText)
      val e = Tables.embeddings(s, d)
      val vp = scratchDir("graft-ivf-hybrid")
      val seeds = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      graft.store.IvfIndex.build(e, "vec_id", "embedding",
        seeds, "seed_id", "seed_vec", vp)
      val vr = graft.store.IvfIndex
        .search(s, vp, "vec_id", "embedding", q, k = HybridTopK, nProbe = 8)
        .select(col("vec_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("vec_id")))
          .cast("long").as("vrank"))
      val tp = scratchDir("graft-ti-hybrid")
      graft.store.TextIndex.build(Tables.documents(s, d),
        "doc_id", "text", tp, nBuckets = 16)
      val br = graft.store.TextIndex
        .search(s, tp, QueryTerms, k = HybridTopK)
        .select(col("doc_id"), row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id")))
          .cast("long").as("brank"))
      vr.join(br, col("vec_id") === col("doc_id"), "full_outer")
        .select(coalesce(col("vec_id"), col("doc_id")).as("doc_id"),
          Ranks.rrf(col("vrank"), col("brank")).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },

    // Multimodal decode under the oracle: document text re-encoded as an
    // opaque binary column, pushed through the real mapPartitions decode
    // path (one codec per partition). The stub codec derives every field
    // from md5(bytes), so DuckDB reproduces them from hex slices — the
    // Spark-side plumbing (binary schema, partition-lifecycle, struct
    // output) is what this row pins.
    "d21_media_decode" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
        .as[(Long, Array[Byte])]
      graft.multimodal.Multimodal
        .decodeAll(media, () => graft.multimodal.StubCodec, featureDim = 8)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.nFrames").as("n_frames"),
          col("meta.sizeBytes").as("size_bytes"))
        .orderBy(col("media_id"))
    },

    // KEYFRAME SAMPLING FAN-OUT ([[graft.multimodal.Multimodal
    // .sampleFramesAll]]) — d21's sibling over the frame axis: each
    // medium yields up to 3 evenly-spaced frames (i·total/n source
    // indices, the keyframe extractor's spacing), 1 → N row-local like
    // the splitters, so the fan-out runs map-side at input parallelism
    // with NO shuffle — at 100 TB of video the only exchange is
    // whatever the consumer does next, never the sampling. The stub
    // codec's frames are md5(bytes ++ ":frame:i") digests, so the
    // oracle re-derives frame count, spacing, and every frame hash in
    // SQL — the plumbing (binary column in, (media, frame) rows out)
    // is what the pin proves; a real decoder slots in behind the
    // codec trait without touching the plan.
    "d88_frame_sample" -> { (s, d) =>
      import s.implicits._
      val media = Tables.documents(s, d)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("bytes"))
        .as[(Long, Array[Byte])]
      graft.multimodal.Multimodal
        .sampleFramesAll(media, () => graft.multimodal.StubCodec, n = 3)
        .select(col("media_id"), col("frame_idx"),
          lower(hex(col("frame"))).as("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))
    },

    // E2 contract: embed a query *string* (deterministic hashing
    // embedder), kNN over stored vectors, project document attributes.
    "d07_knn_text_query" -> { (s, d) =>
      val q = embedder.embed(RagQueryText)
      Tables.embeddings(s, d)
        .join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
        .withColumn("score",
          vectors.cosineSimilarity(col("embedding"), lit(q)))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(5)
        .select(col("doc_id"), col("lang"), col("score"))
    },

    // Quality scoring: token count, stopword ratio, mean token length.
    "d08_quality_score" -> { (s, d) =>
      val toks = TF.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          TF.stopwordCount(toks, Stopwords).as("n_stop"),
          TF.tokenCharSum(toks).as("sum_tok_chars"))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"),
          (col("sum_tok_chars").cast("double") / col("n_tokens"))
            .as("avg_token_chars"))
        .orderBy(col("doc_id"))
    },

    // T2 with REAL LangChain merge semantics (not the fixed-window
    // stand-in): the actual recursiveCharSplit runs as a typed flatMap
    // (1 row → N rows, row-local, zero shuffle); the oracle re-derives
    // the greedy-merge-with-overlap boundaries via a recursive CTE over
    // word prefix sums (exact on single-spaced text, where separator
    // descent reduces to the word-level merge).
    "d12_recursive_chunks" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          Splitters.recursiveCharSplit(text, RcChunk, RcOverlap)
            .zipWithIndex.map { case (c, i) => (id, i.toLong, c) }
        }
        .toDF("doc_id", "chunk_idx", "chunk")
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Chunk-level dedup-rank: the keep-first-copy pattern (row_number
    // over a fingerprint window) on the d01 chunking — duplicated
    // chunks (near-identical documents share whole windows) rank > 1
    // and would be dropped by a `rank = 1` filter; the query surfaces
    // every chunk with its rank + copy count so the oracle checks the
    // full window semantics, not just survivors.
    "d11_chunk_dedup_rank" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("fp")).orderBy(col("doc_id"), col("chunk_idx"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(Splitters.fixedWindowChunkCol(col("text"), ChunkSize, Stride))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("fp"))
        .withColumn("copy_rank", row_number().over(w).cast("long"))
        .withColumn("n_copies", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
        .filter(col("n_copies") > 1)
        .select(col("doc_id"), col("chunk_idx"), col("fp"),
          col("copy_rank"), col("n_copies"))
        .orderBy(col("fp"), col("copy_rank"))
    },

    // T1 with NESTED headers: per-source markdown "# <source>" +
    // "## d<id>" sections run through the real markdownHeaderSplit;
    // every section must carry BOTH header levels' metadata. Round-trip
    // oracle like d02, but exercising the header stack, not just one
    // level. Same fixed-size batching as d02 (each batch repeats the
    // "# <source>" line, so Header1 metadata is identical): collected
    // rows stay bounded at any corpus size.
    "d15_nested_headers" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("text"))
        .withColumn("batch",
          ((row_number().over(w) - 1) / lit(BatchDocs)).cast("int"))
        .groupBy(col("source"), col("batch"))
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("text")))),
            x => concat(lit("## d"), x.getField("doc_id"), lit("\n"),
              x.getField("text"))), "\n").as("body"))
        .select(concat(lit("# "), col("source"), lit("\n"), col("body")).as("md"))
        .as[String]
        .flatMap { md =>
          Splitters.markdownHeaderSplit(md, Splitters.Headers3).map(sec =>
            (sec.headers.getOrElse("Header1", ""),
              sec.headers.getOrElse("Header2", ""), sec.content))
        }
        .toDF("header1", "header2", "content")
        .orderBy(col("header1"), col("header2"))
    },

    // SimHash document fingerprints: per token-hash bit, +1/-1 balance;
    // bit b of the fingerprint is set iff the balance is positive. One
    // shuffle (the doc aggregate); the 32 bit-balances are plain
    // conditional sums in the aggregate, no bit-level explode.
    // (Implementation: graft.text.Dedup.simhashFingerprints.)
    "d13_simhash" -> { (s, d) =>
      graft.text.Dedup.simhashFingerprints(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("simhash"))
        .orderBy(col("doc_id"))
    },

    // SimHash near-dup pairs: Hamming <= 3 via the 4-band pigeonhole
    // (a pair within distance 3 must agree on one 8-bit band exactly) —
    // the BITWISE member of the dedup trio (shingle-Jaccard d06,
    // vector-LSH v03, bit-radius d27). Shuffles on the band key, never
    // all-pairs.
    "d27_simhash_neardup" -> { (s, d) =>
      graft.text.Dedup.simhashNearDupPairs(
        Tables.documents(s, d), "doc_id", "text", maxHamming = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Deterministic stratified sampling — the corpus-REBALANCING op of a
    // training-data pipeline: downsample the over-represented language
    // (en → 30%) while keeping the rest whole, reproducibly. Selection
    // is a pure hash predicate on the stable id (no random(): same rows
    // on every run, engine, partitioning — a row-local filter in the
    // scan stage, no shuffle, no sampling pass), so mixture ratios are
    // auditable and shards rebuild byte-identical.
    // d17 is the sibling SPLIT op (one global 80/10/10); this one applies
    // a per-stratum rate.
    "d28_stratified_sample" -> { (s, d) =>
      val bucket = TF.hash32(col("doc_id").cast("string")) % 100
      Tables.documents(s, d)
        .filter(bucket <
          when(col("lang") === "en", 30).otherwise(100))
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },

    // Epoch weighting — the UPSAMPLING half of corpus rebalancing (d28
    // is the downsampling half): low-resource strata repeat 2–3×, the
    // dominant one stays at 1, so the training mixture hits its target
    // ratios by repetition ("k epochs over that source"). A row-local
    // explode(sequence(1, k)) 1→N multiplier — no shuffle; the epoch
    // column is what shard writers then salt/shuffle on so repeats of a
    // doc land in different shards.
    "d29_epoch_weights" -> { (s, d) =>
      val k = when(col("lang") === "en", 1)
        .when(col("lang") === "zh", 3).otherwise(2)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), k)).as("epoch"))
        .select(col("doc_id"), col("lang"), col("epoch").cast("long"))
        .orderBy(col("doc_id"), col("epoch"))
    },

    // Train/eval DECONTAMINATION — the n-gram overlap sweep every LLM
    // training pipeline runs before training: flag any training doc
    // sharing an 8-gram with the held-out eval set (here: doc_id % 50,
    // standing in for a benchmark suite). Scale shape: the eval
    // fingerprint set is benchmark-sized → BROADCAST; the corpus side is
    // a row-local shingle+md5 projection probed against it, so the only
    // shuffle is the per-doc count of the (rare) matched rows — the
    // 100-TB corpus never exchanges. n-grams are keyed by md5, not the
    // raw 8-gram string, to keep the probe row narrow.
    "d30_decontaminate" -> { (s, d) =>
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TF.shingles(TF.tokens(col("text")), 8)).as("sh8"))
      val evalFp = sh.filter(col("doc_id") % 50 === 0)
        .select(md5(col("sh8")).as("fp")).distinct()
      sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), md5(col("sh8")).as("fp"))
        .join(broadcast(evalFp), "fp")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("fp")).as("n_shared"))
        .orderBy(col("doc_id"))
    },

    // Adjacent-pair counts — the inner loop of BPE/merge-rule tokenizer
    // TRAINING at corpus scale (d18 is the unigram vocab pass; this
    // ranks the merge candidates). A 2-gram shingle IS the adjacent
    // pair, so the scan side reuses the codegen'd shingle projection;
    // one term-keyed partial+final count, top candidates by frequency.
    "d31_bpe_pairs" -> { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TF.shingles(TF.tokens(col("text")), 2)).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(30)
    },

    // PII redaction ([[graft.text.Pii]]): scrub emails / IPv4s / phone
    // numbers to typed tokens plus per-class audit counts. The synthetic
    // corpus contains no PII, so the query plants deterministic
    // doc_id-derived PII (an email, a dotted-quad, a phone, a second
    // email on even ids) into each row FIRST — both engines build the
    // same augmented string from table data, so the oracle genuinely
    // exercises regex-dialect parity (Java regex vs RE2) on 500 distinct
    // inputs rather than hashing a no-op. Row-local chained
    // regexp_replace projections: no UDF, no shuffle, rides the scan at
    // any scale. Realistic-PII goldens + idempotence are pinned by
    // PiiSpec.
    "d34_pii_redact" -> { (s, d) =>
      val aug = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        (col("doc_id") % 100).cast("string"),
        when(col("doc_id") % 2 === 0, lit(" and admin@test.org"))
          .otherwise(lit("")),
        lit(" tel 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          Pii.countMatches(col("aug"), Pii.EmailRe).as("n_email"),
          Pii.countMatches(col("aug"), Pii.Ipv4Re).as("n_ip"),
          Pii.countMatches(col("aug"), Pii.PhoneRe).as("n_phone"),
          Pii.scrub(col("aug")).as("clean"))
        .orderBy(col("doc_id"))
    },

    // Cross-document span dedup (the C4-style pass): fixed 200-char
    // non-overlapping windows, GLOBAL first-occurrence keep (first =
    // smallest (doc_id, pos) over the whole corpus, via one row_number
    // keyed by the window's md5), then each document is reassembled from
    // its surviving windows. Documents whose every window was seen
    // earlier vanish entirely. d04 dedups whole docs and d11 ranks
    // repeated chunks; this one REWRITES the corpus around repeated
    // spans. Scale shape: one shuffle keyed by window hash (exchange
    // carries doc_id/pos plus the window text needed for reassembly),
    // one shuffle back on doc_id — no all-pairs step anywhere.
    "d33_global_chunk_dedup" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val win = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(
            Splitters.fixedWindowChunkCol(col("text"), ChunkSize, ChunkSize))
            .as(Seq("pos", "chunk")))
      win
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("chunk")))
            .orderBy(col("doc_id"), col("pos"))))
        .filter(col("rn") === 1)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("pos"), col("chunk")))),
              x => x.getField("chunk")),
            "").as("text_kept"))
        .orderBy(col("doc_id"))
    },

    // EXACT n-gram Jaccard near-dup ([[graft.text.Dedup.ngramJaccardPairs]])
    // — the complete-by-construction counterpart to d06's banded-LSH
    // pipeline: an inverted index on the 3-shingles, a posting-list
    // self-join whose per-pair count IS the intersection size, set sizes
    // joined back, threshold on the exact Jaccard. No signature step, no
    // candidate-miss risk; the scale lever is the documented df cap
    // (uncapped here so the oracle checks the complete contract — d06's
    // LSH output must be a subset of this at the same threshold, pinned
    // by DedupSpec).
    "d35_ngram_jaccard" -> { (s, d) =>
      graft.text.Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // The df-CAPPED variant of d35 under the oracle: shingles appearing
    // in more than maxDf documents are dropped from the posting list
    // before the self-join (the production lever that bounds candidate
    // volume Σ df(s)² at 100 TB). Capping removes shared shingles from
    // intersections only — set sizes stay full — so capped Jaccard is a
    // LOWER bound on the true score and this row's pairs are a strict
    // subset of d35's at the same threshold (21 vs 25 at sf0.01; the
    // oracle re-derives the same capped posting list, pinning the
    // lower-bound-only contract end-to-end, not just in DedupSpec).
    // maxDf = 3 because the sf0.01 corpus's df histogram tops out at 7:
    // the cap must BITE at test scale to pin anything.
    "d36_ngram_jaccard_capped" -> { (s, d) =>
      graft.text.Dedup.ngramJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.5,
        maxDf = 3)
        .orderBy(col("a_id"), col("b_id"))
    },

    // NEAR-dup decontamination ([[graft.text.Dedup.crossNearDupPairs]]):
    // d30 catches eval rows leaked VERBATIM (exact 8-gram overlap); this
    // catches leaks WITH EDITS — train docs sharing a minhash band
    // bucket with an eval doc (same % 50 split as d30), rescored with
    // exact 3-shingle Jaccard, folded to one decision record per
    // flagged train doc: candidate count, best-matching eval doc
    // (highest Jaccard, smallest eval id on ties via max over a
    // (jaccard, -id) struct — partial-aggregating map-side, no per-doc
    // sort), and the contamination verdict at 0.5.
    "d37_neardup_decontaminate" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.Dedup.crossNearDupPairs(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", threshold = 0.0)
        .groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_candidates"),
          max(struct(col("jaccard").as("j"), (-col("b_id")).as("nb")))
            .as("best"))
        .select(col("doc_id"), col("n_candidates"),
          col("best.j").as("best_jaccard"),
          (-col("best.nb")).as("best_eval_id"),
          (col("best.j") >= 0.5).as("contaminated"))
        .orderBy(col("doc_id"))
    },

    // Language-budgeted corpus sampling: cap every language at a fixed
    // document budget, picking each language's keepers DETERMINISTICALLY
    // as the budget smallest md5-hash docs — an unbiased, reproducible
    // subsample (hash order is independent of storage order). Composed
    // from the mergeable top-k aggregate (score = −hash), so the 100-TB
    // shape is q24's: map-side partial top-k per language, only
    // budget-many rows per task cross the exchange, NO per-language
    // window sort of the whole corpus. Groups under budget keep every
    // doc (en is capped at sf0.01, fr is not — both paths exercised).
    "d38_language_budget" -> { (s, d) =>
      val topk = udaf(new graft.operators.Sketches.TopKByScore(LangBudget),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Double, java.lang.Long)]())
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          TF.hash32(col("doc_id").cast("string")).as("h"))
        .groupBy(col("lang"))
        .agg(topk((-col("h")).cast("double"), col("doc_id")).as("pick"))
        .select(col("lang"), posexplode(col("pick")).as(Seq("r0", "p")))
        .select(col("lang"), (col("r0") + 1).cast("long").as("rank"),
          col("p._2").as("doc_id"))
        .orderBy(col("lang"), col("rank"))
    },

    // Systematic PPS sampling ([[graft.operators.Sampling]]): per
    // source, sample documents PROPORTIONAL TO TOKEN COUNT with a fixed
    // per-source budget — the weighted complement of d28's uniform
    // stratified rates and d38's uniform budget (mixing to a TOKEN
    // budget, not a doc budget). No RNG: equally-spaced selection
    // points over the cumulative-weight axis, all-integer decision —
    // the oracle replays the identical cumsum and floor-division.
    "d39_pps_sample" -> { (s, d) =>
      graft.operators.Sampling.ppsSystematic(
        Tables.documents(s, d)
          .select(col("source"), col("doc_id"),
            size(TF.tokens(col("text"))).cast("long").as("weight")),
        groupCols = Seq("source"), idCol = "doc_id",
        weightCol = "weight", budget = PpsBudget)
        .orderBy(col("source"), col("doc_id"))
    },

    // Unigram LM quality gate ([[graft.text.UnigramLm]]): mean per-token
    // log-likelihood under the corpus's own add-one unigram model, with
    // the low tail flagged — the perplexity-style filter d08/d32's
    // surface stats cannot express. Per-term log-probs are 1e-6
    // floor-quantized BIGINTs so the per-doc sums are exact integer
    // arithmetic (order-independent; the d24 ln-rounding rule applied
    // per term instead of per score).
    "d40_unigram_logprob" -> { (s, d) =>
      graft.text.UnigramLm.scoreDocs(Tables.documents(s, d), "doc_id", "text")
        .withColumn("flagged", col("avg_lp") < lit(LmFloor))
        .orderBy(col("doc_id"))
    },

    // d40's serving shape at 100 TB: the same add-one model capped to
    // the top-V terms (V=16 < vocab 31, so the cap BITES — every doc
    // has OOV tokens priced at the unseen-term floor), broadcast into
    // the scoring join. The oracle re-derives the identical capped
    // table with a window rank and replays iv_sum + n_oov·floor.
    "d41_unigram_capped" -> { (s, d) =>
      graft.text.UnigramLm.scoreDocs(Tables.documents(s, d), "doc_id",
        "text", vocabCap = LmVocabCap)
        .withColumn("flagged", col("avg_lp") < lit(LmFloor))
        .orderBy(col("doc_id"))
    },

    // The end-to-end "assemble a training mix" composition
    // ([[graft.pipeline.CorpusPrep.mix]]): d38's per-language budget →
    // d39's token-proportional PPS sampling → d40's LM gate, trained on
    // the sampled mix itself. Every stage bites at sf0.01: 70 < docs
    // per language, 25 points < 70 budgeted docs, and the gate drops a
    // handful of low-likelihood docs (kept < 25 per language).
    "d42_corpus_mix" -> { (s, d) =>
      graft.pipeline.CorpusPrep.mix(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", "lang",
        graft.pipeline.CorpusPrep.MixConfig(
          langBudget = LangBudget, tokenPoints = MixBudget, lmFloor = LmFloor))
        .select(col("lang"), col("doc_id"), col("weight"), col("n_hits"),
          col("n_tokens"), col("avg_lp"))
        .orderBy(col("lang"), col("doc_id"))
    },

    // CCNet-style line-frequency boilerplate removal
    // ([[graft.text.Dedup.dropFrequentLines]]): lines appearing in more
    // than maxDf distinct documents are site boilerplate and drop from
    // EVERY document, survivors rejoining in order — the cross-doc
    // complement of d32's within-doc repetition gate and d33's
    // first-occurrence span keep (this removes ALL occurrences). The
    // corpus is single-spaced, so the query derives deterministic
    // 8-token lines first (the operator is generic over the separator);
    // the gate bites at sf0.01 — 17 derived lines sit in >2 docs (max
    // df 6), so near-dup clusters lose their shared spans on both
    // sides of the compare.
    "d44_line_boilerplate" -> { (s, d) =>
      val toks = TF.tokens(col("text"))
      val asLines = Tables.documents(s, d).select(col("doc_id"),
        array_join(
          transform(
            sequence(lit(0),
              ceil(size(toks) / lit(LineTokens.toDouble)).cast("int") - 1),
            i => array_join(
              slice(toks, i * LineTokens + 1, lit(LineTokens)), " ")),
          "\n").as("text"))
      graft.text.Dedup.dropFrequentLines(asLines, "doc_id", "text",
        maxDf = LineMaxDf)
        .orderBy(col("doc_id"))
    },

    // Deterministic shard EXPORT address map — the audit face of
    // [[graft.sources.ShardWriter]], the step after d42's mix assembles
    // the corpus: every document's final (shard, pos) address in the
    // N-shard training layout, derived without writing a byte. Pins the
    // writer's membership (hash-mod shard) AND within-shard order
    // cross-engine. One hash exchange on the shard key — the exact
    // exchange writeShards shuffles on — then a shard-bounded sort; no
    // global sort anywhere.
    "d45_shard_export" -> { (s, d) =>
      graft.sources.ShardWriter.addressMap(
        Tables.documents(s, d).select(col("doc_id"), col("lang")),
        "doc_id", nShards = ExportShards)
        .orderBy(col("shard"), col("pos"))
    },

    // Cross-corpus overlap estimate
    // ([[graft.operators.Sketches.kmvOverlap]]) — the contamination
    // screen run BEFORE committing to a new data source: how much of
    // corpus B's trigram set is already in corpus A, from one O(k) KMV
    // state per corpus plus inclusion–exclusion arithmetic. Neither
    // shingle set is ever shuffled or joined — the only exchange is
    // the per-corpus bottom-k partial aggregation (d43's shape); at
    // 100 TB the states can come straight from q27's persisted
    // per-shard rows without rescanning either corpus.
    "d46_corpus_overlap" -> { (s, d) =>
      val st = udaf(new graft.operators.Sketches.KmvState(NgramKmvK),
        org.apache.spark.sql.Encoders.scalaLong)
      val states = Tables.documents(s, d)
        .select((col("doc_id") % 2).cast("long").as("corpus"),
          explode(TF.shingles(TF.tokens(col("text")), 3)).as("sh"))
        .select(col("corpus"),
          graft.operators.Sketches.kmvInput(TF.hash32(col("sh"))).as("h"))
        .groupBy(col("corpus")).agg(st(col("h")).as("state"))
      graft.operators.Sketches.kmvOverlap(
        states, "corpus", "state", NgramKmvK, 0L, 1L)
    },

    // Curriculum quality binning WITHOUT a global sort — the scale
    // replacement for the NTILE idiom. ntile(4) OVER (ORDER BY score)
    // moves every row through one partition (the WindowExec
    // single-partition sort that cannot exist at 100 TB); here the
    // quartile thresholds come from the q23 bottom-k quantile sketch
    // (one O(k)-state partial aggregation), are broadcast as ONE row,
    // and bin assignment is a row-local comparison — so the whole
    // query is two scans of the projection, no sort of data-scale
    // rows anywhere. Sketch thresholds are rank-approximate
    // (O(1/sqrt(k)) — the bins are ~quartiles, not exact quartiles),
    // which is the accepted trade for curriculum schedules; the
    // oracle replays the identical sample, so the row stays
    // hash-checkable. Bin stats stay exact ints plus min/max
    // selection — no order-dependent double sums.
    "d47_curriculum_bins" -> { (s, d) =>
      val toks = TF.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          (TF.tokenCharSum(toks).cast("double") / size(toks)).as("score"))
      val bq = udaf(
        new graft.operators.Sketches.BottomKQuantile(
          CurricK, Seq(0.25, 0.5, 0.75)),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, java.lang.Double)]())
      val thr = scored
        .select(TF.hash32(col("doc_id").cast("string")).as("h"),
          col("score"))
        .agg(bq(col("h"), col("score")).as("q"))
        .select(element_at(col("q"), 1).as("t1"),
          element_at(col("q"), 2).as("t2"),
          element_at(col("q"), 3).as("t3"))
      scored.crossJoin(broadcast(thr)) // 1-row threshold frame
        .withColumn("bin",
          when(col("score") < col("t1"), 0L)
            .when(col("score") < col("t2"), 1L)
            .when(col("score") < col("t3"), 2L)
            .otherwise(3L))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          min(col("score")).as("min_score"),
          max(col("score")).as("max_score"))
        .orderBy(col("bin"))
    },

    // Boilerplate phrase mining — the corpus-curation question "which
    // exact phrases dominate this corpus" (template headers, licence
    // blurbs, navigation chrome — the stuff repetition filters and
    // memorization audits key on), answered EXACTLY at a relative
    // threshold by [[graft.operators.Sketches.exactHeavyHitters]]:
    // a Misra-Gries candidate pass (O(⌈1/phi⌉) state per task, superset
    // guaranteed by the MG bound) then an exact recount of only the
    // broadcast candidates — no shuffle ever carries the full trigram
    // key space, which at corpus scale IS the corpus. phi = 2e-4 bites
    // on the test corpus: ~26k trigram tokens → threshold 6, and the
    // MG sketch (k = 5000) must not drop any of the ~16k distinct
    // phrases that qualify — the oracle recomputes the exact answer
    // declaratively, so a dropped survivor shows up as a missing row.
    "d48_heavy_phrases" -> { (s, d) =>
      val tri = Tables.documents(s, d)
        .select(explode(TF.shingles(TF.tokens(col("text")), 3)).as("phrase"))
      graft.operators.Sketches.exactHeavyHitters(tri, "phrase", 2e-4)
        .withColumnRenamed("item", "phrase")
        .orderBy(col("freq").desc, col("phrase"))
    },

    // Count-Min point-frequency sketch under the oracle
    // ([[graft.operators.Sketches.countMin]]): the 4×16 bucket-sum
    // matrix is pure grouped COUNTs — layout- and merge-order-
    // independent where Misra-Gries counters are not — so the whole
    // sketch, not just a bound, is hash-checkable. Every vocabulary
    // term rides as a probe with its exact tf next to the estimate;
    // w=16 < |vocab| forces real collisions, so the row pins BOTH the
    // never-undercounts guarantee and the exact collision arithmetic.
    "d49_countmin_tf" -> { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("term"))
      val m = graft.operators.Sketches.countMin(toks, "term", CmW)
      val probes = toks.groupBy(col("term")).agg(count(lit(1)).as("tf"))
      graft.operators.Sketches.countMinEstimate(m, probes, "term", CmW)
        .select(col("term"), col("tf"), col("cm_est"))
        .orderBy(col("term"))
    },

    // Asymmetric (containment) near-dup
    // ([[graft.text.Dedup.ngramContainmentPairs]]): intersection over
    // the SMALLER shingle set — the gate for the duplication mode
    // Jaccard structurally misses, a short document quoted inside a
    // long one. The corpus's synthetic near-dups are all same-size
    // (symmetric), so the query derives the asymmetric side the way
    // d30/d37 derive their splits: the leading third of every 10th
    // document rides along as an "excerpt" under an offset id. At
    // threshold 0.8, 55 of the 80 sf0.01 pairs have jaccard < 0.5 —
    // exactly the pairs the symmetric gate (d35) cannot see; the
    // jaccard witness column pins that contrast in the hash.
    "d51_containment_dedup" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val excerpts = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("substring(text, 1, cast(length(text)/3 as int))").as("text"))
      graft.text.Dedup.ngramContainmentPairs(
        docs.unionByName(excerpts), "doc_id", "text", threshold = 0.8)
        .orderBy(col("a_id"), col("b_id"))
    },

    // Checksum-gated PII ([[graft.text.Pii.luhnValid]]): a 16-digit
    // run only redacts as a payment card if its Luhn check digit
    // verifies — pattern-only redaction (d34) would also destroy
    // order ids and hashes that merely LOOK like cards. The planted
    // number derives from doc_id (d34's planting idiom), so validity
    // is data-determined (~1 in 10 verify) and both the kept and the
    // redacted paths pin; the mod-10 doubling arithmetic replays
    // digit for digit in the oracle's list primitives.
    "d53_luhn_pii" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          lpad((col("doc_id") * 7919L % 10000000000000000L).cast("string"),
            16, "0").as("card"))
        .withColumn("luhn_valid", graft.text.Pii.luhnValid("card", 16))
        .withColumn("clean",
          when(col("luhn_valid"), lit("<CARD>")).otherwise(col("card")))
        .orderBy(col("doc_id"))
    },

    // Gopher-STYLE REPETITION PROFILE — the within-document repetition
    // signals (Rae et al. 2021 §A1.1) d15's type-token ratio summarizes
    // away: duplicate-token fraction, duplicate-BIGRAM fraction (a
    // looping generator repeats transitions long before its unigram mix
    // drifts), and the longest consecutive same-token run (the "the the
    // the" degeneracy). ZERO-exchange shape — d15 pays a (doc, term)
    // exchange for the same family of signals; here every metric is an
    // array-function projection riding the scan (array_distinct for the
    // fractions, one aggregate-HOF linear pass for the run), so the
    // profile costs a 100 TB corpus exactly one read. All metrics are
    // exact integers (micro-fractions via integral DIV), so every row
    // hash-checks. All three gates bite at sf0.01: 172/102/25 docs trip
    // token/bigram/run respectively, 219 of 500 overall.
    "d66_repetition_profile" -> { (s, d) =>
      val t = TF.tokens(col("text"))
      val bg = zip_with(
        slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(" "), b))
      // Longest same-token run: one linear fold, state (prev, current
      // run, best run). The null seed can't equal a token, so the first
      // element opens a run of 1.
      val runZero = struct(lit(null).cast("string").as("prev"),
        lit(0L).as("cur"), lit(0L).as("best"))
      val maxRun = aggregate(t, runZero, (st, x) => {
        val cur = when(x === st.getField("prev"), st.getField("cur") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), cur.as("cur"),
          greatest(st.getField("best"), cur).as("best"))
      }, st => st.getField("best"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(t).cast("long").as("n_tokens"),
          size(array_distinct(t)).cast("long").as("n_distinct"),
          size(bg).cast("long").as("n_bigrams"),
          size(array_distinct(bg)).cast("long").as("n_distinct_bigrams"),
          maxRun.as("max_run"))
        .withColumn("dup_token_frac_micro",
          expr("((n_tokens - n_distinct) * 1000000) DIV n_tokens"))
        .withColumn("dup_bigram_frac_micro",
          expr("CASE WHEN n_bigrams = 0 THEN CAST(0 AS BIGINT) ELSE " +
            "((n_bigrams - n_distinct_bigrams) * 1000000) DIV n_bigrams END"))
        .withColumn("flagged",
          col("dup_token_frac_micro") > 600000L ||
            col("dup_bigram_frac_micro") > 50000L || col("max_run") >= 3L)
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          col("dup_token_frac_micro"), col("n_bigrams"),
          col("n_distinct_bigrams"), col("dup_bigram_frac_micro"),
          col("max_run"), col("flagged"))
        .orderBy(col("doc_id"))
    },

    // PER-DOMAIN BUDGET CAP — the anti-domination gate every crawl
    // pipeline runs before training (no single site may be 30% of the
    // corpus): each (source, lang) group gets an admission PROBABILITY
    // p = min(1, budget/count) and documents are kept by deterministic
    // hash-rate subsampling (hash32(doc_id) mod 1e6 < p_micro) — NOT by
    // per-group top-k, which would bias the kept set toward whatever
    // the ranking key correlates with; a rate keeps the within-group
    // distribution intact. Scale shape: the rate table is
    // catalog-sized (sources × languages) and BROADCASTS; admission is
    // then a scan-local predicate — no shuffle touches the corpus
    // beyond the two rollups. Contrast d38, which takes an exact top-N
    // per language when the budget must be EXACT; the rate form trades
    // ±binomial noise on group sizes for the broadcast-only plan.
    "d67_source_budget" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val rates = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("p_micro", least(lit(1000000L),
          expr(s"($SourceBudget * 1000000) DIV n_docs")))
      val kept = docs
        .join(broadcast(rates), Seq("source", "lang"))
        .filter(TF.hash32(col("doc_id").cast("string")) % 1000000L
          < col("p_micro"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("source", "lang"), "left")
        .select(col("source"), col("lang"), col("n_docs"), col("p_micro"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"), col("lang"))
    },

    // BIGRAM-LM QUALITY GATE ([[graft.text.BigramLm]]) — the CCNet
    // shape: the model trains on the trusted English slice and scores
    // every document's mean per-bigram log-likelihood; off-model
    // languages land visibly lower (en ≈ −3.38 vs ≈ −3.45 for the
    // rest at sf0.01) even though the synthetic corpus SHARES most of
    // its vocabulary across languages — the transition-level signal
    // d40's unigram gate cannot see. Model tables are
    // vocabulary-bounded and broadcast; the corpus pays one doc-keyed
    // sum (see BigramLm's scaladoc for the 100 TB capping path). The
    // flag reuses d40's LmFloor threshold: the gate that fires mostly
    // on non-English here is the gate that fires on gibberish in a
    // real crawl.
    "d68_bigram_lm" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.BigramLm.scoreDocs(docs, "doc_id", "text",
        col("lang") === "en")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("flagged", col("avg_lp") < lit(LmFloor))
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("lp_sum"), col("avg_lp"), col("flagged"))
        .orderBy(col("doc_id"))
    },

    // DEDUP SURVIVORSHIP — WHICH copy of each near-dup cluster ships:
    // d19 labels the clusters; this picks the canonical member by
    // (longest token count, then smallest id) — the keep-the-fullest
    // policy crawl dedup uses (a page and its truncated syndication
    // copy dedupe together; training should keep the full one), where
    // d07/d23's greedy drop keeps the arbitrary min-id copy. Two
    // cluster-keyed aggregates (max length, then min id among the
    // maxima — the argmax form both engines compute identically, no
    // struct-ordering dependence) over cluster-sized groups; the
    // candidate graph and the labels are d19's pinned machinery
    // (Dedup.dupComponents, checkpointed — scanned three times here).
    "d69_dup_survivors" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val comp = graft.text.Dedup.dupComponents(
        graft.text.Dedup.nearDupPairs(docs, "doc_id", "text",
          threshold = 0.0))
      val sized = comp.join(
        docs.select(col("doc_id").as("id"),
          size(TF.tokens(col("text"))).cast("long").as("n_tokens")), "id")
      val best = sized.groupBy(col("component"))
        .agg(max(col("n_tokens")).as("max_tokens"))
      val canon = sized.join(best, "component")
        .filter(col("n_tokens") === col("max_tokens"))
        .groupBy(col("component")).agg(min(col("id")).as("canonical_id"))
      sized.join(canon, "component")
        .select(col("id").as("doc_id"), col("component"), col("n_tokens"),
          (col("id") === col("canonical_id")).as("is_canonical"))
        .orderBy(col("doc_id"))
    },

    // TEMPERATURE-SCALED DOMAIN MIX — the sampling-weight table of a
    // multi-source training run (the Pile/LLaMA-style mix): source s
    // samples proportionally to n_tokens(s)^α with α = 1/2, which
    // upweights small sources relative to their natural share (the
    // α = 1 column is reported alongside as the contrast). α is pinned
    // to 1/2 because sqrt is IEEE-correctly-rounded in every engine —
    // the general n^α = exp(α·ln n) chains two transcendentals and
    // would need a coarser quantum to oracle-check. Per-source sqrts
    // floor-quantize to micro-BIGINTs BEFORE normalizing, so the
    // weight sum is exact integer arithmetic (a double Σ√n would be
    // merge-order-dependent). The catalog-sized rollup feeds both the
    // output and its own 1-row broadcast total — declaratively that is
    // TWO pruned (source, text) scans; a pipeline materializing the
    // 20-row rollup first pays one.
    "d70_temperature_mix" -> { (s, d) =>
      val src = Tables.documents(s, d)
        .select(col("source"),
          size(TF.tokens(col("text"))).cast("long").as("n_toks"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
        .withColumn("sqrt_micro",
          floor(sqrt(col("n_tokens").cast("double")) * lit(1000000.0))
            .cast("long"))
      val totals = src.agg(sum(col("n_tokens")).as("tot_tokens"),
        sum(col("sqrt_micro")).as("tot_sqrt"))
      src.crossJoin(broadcast(totals))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("(n_tokens * 1000000) DIV tot_tokens").as("nat_micro"),
          expr("(sqrt_micro * 1000000) DIV tot_sqrt").as("w_micro"),
          expr("(tot_tokens * ((sqrt_micro * 1000000) DIV tot_sqrt)) " +
            "DIV 1000000").as("target_tokens"))
        .orderBy(col("source"))
    },

    // CONNECTED COMPONENTS, the key its label consumers (d69, d77, d83)
    // cite: d19's query through the same [[graft.text.Dedup
    // .dupComponents]] — O(log n) star-contraction rounds on a large
    // edge set, a driver-side union-find finish on a small one (at
    // sf0.01 the whole candidate graph is small; DedupSpec drives the
    // rounds on generated graphs above the hand-over constant). The
    // oracle runs d19's recursive transitive closure, so hash equality
    // pins every (id, component = min reachable) label.
    "d71_cc_star" -> dupComponentLabels _,

    // WEIGHTED RESERVOIR SAMPLE (A-ES, Efraimidis & Spirakis 2006) —
    // k docs per language, inclusion probability proportional to
    // token count, in ONE mergeable pass: each doc draws the
    // deterministic uniform u = (hash32(id)+1)/2³², its key is
    // ln(u)/w (the log form of u^(1/w) — same order, no pow), and the
    // per-language top-k by key IS the weighted sample without
    // replacement. Contrast d39's systematic PPS, which needs a
    // per-group cumulative-sum WINDOW over the full ordered group:
    // here the only state is the k-row heap ([[graft.operators
    // .Sketches.TopKByScoreTagged]]), partial-aggregated map-side —
    // the 100 TB shape. Keys floor-quantize to nano-BIGINTs for the
    // hash check; zero-padded id tags make the (key DESC, tag ASC)
    // tie order total and numeric.
    "d72_weighted_reservoir" -> { (s, d) =>
      val topk = udaf(new graft.operators.Sketches.TopKByScoreTagged(5),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, String, java.lang.Long)]())
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("w"))
        .withColumn("u",
          (TF.hash32(col("doc_id").cast("string")) + 1).cast("double")
            / lit(4294967296.0))
        .withColumn("priority_micro",
          floor(log(col("u")) / col("w").cast("double")
            * lit(1000000000.0)).cast("long"))
        .groupBy(col("lang"))
        // lpad to 20 (not 6): lpad TRUNCATES strings longer than len in
        // both engines, so a narrow tag would silently corrupt any
        // doc_id ≥ 10^6 on the round-trip and break the total tie order
        // — 20 digits covers the full Long range at 100 TB doc counts.
        .agg(topk(col("priority_micro"),
          lpad(col("doc_id").cast("string"), 20, "0"), col("w")).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("r0", "p")))
        .select(col("lang"), (col("r0") + 1).cast("long").as("rank"),
          col("p._2").cast("bigint").as("doc_id"),
          col("p._3").as("n_tokens"), col("p._1").as("priority_micro"))
        .orderBy(col("lang"), col("rank"))
    },

    // BPE TOKENIZER TRAINING ([[graft.text.BpeTrainer]]) — the learned
    // merge SEQUENCE, where d31 ranks only one round's candidates: 3
    // rounds of find-most-frequent-adjacent-pair → fuse-everywhere,
    // char-level within words, weighted by word frequency. The corpus
    // is scanned ONCE (the word-count aggregate); the loop runs over
    // the vocabulary-sized (word, count, symbols) table with a 1-row
    // driver argmax per round (codebook-collect pattern) and a
    // row-local fusion fold. The oracle unrolls all three rounds —
    // pair counts, (count DESC, pair ASC) argmax, and the greedy
    // left-to-right fusion as a per-word recursive index walk (d26's
    // recursion idiom) — so hash equality pins the full training
    // dynamics, not just one count table.
    "d73_bpe_trainer" -> { (s, d) =>
      graft.text.BpeTrainer.train(Tables.documents(s, d), "text",
        merges = 3)
        .orderBy(col("round"))
    },

    // BPE ENCODE — the trained tokenizer APPLIED: d73's 3 learned
    // merges segment every document and the row reports its true
    // token count next to its character mass (the d14 chars/4
    // heuristic replaced by the actual tokenizer — the number a
    // training-budget plan actually needs). Shape: train runs once
    // (d73's vocabulary-sized loop), the learned merges inline as
    // driver-side literals (the broadcast-codebook pattern), and
    // encoding is a PURE scan projection — chained per-word fusion
    // folds, no join, no shuffle; `saved` = chars − tokens is the
    // compression the 3 merges buy. Oracle: the d73 CTE chain already
    // derives every word's post-merge segmentation (syms3), so each
    // doc joins its words to it and sums.
    "d74_bpe_encode" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = graft.text.BpeTrainer.train(docs, "text", merges = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val segSizes = transform(TF.tokens(col("text")),
        w => size(graft.text.BpeTrainer.segmentWord(w, merges)))
      docs.select(col("doc_id"),
        TF.tokenCharSum(TF.tokens(col("text"))).as("n_chars"),
        aggregate(segSizes, lit(0L), (acc, x) => acc + x)
          .as("n_bpe_tokens"))
        .withColumn("saved", col("n_chars") - col("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    },

    // DATASET CARD — the one-row datasheet a corpus release ships
    // (Gebru et al.'s datasheet quantitative block): sizes, source and
    // language breadth, vocabulary, and the exact-duplicate rate, all
    // from two aggregates (one over documents, one term-keyed distinct
    // for the vocabulary). Duplication here is the d04 fingerprint
    // definition (identical md5(text)); the micro-fraction is exact
    // integer arithmetic. At 100 TB the count-distincts are the only
    // non-map-side terms — swap them for the q22 KMV estimates when
    // exactness stops being worth the expand (the q25/q26 contrast,
    // noted rather than duplicated).
    "d75_dataset_card" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size(TF.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))
      val vocab = docs.select(explode(TF.tokens(col("text"))).as("t"))
        .agg(countDistinct(col("t")).as("vocab"))
      base.crossJoin(broadcast(vocab))
        .withColumn("n_exact_dups", col("n_docs") - col("n_unique_texts"))
        .withColumn("dup_frac_micro",
          expr("((n_docs - n_unique_texts) * 1000000) DIV n_docs"))
        .withColumn("mean_doc_tokens",
          col("n_tokens").cast("double") / col("n_docs").cast("double"))
        .select(col("n_docs"), col("n_tokens"), col("n_chars"),
          col("n_sources"), col("n_langs"), col("vocab"),
          col("n_exact_dups"), col("dup_frac_micro"),
          col("mean_doc_tokens"))
    },

    // DATASET CARD, SKETCH FACE — d75's datasheet at the scale where
    // exactness stops being worth the Expand (the q25/q26 contrast,
    // now an actual query instead of a comment): every count-distinct
    // becomes a KMV estimate, so the whole card is ONE partial+final
    // aggregate over ONE scan — no Expand, no Generate, no join
    // (PlanSpec pins all three). The vocabulary estimate shows the
    // mergeable-state trick: each doc computes its own bottom-k of
    // distinct token hashes ROW-LOCALLY (array ops riding the scan)
    // and [[graft.operators.Sketches.KmvMerge]] folds the per-doc
    // states — merge-of-states ≡ state-of-union, so no token explode
    // ever happens. k = 4 is deliberately below every cardinality here
    // (langs = 5 is the binding one; sources 20, texts 500, vocab 31)
    // so the (k−1)·2³²/h(k) estimator path bites on ALL four measures —
    // the oracle re-derives each from ranked distinct hashes.
    "d76_dataset_card_sketch" -> { (s, d) =>
      val K = 4
      val kmv = udaf(new graft.operators.Sketches.KmvDistinct(K),
        org.apache.spark.sql.Encoders.scalaLong)
      val mg = udaf(new graft.operators.Sketches.KmvMerge(K),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[java.lang.Long]]())
      def in(c: Column) = graft.operators.Sketches.kmvInput(TF.hash32(c))
      // per-doc KMV state: the k smallest DISTINCT token hashes, sorted
      // (KmvMerge's merge contract) — pure array projection, no explode.
      val docVocabState = slice(
        array_sort(array_distinct(
          transform(TF.tokens(col("text")), t => TF.hash32(t)))),
        1, K)
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(size(TF.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        kmv(in(col("source"))).as("n_sources_est"),
        kmv(in(col("lang"))).as("n_langs_est"),
        kmv(in(col("text"))).as("n_unique_texts_est"),
        mg(docVocabState).as("vocab_est"))
    },

    // LEAKAGE-SAFE GROUP SPLIT — the constraint d17's per-doc hash
    // split silently violates: near-duplicate documents must land in
    // the SAME split, or eval scores are inflated by train-set copies
    // (the group-shuffle-split ML discipline, applied with d71's
    // components as the groups). Every doc's split key is its near-dup
    // component (its own id when unclustered), so a whole cluster
    // moves together by construction — and the output PROVES it: the
    // grouped path's straddling-cluster count is computed, not
    // assumed, and reads 0, while the naive per-doc bucketing's count
    // is the >0 contrast witness (24 straddled clusters at sf0.01).
    // Scale shape: the component labels are d71's checkpointed
    // dupComponents frame; the key join is doc-keyed; the two leak
    // witnesses are group-keyed aggregates folded to 1-row broadcasts;
    // the report is a catalog-sized rollup.
    "d77_component_split" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val comp = graft.text.Dedup.dupComponents(
        graft.text.Dedup.nearDupPairs(docs, "doc_id", "text",
          threshold = 0.0))
      def bucketOf(c: Column) = TF.hash32(c.cast("string")) % 100
      def splitOf(c: Column) =
        when(bucketOf(c) < 80, "train")
          .when(bucketOf(c) < 90, "val").otherwise("test")
      val assigned = docs.select(col("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("gkey"))
        .select(col("doc_id"), col("gkey"),
          splitOf(col("gkey")).as("split"),
          splitOf(col("doc_id")).as("naive_split"))
      def straddlers(c: String, as: String) = assigned
        .groupBy(col("gkey"))
        .agg(countDistinct(col(c)).as("ns"))
        .filter(col("ns") > 1)
        .agg(count(lit(1)).as(as))
      assigned.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("gkey")).as("n_groups"))
        .crossJoin(broadcast(straddlers("split", "leaky_grouped")))
        .crossJoin(broadcast(straddlers("naive_split", "leaky_naive")))
        .orderBy(col("split"))
    },

    // CONTENT-DEFINED CHUNKING + global chunk dedup — the
    // SHIFT-ROBUST counterpart to d33's fixed windows (the rsync/LBFS
    // trick applied to corpus dedup): a fixed 200-char grid re-chunks
    // the ENTIRE document when one token is inserted up front, so
    // shifted boilerplate never dedupes; content-defined cuts fire
    // where a rolling 4-token window hash ≡ 0 (mod 16), positions that
    // move WITH the content — an insertion disturbs only the chunks it
    // touches. Boundary detection, cut assembly, and chunk texts are
    // all row-local array projections (cost O(tokens × chunks) per
    // doc, bounded by doc length — no shuffle until the global
    // fingerprint pass); the dedup pass is d33's first-seen-by-
    // (doc, pos) convention on the chunk fingerprints. `n_novel` <
    // `n_chunks` rows witness cross-doc shared chunks surviving the
    // chunking (the repeated boilerplate the synthetic corpus plants).
    "d79_cdc_chunks" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // Each stage lands in its OWN named column: `cuts` is referenced
      // several times inside the assembly lambda, and an inlined
      // expression tree would re-run the full md5 boundary scan per
      // reference (interpreted HOFs get no subexpression elimination —
      // the d65 lesson; measured 27.2 s → 1.3 s at sf0.1 from this
      // restructure alone). CollapseProject's duplication guard keeps
      // multiply-referenced non-cheap aliases materialized.
      val chunks = transform(sequence(lit(1), size(col("cuts")) - 1),
        c => array_join(
          slice(col("toks"), element_at(col("cuts"), c) + 1,
            element_at(col("cuts"), c + 1) - element_at(col("cuts"), c)),
          " "))
      Tables.documents(s, d)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        // cut AFTER token i (4 ≤ i ≤ n−1) when the trailing-4 window
        // hash ≡ 0 (mod 16); avg chunk ≈ 16 tokens
        .withColumn("bpos", when(size(col("toks")) >= 5,
          filter(sequence(lit(4), size(col("toks")) - 1),
            i => TF.hash32(
              concat_ws(" ", slice(col("toks"), i - 3, lit(4))))
              % 16 === 0))
          .otherwise(typedLit(Seq.empty[Int])))
        .withColumn("cuts",
          concat(array(lit(0)), col("bpos"), array(size(col("toks")))))
        .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "chunk")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(md5(col("chunk")))
            .orderBy(col("doc_id"), col("pos"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("n_dup_chunks", col("n_chunks") - col("n_novel"))
        .orderBy(col("doc_id"))
    },

    // TOKENIZER FERTILITY BY LANGUAGE — the multilingual-equity
    // report every shared-tokenizer deployment owes its users: a
    // tokenizer trained on a mixed corpus segments some languages
    // into more pieces per word (higher fertility = more tokens paid
    // per word = less effective context and higher serving cost for
    // that language — the documented BPE inequity). d73's trained
    // merges encode every doc (d74's scan-projection machinery), and
    // the per-language rollup reports words, BPE tokens, fertility
    // (tokens per word, micro-units) and compression (chars per
    // token). Exact integer ratios; the oracle re-derives the
    // segmentation from the unrolled training CTEs.
    "d85_tokenizer_fertility" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val merges = graft.text.BpeTrainer.train(docs, "text", merges = 3)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val segSizes = transform(TF.tokens(col("text")),
        w => size(graft.text.BpeTrainer.segmentWord(w, merges)))
      docs.select(col("lang"),
        size(TF.tokens(col("text"))).cast("long").as("n_words"),
        TF.tokenCharSum(TF.tokens(col("text"))).as("n_chars"),
        aggregate(segSizes, lit(0L), (acc, x) => acc + x).as("n_bpe"))
        .groupBy(col("lang"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_chars")).as("n_chars"),
          sum(col("n_bpe")).as("n_bpe_tokens"))
        .withColumn("fertility_micro",
          expr("(n_bpe_tokens * 1000000) DIV n_words"))
        .withColumn("chars_per_token_micro",
          expr("(n_chars * 1000000) DIV n_bpe_tokens"))
        .orderBy(col("lang"))
    },

    // WINNOWING FINGERPRINTS (Schleimer/Wilkerson/Aiken's MOSS
    // selection) — the guaranteed-coverage middle ground between
    // d16's whole-doc hash and d05's random-projection MinHash: hash
    // every 4-token shingle, slide a 5-hash window over the sequence,
    // keep each window's MINIMUM. Any shared token run of length
    // >= w+k-1 = 8 then provably contributes a shared fingerprint
    // (every length-w hash window inside the run picks the same
    // minima in both docs), while the selected set is ~2/(w+1) of the
    // shingles — a deterministic positional sample with a coverage
    // guarantee MinHash cannot give. Pairing is d36's df-capped
    // inverted index over the SELECTED hashes only (maxDf = 2 BITES:
    // 29 fingerprints sit in 3 docs at sf0.01 and 2 pairs drop vs the
    // uncapped join), so the only corpus exchanges are the winnowed
    // ~2/(w+1) sample keyed by fingerprint and the pair rollup —
    // nothing all-pairs, no signature bands to tune. The window
    // minima are array ops riding the scan with `hs` a NAMED
    // attribute (the d79 lesson: lambda-referenced columns must be
    // materialized attributes, not inline trees); short docs
    // (< w hashes) contribute their single global minimum.
    "d86_winnow_pairs" -> { (s, d) =>
      // The hash array MUST materialize behind an optimizer barrier
      // before the window-min stage: explode() infers a size(fps) > 0
      // filter that pushes below the projections, and with `hs` still
      // symbolic the slice lambda inlines the full md5 transform PER
      // WINDOW — O(n²) digests per doc (the d79/d65 inlining family;
      // 34→0.6 s at sf0.1 from the two checkpoints together).
      val hsDf = new graft.operators.LineageCheckpoint(s, None)(
        Tables.documents(s, d)
          .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            transform(TF.shingles(col("toks"), WinnowK), sh => TF.hash32(sh))
              .as("hs"))
          .withColumn("nh", size(col("hs")))
          .filter(col("nh") > 0))
      val fps = hsDf.select(col("doc_id"),
        when(col("nh") >= WinnowW,
          array_distinct(transform(
            sequence(lit(1), col("nh") - (WinnowW - 1)),
            i => array_min(slice(col("hs"), i, lit(WinnowW))))))
          .otherwise(array(array_min(col("hs")))).as("fps"))
      val posts = fps.select(col("doc_id"), explode(col("fps")).as("fp"))
      // The capped posting frame feeds THREE consumers (both self-join
      // sides and the size rollup) — materialize it once or each branch
      // re-pays the md5+window-minima pipeline (the d82/e33 checkpoint
      // rule; 34→4 s at sf0.1). The cap itself is d36's fp-keyed window
      // — posting lists are df-bounded, so the partition is too.
      val capped = new graft.operators.LineageCheckpoint(s, None)(
        posts
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("fp"))))
          .filter(col("df") <= WinnowMaxDf).drop("df"))
      val sz = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val ix = capped.as("x").join(capped.as("y"),
          col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .agg(count(lit(1)).as("n_shared"))
      ix.join(sz.select(col("doc_id").as("a_id"), col("n").as("n_a")), "a_id")
        .join(sz.select(col("doc_id").as("b_id"), col("n").as("n_b")), "b_id")
        .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
          col("n_shared"),
          expr("(n_shared * 1000000) DIV (n_a + n_b - n_shared)")
            .as("jaccard_micro"))
        .filter(col("jaccard_micro") >= 500000)
        .orderBy(col("a_id"), col("b_id"))
    },

    // TRIGRAM FREQUENCY-OF-FREQUENCIES SPECTRUM + GOOD–TURING — the
    // frequency spectrum (N_k = how many distinct trigrams occur
    // exactly k times) is the LM-smoothing datasheet d40/d68/d84
    // implicitly price against, and Good–Turing reads off it
    // directly: the unseen-event mass estimate N_1/N (36% at sf0.01
    // — this corpus is far from saturating its trigram space, the
    // number a crawl-sizing decision wants) and the smoothed
    // next-count c* = (k+1)·N_{k+1}/N_k per row, exact integer
    // micro. Shape: two chained keyed aggregates (trigram counts,
    // then count-of-counts — the second input is vocabulary-sized),
    // with the spectrum CHECKPOINTED for its three consumers (self
    // left-join on k+1 for N_{k+1}, and the N_1 row — the d86 rule),
    // and the unseen-mass scalar a 1-row broadcast.
    // BLOCKLIST PHRASE SCAN VIA AHO–CORASICK
    // ([[graft.functions.AhoCounts]]) — the contamination-phrase /
    // banned-content screen: ONE codegen'd automaton pass per document
    // counts every occurrence of every blocklist pattern (overlapping
    // included — "batch batch batch" holds TWO "batch batch"es; nested
    // patterns both fire — "table scan" also bumps "scan" via the
    // suffix-output links), where the P-regex alternative costs P
    // corpus scans. The automaton is driver-built from the constant
    // list and ships as a codegen reference object; the pattern axis
    // fans out row-locally (posexplode over the counts array), so the
    // whole query is a scan projection — no join, no hash shuffle.
    // "zz never" pins the zero row; "a" pins sub-token substring
    // semantics (22+ hits per doc).
    "d93_blocklist_scan" -> { (s, d) =>
      val pats = Seq("table scan", "scan", "batch batch", "sort merge",
        "a", "zz never")
      Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(graft.functions.text.ahoCounts(col("text"), pats)))
        .select(col("doc_id"),
          element_at(array(pats.map(lit): _*), col("pos") + 1)
            .as("pattern"),
          col("col").as("n_hits"))
        .orderBy(col("doc_id"), col("pattern"))
    },

    // VOCABULARY COVERAGE CURVE — the Zipf question a tokenizer
    // designer asks before fixing a vocab size: how many types cover
    // 50 / 90 / 99% of the token mass? One corpus scan folds into the
    // vocabulary count table; the rank and running-mass windows run
    // over THAT table (the d47/q46 catalog-window rule — vocabulary-
    // sized, never corpus-sized), and each threshold's answer is a
    // min over the qualifying rows (cum is monotone in rank, so
    // min-rank and min-cum select the same row). Exact integers end
    // to end.
    "d99_vocab_coverage" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      // Two consumers (total + windows) → checkpoint the count table
      // (the d86 rule), or the corpus scan runs twice.
      val uc = new graft.operators.LineageCheckpoint(s, None)(
        Tables.documents(s, d)
          .select(explode(TF.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c")))
      val tot = uc.agg(sum(col("c")).cast("long").as("n_g"))
      val wOrd = Window.orderBy(col("c").desc, col("w"))
      uc.withColumn("rk", row_number().over(wOrd).cast("long"))
        .withColumn("cum", sum(col("c")).over(wOrd).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("cum"), col("n_g"),
          explode(array(lit(50L), lit(90L), lit(99L))).as("threshold_pct"))
        .filter(col("cum") * 100 >= col("threshold_pct") * col("n_g"))
        .groupBy(col("threshold_pct"))
        .agg(min(col("rk")).as("n_types"),
          expr("CAST((CAST(MIN(cum) AS DECIMAL(38,0)) * 1000000)" +
            " DIV MAX(n_g) AS BIGINT)").as("mass_micro"),
          max(col("n_g")).as("n_tokens"))
        .orderBy(col("threshold_pct"))
    },

    // DUP-CLUSTER QUALITY AUDIT — the check that catches CHAINING, the
    // known failure mode of LSH + connected components (A~B and B~C
    // collapse A,B,C even when A and C share nothing): per component,
    // its size, its internal candidate-pair count, the WEAKEST LINK
    // (min exact Jaccard over its scored pairs — a chained cluster
    // shows a near-zero floor) and the edge density in micro units
    // (2·pairs / n·(n−1) — 1.0 means a clique, sparse means a chain).
    // A curation pipeline reads this before trusting d69's
    // survivorship to delete. Shape: the scored pair frame is
    // checkpointed (components + audit both fold it); everything
    // after is component-keyed aggregation over pair-sized frames —
    // broadcast joins, exact integers plus the already-proven exact
    // Jaccard doubles.
    "d98_dup_cluster_audit" -> { (s, d) =>
      val pairs = new graft.operators.LineageCheckpoint(s, None)(
        graft.text.Dedup.nearDupPairs(
          Tables.documents(s, d), "doc_id", "text", threshold = 0.0))
      val comp = graft.text.Dedup.dupComponents(
        pairs.select(col("a_id"), col("b_id")))
      val pc = pairs
        .join(broadcast(comp.select(col("id").as("a_id"), col("component"))),
          Seq("a_id"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_pairs"), min(col("jaccard")).as("min_jaccard"))
      comp.groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
        .join(broadcast(pc), Seq("component"))
        .select(col("component"), col("n_docs"), col("n_pairs"),
          col("min_jaccard"),
          expr("CAST((CAST(n_pairs AS DECIMAL(38,0)) * 2 * 1000000)" +
            " DIV (CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1))" +
            " AS BIGINT)").as("density_micro"))
        .orderBy(col("component"))
    },

    // FEATURE AUC VIA EXACT DISTRIBUTED RANKS — "which cheap quality
    // features actually separate English from the rest" scored the way
    // a classifier team scores them: AUC = Mann–Whitney U from rank
    // sums, EXACTLY, per feature. The global rank is the q46 two-pass
    // [[graft.operators.Ranks.globalRowNumber]] (range-partitioned
    // sort + broadcast offsets), never a single-partition window; U =
    // Σ over positives of (global rank − positive-only rank) — each
    // positive's count of strictly-below negatives under the total
    // order (feature, doc_id). Ties break on doc_id — a deterministic
    // policy both engines replay identically (NOT midrank-adjusted
    // AUC; the fixture's integer features tie often, and a policy the
    // oracle can restate beats a convention it can't). Integer
    // features, integer U, integer micro-AUC — nothing to round.
    // The scored frame is checkpointed once; each feature pays two
    // rank passes over it (the documented cost of exactness — d47's
    // sketch is the approximate face of this family).
    "d97_feature_auc" -> { (s, d) =>
      import graft.operators.{LineageCheckpoint, Ranks}
      val toks = TF.tokens(col("text"))
      val sc0 = new LineageCheckpoint(s, None)(
        Tables.documents(s, d).select(col("doc_id"),
          col("n_chars").cast("long").as("f_chars"),
          size(toks).cast("long").as("f_tokens"),
          size(array_distinct(toks)).cast("long").as("f_types"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos")))
      val totals = sc0.agg(sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"))
      val rows = Seq("f_chars", "f_tokens", "f_types").map { c =>
        val f = sc0.select(col("doc_id"), col(c).as("v"), col("pos"))
        val all = Ranks.globalRowNumber(f,
          Seq(col("v"), col("doc_id")), "rk")
        Ranks.globalRowNumber(all.filter(col("pos") === 1L),
            Seq(col("v"), col("doc_id")), "pk")
          .agg(sum(col("rk") - col("pk")).as("u_stat"))
          .withColumn("feature", lit(c))
      }.reduce(_.unionByName(_))
      rows.crossJoin(broadcast(totals))
        .select(col("feature"), col("n_pos"), col("n_neg"),
          col("u_stat"),
          expr("CAST((CAST(u_stat AS DECIMAL(38,0)) * 1000000)" +
            " DIV (CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)")
            .as("auc_micro"))
        .orderBy(col("feature"))
    },

    // LEAKAGE-SAFE TRAIN/TEST SPLIT — the split a benchmark-honest
    // pipeline needs: a naive per-document hash split puts near-
    // duplicates on BOTH sides (the test set leaks into training and
    // eval numbers inflate); here the split unit is the NEAR-DUP
    // COMPONENT (d19's machinery), every document inherits its
    // component's hash-assigned side (singletons are their own
    // component), and the output carries the PROOF: n_cross_pairs
    // counts candidate pairs straddling the splits — zero by
    // construction, witnessed, not assumed (q43's orphan-row
    // discipline). Shape: the pair frame is checkpointed for its two
    // consumers (components + witness); the component frame is
    // pairs-member-sized, so the witness joins and the per-split
    // component distinct both fold small frames; the one corpus-scale
    // step is the doc→component left join keyed on doc_id.
    "d96_leakage_split" -> { (s, d) =>
      val p = new graft.operators.LineageCheckpoint(s, None)(
        graft.text.Dedup.nearDupPairs(
          Tables.documents(s, d), "doc_id", "text", threshold = 0.0)
          .select(col("a_id"), col("b_id")))
      val comp = graft.text.Dedup.dupComponents(p)
      def splitOf(c: Column): Column =
        when(TF.hash32(c.cast("string")) % 5 <= 3, "train")
          .otherwise("test")
      val spl = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("n_tokens"))
        .join(broadcast(comp), col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"),
          col("n_tokens"))
        .withColumn("split", splitOf(col("component")))
      val pairSplit = comp.withColumn("split", splitOf(col("component")))
      val witness = p
        .join(broadcast(
          pairSplit.select(col("id").as("a_id"), col("split").as("sa"))),
          Seq("a_id"))
        .join(broadcast(
          pairSplit.select(col("id").as("b_id"), col("split").as("sb"))),
          Seq("b_id"))
        .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
          lit(0L)).as("n_cross_pairs"))
      val nComp = spl.select(col("split"), col("component")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_components"))
      spl.groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .join(broadcast(nComp), Seq("split"))
        .crossJoin(broadcast(witness))
        .select(col("split"), col("n_docs"), col("n_components"),
          col("n_tokens"), col("n_cross_pairs"))
        .orderBy(col("split"))
    },

    // SOURCE DISTRIBUTION SHIFT VIA CHI-SQUARE — "which ingestion
    // sources are off-distribution against the corpus" (the feed-level
    // screen run before d67's budgets decide admission): per source,
    // χ² = Σ_w (p_sw − p_gw)²/p_gw over the GLOBAL vocabulary grid —
    // zero-count cells included, they contribute p_gw. Chi-square is
    // chosen over KL deliberately: no transcendental anywhere, so each
    // term is the same +−*/ double chain on both engines (bit-exact)
    // and only then floor-quantized to micro — none of d40's
    // ln-ulp exposure. Shape: ONE corpus scan into the (source, word)
    // count table, CHECKPOINTED for its three consumers (the d86
    // rule: row totals, column totals, and the grid join all fold the
    // 620-cell table, never the corpus); the grid is a broadcast
    // cross of two catalog-sized frames; the total is a 1-row
    // broadcast.
    "d95_source_chisq" -> { (s, d) =>
      val sc = new graft.operators.LineageCheckpoint(s, None)(
        Tables.documents(s, d)
          .select(col("source"), explode(TF.tokens(col("text"))).as("w"))
          .groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c_sw")))
      val ns = sc.groupBy(col("source"))
        .agg(sum(col("c_sw")).cast("long").as("n_s"))
      val gw = sc.groupBy(col("w"))
        .agg(sum(col("c_sw")).cast("long").as("c_w"))
      val ng = gw.agg(sum(col("c_w")).cast("long").as("n_g"))
      ns.crossJoin(broadcast(gw))
        .join(broadcast(sc), Seq("source", "w"), "left")
        .crossJoin(broadcast(ng))
        .withColumn("term", expr(
          "CAST(FLOOR((CAST(COALESCE(c_sw, 0) AS DOUBLE) / n_s" +
            " - CAST(c_w AS DOUBLE) / n_g)" +
            " * (CAST(COALESCE(c_sw, 0) AS DOUBLE) / n_s" +
            " - CAST(c_w AS DOUBLE) / n_g)" +
            " / (CAST(c_w AS DOUBLE) / n_g) * 1e6) AS BIGINT)"))
        .groupBy(col("source"))
        .agg(max(col("n_s")).as("n_tokens"),
          sum(col("term")).cast("long").as("chisq_micro"))
        .orderBy(col("source"))
    },

    // PMI COLLOCATION MINING — the corpus-linguistics face of d48's
    // phrase surface: which adjacent word pairs co-occur MORE than
    // their unigram frequencies predict (multiword expressions,
    // entity names — the units a tokenizer or phrase-merge pass
    // should learn), ranked by association strength rather than raw
    // count. Lift = p(xy) / (p(x)·p(y)) is kept as an EXACT integer
    // (micro-units via DECIMAL(38,0) products then integral division
    // — c·N²·10⁶ ≈ 10²² at sf0.1, far under 10³⁸), because lift
    // orders identically to PMI = ln(lift) and ln is the one op the
    // two engines disagree on in the last ulp (the BM25 lesson,
    // without needing BM25's rounding). Shape: two corpus scans
    // (token explode, bigram explode) each folding into a map-side
    // partial count; both count tables and both totals are
    // vocabulary-sized from there — the unigram joins broadcast, the
    // totals are 1-row broadcasts; nothing data-scale is joined or
    // windowed. MinColloc prunes the long tail BEFORE the joins
    // (bites: 718 of 916 bigrams at sf0.01, 900 of 931 at sf0.1).
    "d94_pmi_collocations" -> { (s, d) =>
      val uni = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c1"))
      val big = Tables.documents(s, d)
        .select(explode(TF.shingles(TF.tokens(col("text")), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c_xy"))
      // Totals fold the COUNT TABLES, not the corpus — no third scan.
      val totals = big.agg(sum(col("c_xy")).cast("long").as("n_bi"))
        .crossJoin(uni.agg(sum(col("c1")).cast("long").as("n_uni")))
      big.filter(col("c_xy") >= MinColloc)
        .select(element_at(split(col("bg"), " "), 1).as("w1"),
          element_at(split(col("bg"), " "), 2).as("w2"),
          col("c_xy"))
        .join(broadcast(uni.select(col("w").as("w1"), col("c1").as("c1a"))),
          Seq("w1"))
        .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1b"))),
          Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("c_xy"),
          expr("CAST((CAST(c_xy AS DECIMAL(38,0)) * n_uni * n_uni" +
            " * 1000000) DIV (CAST(n_bi AS DECIMAL(38,0)) * c1a * c1b)" +
            " AS BIGINT)").as("lift_micro"))
        .orderBy(col("w1"), col("w2"))
    },

    // EXACT SET-SIMILARITY JOIN VIA PREFIX FILTERING
    // ([[graft.text.Dedup.prefixFilterJaccardPairs]]) — d35's pair set
    // (exact Jaccard ≥ t on distinct 3-shingle sets, completeness a
    // THEOREM) through the SSJoin/All-Pairs candidate pruning: only
    // each document's p = n − ⌈t·n⌉ + 1 globally-RAREST shingles enter
    // the shingle-keyed self-join, so boilerplate shingles (the df²
    // blowup d36 caps away lossily) never generate candidates, and the
    // exact score is verified row-locally on the candidate pairs.
    // Higher threshold than d35 (0.6) so the prefix is short and the
    // pruning bites at test scale; the oracle is the naive full join —
    // the equality IS the completeness theorem, end-to-end.
    "d92_prefix_filter_pairs" -> { (s, d) =>
      graft.text.Dedup.prefixFilterJaccardPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.6)
        .orderBy(col("a_id"), col("b_id"))
    },

    "d91_term_spectrum" -> { (s, d) =>
      val g = Tables.documents(s, d).select(
        explode(TF.shingles(TF.tokens(col("text")), 3)).as("sh"))
      val sp = new graft.operators.LineageCheckpoint(s, None)(
        g.groupBy(col("sh")).agg(count(lit(1)).as("k"))
          .groupBy(col("k")).agg(count(lit(1)).as("n_types")))
      val uRow = sp.filter(col("k") === 1)
        .select(col("n_types").as("n1"))
        .crossJoin(g.agg(count(lit(1)).as("n_grams")))
        .select(expr("(n1 * 1000000) DIV n_grams").as("unseen_mass_micro"))
      sp.join(sp.select((col("k") - 1).as("k"), col("n_types").as("nx")),
          Seq("k"), "left")
        .crossJoin(broadcast(uRow))
        .select(col("k"), col("n_types"),
          (col("k") * col("n_types")).as("mass"),
          coalesce(expr("((k + 1) * nx * 1000000) DIV n_types"), lit(0L))
            .as("gt_next_micro"),
          col("unseen_mass_micro"))
        .orderBy(col("k"))
    },

    // SHARD SIMILARITY MATRIX FROM MERGED MINHASH SIGNATURES — the
    // corpus-vs-corpus MinHash face of q27's mergeable-state rule:
    // each shard owns a 16-permutation signature (per-perm MIN over
    // its distinct trigrams — a state that merges by LEAST, so
    // shard signatures roll up to any coarser grouping without
    // rescanning), every pairwise estimate is matching-perm counting
    // on the collected 4×16 signature table (e35's driver codebook
    // arithmetic — shards² × perms, no data motion), and the EXACT
    // per-pair Jaccard rides along as the calibration column the
    // estimate must bracket (d46 does this with KMV
    // inclusion–exclusion; this is the signature-matching estimator
    // a dedup pipeline already has lying around). The 4 digests per
    // shingle each donate 4 independent 8-hex-slice perms (d05's
    // one-digest-four-hashes trick). The distinct posting frame
    // feeds three consumers → checkpointed once (the d86 rule).
    "d90_shard_minhash" -> { (s, d) =>
      val p = new graft.operators.LineageCheckpoint(s, None)(
        Tables.documents(s, d)
          .select((col("doc_id") % 4).cast("long").as("shard"),
            explode(array_distinct(TF.shingles(TF.tokens(col("text")), 3)))
              .as("sh"))
          .distinct())
      // 4 digests materialized ONCE below the agg — 16 per-(j,b)
      // min(md5(...)) children would re-digest 4× per slice (no CSE
      // across aggregate expressions).
      val digested = p.select(col("shard") +: (0 until 4).map(j =>
        md5(concat(lit(s"p$j:"), col("sh"))).as(s"h$j")): _*)
      val minCols = for (j <- 0 until 4; b <- 0 until 4) yield
        min(conv(substring(col(s"h$j"), b * 8 + 1, 8), 16, 10)
          .cast("long")).as(s"m${j * 4 + b}")
      val sig = digested.groupBy(col("shard"))
        .agg(minCols.head, minCols.tail: _*)
        .collect()
        .map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toVector)
        .sortBy(_._1)
      val matches = for {
        i <- sig.indices
        j <- (i + 1) until sig.length
      } yield {
        val n = sig(i)._2.zip(sig(j)._2).count { case (a, b) => a == b }
        (sig(i)._1, sig(j)._1, n.toLong, n.toLong * 1000000L / 16L)
      }
      import s.implicits._
      val est = matches.toSeq
        .toDF("shard_a", "shard_b", "n_perm_match", "est_jaccard_micro")
      val sz = p.groupBy(col("shard")).agg(count(lit(1)).as("n"))
      val ix = p.as("x").join(p.as("y"),
          col("x.sh") === col("y.sh") && col("x.shard") < col("y.shard"))
        .groupBy(col("x.shard").as("shard_a"), col("y.shard").as("shard_b"))
        .agg(count(lit(1)).as("nb"))
      est.join(ix, Seq("shard_a", "shard_b"))
        .join(sz.select(col("shard").as("shard_a"), col("n").as("na")),
          "shard_a")
        .join(sz.select(col("shard").as("shard_b"), col("n").as("nb2")),
          "shard_b")
        .select(col("shard_a"), col("shard_b"), col("n_perm_match"),
          col("est_jaccard_micro"),
          expr("(nb * 1000000) DIV (na + nb2 - nb)")
            .as("exact_jaccard_micro"))
        .orderBy(col("shard_a"), col("shard_b"))
    },

    // N-GRAM NOVELTY SCORING — first-occurrence attribution, the
    // corpus-ordering metric behind "how much NEW content does each
    // document contribute": a trigram belongs to the smallest doc_id
    // containing it (d33's global first-keep rule, lifted from span
    // rewriting to per-doc scoring), and novelty = owned / total
    // distinct trigrams, exact integer micro. Near-dup cluster
    // members after their earliest score ~0; the corpus decays from
    // 1.0 as position grows — the curve a curator reads to decide
    // where marginal data stops paying. Shape: one shingle-keyed
    // partial+final MIN (map-side combine absorbs zipfian hot
    // shingles — the reason this is a groupBy+join and NOT a window
    // over sh partitions, which would materialize whole posting lists
    // per key), one shingle-keyed join back, one doc-keyed rollup.
    "d89_ngram_novelty" -> { (s, d) =>
      val posts = Tables.documents(s, d).select(col("doc_id"),
          explode(array_distinct(TF.shingles(TF.tokens(col("text")), 3)))
            .as("sh"))
      val first = posts.groupBy(col("sh"))
        .agg(min(col("doc_id")).as("first_doc"))
      posts.join(first, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 1000000) DIV n_shingles").as("novelty_micro"))
        .orderBy(col("doc_id"))
    },

    // DISTRIBUTED OLS VIA EXACT NORMAL EQUATIONS — the linear-model
    // trainer in its true cluster shape: the corpus is never
    // iterated, it is REDUCED to the d(d+1)/2 + d sufficient
    // statistics (one aggregate row), and the solve is Cramer's rule
    // over 3x3 integer determinants on that row — codebook-sized
    // work a 1000-executor cluster finishes in one pass + one
    // broadcast. Model: n_chars ~ w0 + w1·(n_tokens − mean) +
    // w2·(n_distinct − mean); centering (integer means, a first
    // 1-row pass) keeps every moment and determinant inside BIGINT
    // (raw third-ish moments would not be; at trillions of rows the
    // upgrade path is DECIMAL(38) sums, same shape). EVERY step is
    // exact integer arithmetic — no sigmoid, no float summation
    // order, no transcendental quantization — so Spark and DuckDB
    // agree bit-for-bit by construction; weights land in micro via
    // dj DIV (det DIV 1e6). The scoring pass re-joins the 1-row
    // model (broadcast) and reports exact mean |residual|. Fully
    // declarative: zero collect, three scans (means, moments,
    // residuals), each a pure projection + 1-row aggregate.
    "d87_ols_fit" -> { (s, d) =>
      val f = Tables.documents(s, d).select(
        col("n_chars").cast("long").as("y"),
        size(TF.tokens(col("text"))).cast("long").as("nt"),
        size(array_distinct(TF.tokens(col("text")))).cast("long").as("nd"))
      val m = f.agg(count(lit(1)).as("n"), sum(col("nt")).as("snt"),
          sum(col("nd")).as("snd"))
        .select(col("n"), expr("snt div n").as("mnt"),
          expr("snd div n").as("mnd"))
      val sums = f.crossJoin(broadcast(m))
        .select(col("n"), col("mnt"), col("mnd"), col("y"),
          (col("nt") - col("mnt")).as("cx"),
          (col("nd") - col("mnd")).as("cd"))
        .groupBy(col("n"), col("mnt"), col("mnd"))
        .agg(sum(col("cx")).as("sx"), sum(col("cd")).as("sd"),
          sum(col("cx") * col("cx")).as("sxx"),
          sum(col("cx") * col("cd")).as("sxd"),
          sum(col("cd") * col("cd")).as("sdd"),
          sum(col("y")).as("sy"),
          sum(col("cx") * col("y")).as("sxy"),
          sum(col("cd") * col("y")).as("sdy"))
      val solved = sums.select(col("n"), col("mnt"), col("mnd"),
          expr("n*(sxx*sdd - sxd*sxd) - sx*(sx*sdd - sxd*sd)" +
            " + sd*(sx*sxd - sxx*sd)").as("det"),
          expr("sy*(sxx*sdd - sxd*sxd) - sx*(sxy*sdd - sxd*sdy)" +
            " + sd*(sxy*sxd - sxx*sdy)").as("d0"),
          expr("n*(sxy*sdd - sdy*sxd) - sy*(sx*sdd - sxd*sd)" +
            " + sd*(sx*sdy - sxy*sd)").as("d1"),
          expr("n*(sxx*sdy - sxd*sxy) - sx*(sx*sdy - sxy*sd)" +
            " + sy*(sx*sxd - sxx*sd)").as("d2"))
        .select(col("n"), col("mnt"), col("mnd"), col("det"),
          expr("d0 div (det div 1000000)").as("w0_micro"),
          expr("d1 div (det div 1000000)").as("w1_micro"),
          expr("d2 div (det div 1000000)").as("w2_micro"))
      f.crossJoin(broadcast(solved))
        .groupBy(col("n"), col("det"), col("w0_micro"), col("w1_micro"),
          col("w2_micro"), col("mnt"), col("mnd"))
        .agg(sum(abs(col("y") * lit(1000000L) -
          (col("w0_micro") + col("w1_micro") * (col("nt") - col("mnt"))
            + col("w2_micro") * (col("nd") - col("mnd"))))).as("sae"))
        .select(col("n"), col("det"), col("w0_micro"), col("w1_micro"),
          col("w2_micro"), expr("sae div n").as("mae_micro"))
    },

    // STUPID-BACKOFF LM GATE ([[graft.text.BigramLm
    // .scoreDocsBackoff]]) — d68's production variant: seen
    // transitions price at their raw bigram MLE, unseen ones back off
    // to the α = 0.4 discounted unigram (Brants et al. 2007 — the
    // web-scale recipe that skips smoothing normalization entirely).
    // Same broadcast-model scale shape as d68; `n_backoff` rides
    // along because the backoff SHARE is the quality signal on a real
    // crawl (text whose transitions the trusted slice never saw). The
    // synthetic corpus shares most transitions across languages, so
    // the branch fires only on es/zh tails here (~0.2% — enough for
    // the oracle to pin BOTH branches) and the language separation
    // shows through magnitude, as in d68.
    "d84_backoff_lm" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.text.BigramLm.scoreDocsBackoff(docs, "doc_id", "text",
        col("lang") === "en")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("n_backoff"), col("lp_sum"), col("avg_lp"))
        .orderBy(col("doc_id"))
    },

    // CROSS-SOURCE CONTAMINATION MATRIX — which sources copy from
    // which: every near-dup component (d71's labels) that spans two
    // sources is one count in that source pair's cell, and the
    // off-diagonal matrix is the syndication map a curation team
    // reads before deciding source-level dedup order and admission
    // weights (a source whose row sums high is re-serving others'
    // content — d67's budget and d69's survivorship both want to
    // know). Scale shape: the components ran inside
    // dupComponents (checkpointed); (component, source) is a
    // components-sized distinct; the pair build is one
    // component-keyed self-join; the matrix is sources²-bounded.
    "d83_source_contamination" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val comp = graft.text.Dedup.dupComponents(
        graft.text.Dedup.nearDupPairs(docs, "doc_id", "text",
          threshold = 0.0))
      val cs = comp
        .join(docs.select(col("doc_id").as("id"), col("source")), "id")
        .select(col("component"), col("source")).distinct()
      cs.select(col("component"), col("source").as("source_a"))
        .join(cs.select(col("component"), col("source").as("source_b")),
          "component")
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared_components"))
        .orderBy(col("source_a"), col("source_b"))
    },

    // GREEDY MAX-COVERAGE SELECTION — the data-selection shape behind
    // facility-location / coverage-based subset curation (pick the
    // budgeted subset that covers the most distinct content, the
    // submodular cousin of d50's DSIR reweighting): K rounds of
    // pick-the-doc-with-most-UNCOVERED-shingles, ties to the smaller
    // id. The classic (1−1/e) greedy, run the way a cluster actually
    // runs it: the shingle-set frame materializes ONCE
    // (LineageCheckpoint), each round is one scan + a per-partition
    // top-1 (TakeOrdered) against the covered set shipped as a
    // LITERAL (selection-bounded — it grows with picks, not corpus;
    // the codebook pattern), and the picked doc's novel shingles are
    // a 1-row point lookup. At a production K the levers are
    // lazy-greedy priority queues and stochastic-greedy sampling —
    // the round SHAPE stays this. Already-picked docs are excluded,
    // so rounds past exhaustion degrade to gain-0 picks
    // deterministically. The oracle unrolls all K rounds as a CTE
    // chain (the d73 idiom) — hash equality pins the full greedy
    // trajectory, not one round.
    "d82_coverage_select" -> { (s, d) =>
      val K = 10
      val sets = new graft.operators.LineageCheckpoint(s, None)(
        Tables.documents(s, d).select(col("doc_id"),
          array_distinct(TF.shingles(TF.tokens(col("text")), 3)).as("ss")))
      val covered = scala.collection.mutable.LinkedHashSet.empty[String]
      val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
      val rows = (1 to K).map { r =>
        // ONE job per round (r22, guide §1.2 job count): the argmax row
        // carries its novel-shingle array alongside, so the separate
        // point-lookup job the r21 shape paid per round is gone (rounds
        // cost 10 jobs, not 20). gain = size of the same array_except
        // the lookup recomputed; array ordering matches the old
        // filterNot (array_except preserves left order, ss is already
        // distinct), so the covered set grows identically.
        val top = sets
          .filter(if (picked.isEmpty) lit(true)
            else !col("doc_id").isin(picked.toSeq: _*))
          .select(col("doc_id"),
            array_except(col("ss"), lit(covered.toArray)).as("novel"))
          .select(col("doc_id"), col("novel"), size(col("novel")).as("gain"))
          .orderBy(col("gain").desc, col("doc_id"))
          .limit(1).collect().head
        val (id, gain) = (top.getLong(0), top.getInt(2).toLong)
        covered ++= top.getSeq[String](1)
        picked += id
        (r.toLong, id, gain, covered.size.toLong)
      }
      import s.implicits._
      rows.toDF("round", "doc_id", "gain", "covered_total")
    },

    // LSH PIPELINE RECALL — the recall-eval trilogy's text leg (v16
    // audits IVF, v24 audits PQ, this audits the d06 banded-minhash
    // dedup pipeline): every exact near-dup pair (d35's
    // complete-by-construction inverted index, threshold 0.05) is
    // binned by its true Jaccard and scored against whether the
    // 4-band LSH pipeline surfaced it. The S-curve is the tuning
    // artifact — one minhash per band puts a j-Jaccard pair's
    // collision odds at 1−(1−j)⁴, so low bands read < 1 while the
    // near-dup band reads 1.0; a dedup deployment reads this table
    // before choosing bands/rows, not after shipping misses. The
    // synthetic corpus is bimodal (a borderline j≈0.06 clump and the
    // planted ≥0.9 near-dups), so exactly the two ends of the curve
    // are populated — the low band genuinely misses here.
    // Both arms are the pinned operators; recall is exact integer
    // arithmetic per band.
    "d81_lsh_recall" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val exact = graft.text.Dedup.ngramJaccardPairs(docs,
        "doc_id", "text", threshold = 0.05)
      val lsh = graft.text.Dedup.nearDupPairs(docs,
        "doc_id", "text", threshold = 0.05)
        .select(col("a_id"), col("b_id"), lit(1L).as("_hit"))
      exact.join(lsh, Seq("a_id", "b_id"), "left")
        .withColumn("j_band", floor(col("jaccard") * 10).cast("long"))
        .groupBy(col("j_band"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("_hit"), lit(0L))).as("n_lsh"))
        .withColumn("recall_micro", expr("(n_lsh * 1000000) DIV n_exact"))
        .orderBy(col("j_band"))
    },

    // ZIPF FIT — the corpus-naturalness check curation teams run on a
    // new source: natural language's rank-frequency law is freq ∝
    // rank^s with s ≈ −1, and a source whose fitted slope sits far
    // from −1 is machine-generated, templated, or spam-dominated
    // before a human ever reads a sample. The top-64 terms rank via
    // the mergeable tagged heap (count DESC, term ASC — never a
    // vocabulary-sized window); ln(rank)/ln(freq) floor-quantize to
    // micro-BIGINTs per point BEFORE the regression sums (d40's
    // rule), so the least-squares slope/intercept derive in one fixed
    // double sequence from four exact integers. The synthetic corpus
    // has a 31-term near-uniform vocabulary, so the fit FAILS the
    // naturalness band (slope ≈ −0.18 ≫ −0.8) — `is_zipfian` = false
    // is the flag doing its job on data that genuinely is synthetic.
    "d80_zipf_fit" -> { (s, d) =>
      val topk = udaf(new graft.operators.Sketches.TopKByScoreTagged(64),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, String, java.lang.Long)]())
      val pts = Tables.documents(s, d)
        .select(explode(TF.tokens(col("text"))).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .agg(topk(col("c"), col("t"), col("c")).as("top"))
        .select(posexplode(col("top")).as(Seq("r0", "p")))
        .select(
          floor(log((col("r0") + 1).cast("double")) * lit(1000000.0))
            .cast("long").as("x"),
          floor(log(col("p._3").cast("double")) * lit(1000000.0))
            .cast("long").as("y"))
      val sums = pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      val slopeD = (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      sums.select(col("n").as("n_terms"),
        floor(slopeD * lit(1000000.0)).cast("long").as("slope_micro"),
        floor((col("sy").cast("double") - slopeD * col("sx").cast("double"))
          / col("n").cast("double")).cast("long").as("intercept_micro"))
        .withColumn("is_zipfian",
          col("slope_micro") >= -1200000L && col("slope_micro") <= -800000L)
    },

    // CANDIDATE-GRAPH TRANSITIVITY — the dedup-graph health check run
    // before trusting cluster-level decisions (d69's survivorship,
    // d77's group splits): high transitivity means the near-dup
    // candidate graph is clique-like (LSH buckets agree with each
    // other); low means borderline chains, where a single spurious
    // pair can weld two real clusters. Triangles count by the
    // DEGREE-ORDERED ORIENTATION (each edge points low→high in
    // (degree, id) order; count directed paths a→b→c closed by a→c) —
    // every triangle counted exactly once, and the per-vertex
    // out-degree is O(√m)-bounded, so the wedge join is O(m^1.5)
    // TOTAL instead of Σdeg² (a hub node's deg² explosion is exactly
    // what the orientation defuses at 100 TB — this is the standard
    // MapReduce triangle algorithm, Suri & Vassilvitskii 2011). Wedge
    // total is Σ C(deg, 2) off the node-keyed degree table; all
    // outputs are exact integers (transitivity as micro-units).
    "d78_graph_transitivity" -> { (s, d) =>
      val edges = graft.text.Dedup.nearDupPairs(
        Tables.documents(s, d), "doc_id", "text", threshold = 0.0)
        .select(least(col("a_id"), col("b_id")).as("a"),
          greatest(col("a_id"), col("b_id")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
      val deg = edges.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      val dir = edges
        .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            struct(col("a").as("src"), col("b").as("dst")))
            .otherwise(struct(col("b").as("src"), col("a").as("dst")))
            .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val tri = dir.as("e1")
        .join(dir.select(col("src").as("dst"), col("dst").as("c")).as("e2"),
          "dst")
        .join(dir.select(col("src"), col("dst").as("c")).as("e3"),
          Seq("src", "c"))
        .agg(count(lit(1)).as("n_triangles"))
      val base = deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("SUM(deg) DIV 2").as("n_edges"),
        sum(expr("deg * (deg - 1) DIV 2")).as("n_wedges"))
      base.crossJoin(broadcast(tri))
        .withColumn("transitivity_micro",
          expr("(3 * n_triangles * 1000000) DIV n_wedges"))
    },

    // Defense-in-depth DECONTAMINATION LEDGER: the three leak
    // detectors — exact 8-gram overlap (d30), MinHash-LSH near-dup
    // with edits (d37), embedding-space semantic similarity (v14,
    // vec_id ≡ doc_id in the synthetic corpus) — full-outer-joined
    // into one per-train-doc report, because real leaks evade any
    // single detector: at sf0.01 the three DISAGREE (doc 89 is
    // semantic-only, doc 30 is an LSH candidate every detector
    // clears, doc 92 trips n-grams AND near-dup but not embeddings);
    // `leaked` is the any-detector union a curation pipeline acts on.
    // Composition reuses the three query definitions verbatim, so the
    // ledger inherits their pinned scale shapes (broadcast eval
    // fingerprints, banded LSH, broadcast eval embeddings) and adds
    // only catalog-sized outer joins on doc_id.
    // BLOOM-GATED DECONTAMINATION — d30 at the scale where the eval
    // fingerprint set can no longer broadcast EXACTLY (a full
    // benchmark suite's 8-gram set reaches billions of entries; the
    // q38 mechanics applied to the decontamination join): the eval
    // fps fold into a 4 KB bloom row ([[graft.operators.Bloom]]),
    // every train (doc, fp) probes it ROW-LOCALLY in the scan, and
    // only candidates (394 of 23,256 at sf0.01 — a 59× cut) reach the
    // exact residual join that removes the false positives (376 of
    // 394 here — the witness columns carry all three counts per doc).
    // n_shared is exactly d30's answer for every doc: the bloom can
    // never lose a true match (no-false-negative contract, BloomSpec).
    // Cost honesty: the n_probed witness needs every doc's distinct
    // fingerprint count, which is one doc-keyed exchange of all
    // (doc, fp) pairs; a pure serving form drops that column and ships
    // only bloom-passed pairs (d30's join shape behind the prefilter).
    "d64_bloom_decontaminate" -> { (s, d) =>
      val Mb = 4096; val J = 3
      import graft.operators.Bloom
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TF.shingles(TF.tokens(col("text")), 8)).as("sh8"))
      val evalFp = sh.filter(col("doc_id") % 50 === 0)
        .select(md5(col("sh8")).as("fp")).distinct()
      val bloomRow = Bloom.buildRow(evalFp, "fp", mBits = Mb, j = J)
      val (kh1, kh2) = Bloom.hashes(col("fp"))
      val tagged = sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), md5(col("sh8")).as("fp")).distinct()
        .crossJoin(broadcast(bloomRow))
        .withColumn("h1", kh1).withColumn("h2", kh2)
        .withColumn("cand",
          Bloom.mightContain("h1", "h2", "bloom", mBits = Mb, j = J))
      val shared = tagged.filter(col("cand"))
        .join(broadcast(evalFp), "fp")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
      tagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_probed"),
          sum(col("cand").cast("long")).as("n_bloom_pass"))
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_probed"), col("n_bloom_pass"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"))
        .orderBy(col("doc_id"))
    },

    // d64's PURE SERVING face — the form a production decontamination
    // job actually runs nightly: only contaminated docs and their true
    // overlap counts, NO witness columns. Dropping n_probed drops the
    // doc-keyed exchange of the FULL (doc, fp) pair set (d64's
    // documented cost): here the bloom probe filters BEFORE any
    // doc-keyed exchange, so only bloom-passed candidates (394 of
    // 23,256 pairs at sf0.01) ever cross a shuffle — the 59× candidate
    // cut becomes a 59× shuffle cut. Probing before the (doc, fp)
    // dedup is sound because the probe is a pure function of fp.
    // n_shared per doc is bit-identical to d64's (and d30's): the
    // exact residual join still removes every false positive.
    "d65_bloom_serving" -> { (s, d) =>
      val Mb = 4096; val J = 3
      import graft.operators.Bloom
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TF.shingles(TF.tokens(col("text")), 8)).as("sh8"))
      val evalFp = sh.filter(col("doc_id") % 50 === 0)
        .select(md5(col("sh8")).as("fp")).distinct()
      val bloomRow = Bloom.buildRow(evalFp, "fp", mBits = Mb, j = J)
      val (kh1, kh2) = Bloom.hashes(col("fp"))
      // h1/h2 materialize BELOW the cross join: a probe filter above a
      // BroadcastNestedLoopJoin fuses into the join CONDITION, which is
      // compiled without subexpression elimination — with h1/h2 still
      // symbolic, the fused condition re-evaluated the md5 chain once
      // per bit test per row (measured 3.4 s vs ~1 s at sf0.1).
      // Projected as child columns, the condition is J bit reads.
      sh.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), md5(col("sh8")).as("fp"))
        .withColumn("h1", kh1).withColumn("h2", kh2)
        .crossJoin(broadcast(bloomRow))
        .filter(Bloom.mightContain("h1", "h2", "bloom", mBits = Mb, j = J))
        .select(col("doc_id"), col("fp")).distinct()
        .join(broadcast(evalFp), "fp")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .orderBy(col("doc_id"))
    },

    // DEDUP-CASCADE ATTRITION funnel — the accounting report for the
    // three dedup mechanisms run in production order (exact bytes →
    // n-gram near-dup at 0.5 → embedding-space semantic at 0.4), with
    // d56's first-fail attribution: each removed doc is charged to the
    // FIRST stage that catches it, so the report shows what each later
    // stage adds beyond the earlier ones (the marginal-value question
    // every pipeline owner asks before paying for the next stage).
    // Keeper policy is uniform smaller-id-wins: a doc is flagged when
    // it is the larger side of a duplicate relation. All three stages
    // are the pinned machinery (d04 fingerprint groups, d06's banded
    // candidates at the 0.5 gate, v09's cell-restricted pairs via the
    // vec_id ≡ doc_id correspondence); the flags fold in one
    // 10-counter aggregate + a 1-row stack.
    "d63_dedup_cascade" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val wFp = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("text")))
      val f1 = docs.select(col("doc_id"),
        (col("doc_id") > min(col("doc_id")).over(wFp)).as("f1"))
      val f2 = graft.text.Dedup.nearDupPairs(
          docs, "doc_id", "text", threshold = 0.5)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("f2", lit(true))
      val f3 = graft.operators.SemanticDedup.semanticDupPairs(
          Tables.embeddings(s, d), "vec_id", "embedding",
          k = 8, iters = 1, threshold = 0.4)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("f3", lit(true))
      def cnt(c: Column) = sum(c.cast("long"))
      f1.join(f2, Seq("doc_id"), "left").join(f3, Seq("doc_id"), "left")
        .select(col("f1"), coalesce(col("f2"), lit(false)).as("f2"),
          coalesce(col("f3"), lit(false)).as("f3"))
        .agg(count(lit(1)).as("total"),
          cnt(col("f1")).as("any1"), cnt(col("f2")).as("any2"),
          cnt(col("f3")).as("any3"),
          cnt(col("f1")).as("first1"),
          cnt(!col("f1") && col("f2")).as("first2"),
          cnt(!col("f1") && !col("f2") && col("f3")).as("first3"))
        .select(expr(
          """stack(3,
            | 's1_exact',    any1, first1, total - first1,
            | 's2_near_dup', any2, first2, total - first1 - first2,
            | 's3_semantic', any3, first3, total - first1 - first2 - first3
            |) AS (stage, n_flagged_any, n_removed_first, n_remaining)"""
            .stripMargin))
        .orderBy(col("stage"))
    },

    // CLUSTER TOPIC LABELING — the cross-modal composition the two
    // table families exist for: documents cluster in EMBEDDING space
    // (v05's shuffle-free argmax assignment against the broadcast
    // 8-seed codebook, riding the vec_id ≡ doc_id correspondence the
    // decontamination suite already uses), then each cluster is
    // LABELED from its members' TEXT — top-3 terms by summed TF-IDF
    // (d61's micro-quantized idf, aggregated per cell instead of per
    // doc). This is how an unlabeled corpus gets human-readable
    // cluster names; every stage is pinned machinery and the whole
    // composition replays in the oracle. The per-cell ranking is the
    // MERGEABLE tagged top-k aggregate (e19's idiom with term tags) —
    // a rank window partitioned by cell would sort each cell's ENTIRE
    // vocabulary in one task (at 100 TB that is 10⁷–10⁸ rows through
    // 8 straggler tasks, the exact shape d47/e18 banished); the
    // aggregate state is 3 rows per cell per task, map-side combined.
    "d62_cluster_topics" -> { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val seeds = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("seed_id"), col("embedding").as("seed_vec"))
      val assigned = graft.operators.Similarity.ivfAssign(
        emb, "vec_id", "embedding", seeds, "seed_id", "seed_vec")
        .select(col("vec_id").as("doc_id"), col("cell"))
      val docs = Tables.documents(s, d)
      val terms = docs.select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("term"))
      val tf = terms.join(assigned, "doc_id")
        .groupBy(col("cell"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val idf = terms.groupBy(col("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("term"),
          floor(log(col("n_docs").cast("double") / col("df").cast("double"))
            * lit(1000000.0)).cast("long").as("idf_micro"))
      val topk = udaf(new graft.operators.Sketches.TopKByScoreTagged(3),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[(java.lang.Long, String, java.lang.Long)]())
      tf.join(idf, "term")
        .withColumn("score_micro", col("tf") * col("idf_micro"))
        .groupBy(col("cell"))
        .agg(topk(col("score_micro"), col("term"), col("tf")).as("top"))
        .select(col("cell"), posexplode(col("top")).as(Seq("r0", "p")))
        .select(col("cell"), (col("r0") + 1).cast("long").as("rank"),
          col("p._2").as("term"), col("p._3").as("tf"),
          col("p._1").as("score_micro"))
        .orderBy(col("cell"), col("rank"))
    },

    // TF-IDF KEYWORD EXTRACTION: each document's top-3 most
    // characteristic terms — tf · ln(N/df), the tagging/retrieval-
    // feature face of d18's vocabulary stats (same inverted-index
    // shape: one term-keyed exchange for document frequencies, one
    // doc-keyed exchange for the per-doc rank). Parity shape: idf
    // floor-quantizes to micro-units per TERM (the d40 ln rule), so a
    // score is the exact integer tf · idf_micro and ranks with a total
    // (score desc, term asc) order. The per-doc rank window partitions
    // by doc_id — groups are doc-sized, never corpus-sized, so unlike
    // the banished per-type NTILE shapes this window scales with the
    // longest document, not the table.
    "d61_tfidf_keywords" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val terms = docs.select(col("doc_id"),
        explode(TF.tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term"))
        .agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .select(col("term"),
          floor(log(col("n_docs").cast("double") / col("df").cast("double"))
            * lit(1000000.0)).cast("long").as("idf_micro"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_micro").desc, col("term"))
      tf.join(df, "term")
        .withColumn("score_micro", col("tf") * col("idf_micro"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("score_micro"))
        .orderBy(col("doc_id"), col("rank"))
    },

    // MinHash ESTIMATOR CALIBRATION — the v16-style eval face for the
    // text-dedup estimator: for every d06 candidate pair, the
    // signature-agreement estimate (agreeing components / 4 — what LSH
    // banding actually observes) against the exact shingle Jaccard,
    // bucketed by agreement level with pair counts, mean exact J, and
    // mean |error|. The tuning table for bands/threshold choices:
    // it shows directly how much the 4-component estimate over- or
    // under-shoots at each level. Parity shape: per-pair J and error
    // quantize to micro-unit BIGINTs (d40's floor rule) so the bucket
    // means are exact integer sums divided at presentation — a raw
    // double mean would be merge-order-dependent and never
    // hash-checkable. Candidates come from the same banded index
    // (never all-pairs); the signature re-join is two node-keyed
    // equi-joins.
    "d60_minhash_calibration" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val pairs = graft.text.Dedup.nearDupPairs(
        docs, "doc_id", "text", threshold = 0.0)
      val sigs = docs.select(col("doc_id"),
        graft.functions.text.minhashSlices(
          TF.shingles(TF.tokens(col("text")), 3), 4).as("sig"))
      pairs
        .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("sa")),
          "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")),
          "b_id")
        .withColumn("n_agree", expr(
          "aggregate(zip_with(sa, sb, (x, y) -> CASE WHEN x = y THEN 1 " +
            "ELSE 0 END), 0, (acc, v) -> acc + v)").cast("long"))
        .withColumn("jm", floor(col("jaccard") * lit(1000000.0)).cast("long"))
        .withColumn("em", col("n_agree") * lit(250000L))
        .groupBy(col("n_agree"))
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("jm")).cast("double") / count(lit(1)).cast("double")
            / lit(1000000.0)).as("avg_jaccard"),
          (sum(abs(col("em") - col("jm"))).cast("double")
            / count(lit(1)).cast("double") / lit(1000000.0))
            .as("mean_abs_err"))
        .orderBy(col("n_agree"))
    },

    // CONTAMINATION-AWARE train/val/test split — the split you
    // actually ship: d17's deterministic hash buckets, with the d55
    // defense-in-depth ledger's any-detector leak set overriding a
    // training doc's bucket to 'quarantine', and the held-out eval
    // slice (the detectors' own doc_id % 50 convention) labeled
    // 'eval' rather than leaking into training buckets. The leak set
    // is small by construction (broadcast left join); everything else
    // is d17's scan-local bucketing, so the report costs the ledger
    // plus one catalog-sized rollup. At sf0.01 all five labels occur —
    // the quarantine rows are exactly the ledger's leaked docs.
    "d59_clean_split" -> { (s, d) =>
      val leaked = queries("d55_decontamination_ledger")(s, d)
        .filter(col("leaked"))
        .select(col("doc_id"), lit(true).as("is_leaked"))
      val bucket = TF.hash32(col("doc_id").cast("string")) % 100
      Tables.documents(s, d)
        .join(broadcast(leaked), Seq("doc_id"), "left")
        .select(col("lang"),
          when(col("doc_id") % 50 === 0, "eval")
            .when(col("is_leaked"), "quarantine")
            .when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))
    },

    // DSIR-weighted RESAMPLING — the composition d50 and d39 exist
    // for: target-domain importance weights (exact integer per-doc
    // log-ratio sums against the 'en' slice) drive the deterministic
    // systematic PPS sampler, yielding the target-matched subcorpus
    // with per-doc multiplicities (n_hits > 1 = upsampled, the
    // with-replacement semantics DSIR prescribes — multiplicity 2
    // occurs at sf0.01). Weights shift positive by the broadcast
    // global minimum (+1) so the sampler's integer arithmetic stays
    // exact; every stage is the already-pinned machinery
    // ([[graft.text.UnigramLm.importanceWeights]],
    // [[graft.operators.Sampling.ppsSystematic]]), so the whole
    // composition inherits their scale shapes: broadcast-model
    // scoring, one group-keyed sampling exchange, no cross products.
    "d58_dsir_resample" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val wts = graft.text.UnigramLm.importanceWeights(
        docs, "doc_id", "text", col("lang") === "en")
        .select(col("doc_id"), col("lr_sum"))
      val shift = wts.agg(min(col("lr_sum")).as("mn"))
      val weighted = docs.select(col("source"), col("doc_id"))
        .join(wts, "doc_id")
        .crossJoin(broadcast(shift))
        .select(col("source"), col("doc_id"),
          (col("lr_sum") - col("mn") + 1).as("w"))
      graft.operators.Sampling.ppsSystematic(weighted,
        groupCols = Seq("source"), idCol = "doc_id",
        weightCol = "w", budget = 20)
        .select(col("source"), col("doc_id"), col("w"), col("n_hits"))
        .orderBy(col("source"), col("doc_id"))
    },

    // fastText-shape HASHED LINEAR CLASSIFIER serving: bag-of-tokens →
    // hash-bucketed feature ids (mod D=1024) → broadcast weight-table
    // join → exact integer logit sum per doc → threshold label. This
    // is the quality-classifier SERVING shape (the d40/d41 LM gate's
    // discriminative sibling): the model is a D-row table, so at
    // 100 TB the corpus explodes scan-side, the weight join is a
    // BroadcastHashJoin (pinned), and the per-doc sum partial-
    // aggregates map-side — one doc-keyed exchange end to end.
    // Weights are micro-unit integers derived from md5 of the bucket
    // id (a deterministic stand-in for trained parameters — the
    // plumbing, not the training, is the claim), so logits are EXACT
    // integer sums, order-independent and hash-checkable; both labels
    // occur at sf0.01 (12 positive / 500).
    "d57_hashed_classifier" -> { (s, d) =>
      val D = 1024
      import graft.text.TextFunctions.hash32
      val weights = broadcast(s.range(D).toDF("bucket")
        .select(col("bucket"),
          (hash32(concat(lit("w#"), col("bucket").cast("string"))) % 2001
            - 1000).as("w")))
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.text.TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), (hash32(col("tok")) % D).as("bucket"))
        .join(weights, "bucket")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("logit"))
        .select(col("doc_id"), col("n_tokens"), col("logit"),
          (col("logit") > 0).as("label"))
        .orderBy(col("doc_id"))
    },

    // Dolma/RedPajama-style QUALITY-FILTER CASCADE with per-rule
    // attrition attribution: four row-local rules applied in a fixed
    // order (token count, distinct-token diversity, mean word length,
    // char length) and, per rule, three numbers — docs it fails AT ALL,
    // docs whose FIRST failing rule it is (the attribution: each
    // removed doc is charged to exactly one rule, so first-fail sums
    // to total-removed), and docs remaining after rules 1..i (the
    // attrition funnel). All four rules BITE at sf0.01 (169/240/40/146
    // any-fails; 83/500 survive). Shape: every rule is a pure
    // projection riding the scan (no explode — diversity uses
    // array_distinct row-locally), ONE partial+final aggregate row of
    // 9 counters, then a stack over that single row — at 100 TB the
    // report costs exactly one scan and one 1-row exchange. Counts
    // are exact integers; the two double thresholds compare per-row
    // IEEE arithmetic, deterministic on both engines.
    "d56_filter_cascade" -> { (s, d) =>
      val toks = graft.text.TextFunctions.tokens(col("text"))
      val nTok = size(toks)
      val g = Tables.documents(s, d).select(
        (nTok < 40).as("f1"),
        (size(array_distinct(toks)).cast("double") / nTok.cast("double")
          < 0.45).as("f2"),
        (((col("n_chars") - (nTok - 1)).cast("double") / nTok.cast("double")
          < 4.0) ||
          ((col("n_chars") - (nTok - 1)).cast("double") / nTok.cast("double")
            > 4.8)).as("f3"),
        (col("n_chars") > 400).as("f4"))
      def cnt(c: Column) = sum(c.cast("long"))
      g.agg(
        count(lit(1)).as("total"),
        cnt(col("f1")).as("any1"), cnt(col("f2")).as("any2"),
        cnt(col("f3")).as("any3"), cnt(col("f4")).as("any4"),
        cnt(col("f1")).as("first1"),
        cnt(!col("f1") && col("f2")).as("first2"),
        cnt(!col("f1") && !col("f2") && col("f3")).as("first3"),
        cnt(!col("f1") && !col("f2") && !col("f3") && col("f4")).as("first4"))
        .select(expr(
          """stack(4,
            | 'r1_too_short',     any1, first1, total - first1,
            | 'r2_low_diversity', any2, first2, total - first1 - first2,
            | 'r3_word_length',   any3, first3, total - first1 - first2 - first3,
            | 'r4_too_long',      any4, first4, total - first1 - first2 - first3 - first4
            |) AS (rule, n_failed_any, n_failed_first, n_remaining)""".stripMargin))
        .orderBy(col("rule"))
    },

    "d55_decontamination_ledger" -> { (s, d) =>
      val ex = queries("d30_decontaminate")(s, d)
      val nd = queries("d37_neardup_decontaminate")(s, d)
        .select(col("doc_id"), col("best_jaccard"),
          col("contaminated").as("neardup_flag"))
      val sem = VectorQueries.queries("v14_semantic_decontaminate")(s, d)
        .select(col("train_id").as("doc_id"),
          col("score").as("semantic_score"))
      ex.join(nd, Seq("doc_id"), "full_outer")
        .join(sem, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("n_shared"), lit(0L)).as("exact_ngrams"),
          coalesce(col("neardup_flag"), lit(false)).as("neardup_flag"),
          col("best_jaccard"), col("semantic_score"),
          (coalesce(col("n_shared"), lit(0L)) > 0 ||
            coalesce(col("neardup_flag"), lit(false)) ||
            col("semantic_score").isNotNull).as("leaked"))
        .orderBy(col("doc_id"))
    },

    // Edit-distance RESCORE of near-dup candidates: token-level
    // Jaccard and character-level similarity disagree exactly where
    // dedup decisions are hardest (small in-word edits shred shingles;
    // reordered tokens keep them), so production pipelines gate on
    // BOTH. Candidates come from the d35 inverted index at a
    // recall-oriented threshold (any meaningful shingle overlap);
    // each pair is then rescored with BANDED Levenshtein and kept only
    // at >= 0.8 normalized char similarity — at sf0.01 the gate BITES
    // hard: 25 of 312 candidates survive, exactly the true-dup set.
    // 100-TB shape: the DP runs only on candidate PAIRS the index
    // bounded (never all-pairs; d36's df cap is the volume lever), the
    // text join is two equi-joins on doc_id, and the DP itself is the
    // threshold form — O(len·band) with distances beyond the band
    // reported as -1 (sim null, never kept), because a clear non-dup's
    // exact distance is information nobody pays O(len²) for. The band
    // must dominate (1 − simThreshold)·maxDocLen for the keep decision
    // to stay exact — 112 > 0.2 × 553 (the corpus max; re-derive when
    // documents grow). The oracle caps DuckDB's full distance with the
    // identical -1 rule, so the banded face stays hash-exact.
    "d54_edit_rescore" -> { (s, d) =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.text.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
          threshold = 0.02)
        .join(docs.select(col("doc_id").as("a_id"), col("text").as("a_text")),
          "a_id")
        .join(docs.select(col("doc_id").as("b_id"), col("text").as("b_text")),
          "b_id")
        .withColumn("edit_dist",
          levenshtein(col("a_text"), col("b_text"), EditBand).cast("long"))
        .withColumn("edit_sim",
          when(col("edit_dist") >= 0L,
            lit(1.0) - col("edit_dist").cast("double")
              / greatest(length(col("a_text")), length(col("b_text")))
                .cast("double")))
        .select(col("a_id"), col("b_id"), col("jaccard"), col("edit_dist"),
          col("edit_sim"),
          coalesce(col("edit_sim") >= lit(0.8), lit(false)).as("kept"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Vocabulary-drift report ([[graft.text.UnigramLm.termDrift]]):
    // WHICH tokens drive the en-vs-corpus divergence — the monitoring
    // face of d50's importance weights (drift between crawl
    // snapshots/domains/time windows, reported per term instead of
    // scored per doc). contrib_micro = c_target·lr is each term's
    // exact integer contribution to the scaled KL sum, so the top-20
    // |contribution| ranking replays exactly; ties break on the term.
    "d52_vocab_drift" -> { (s, d) =>
      graft.text.UnigramLm.termDrift(
        Tables.documents(s, d), "doc_id", "text", col("lang") === "en")
        .orderBy(abs(col("contrib_micro")).desc, col("term"))
        .limit(20)
    },

    // DSIR-style target-domain selection
    // ([[graft.text.UnigramLm.importanceWeights]]): every document
    // scored by its mean per-token log importance ratio between the
    // English-subset unigram model and the full-corpus model —
    // "how much does this doc look like the target domain", the
    // principled form of the quality question d08/d40 answer with
    // absolute thresholds. The driver's synthetic languages share most
    // of their vocabulary, so the margin is small — but the MEANS
    // separate with the right sign (en positive, every other language
    // negative at sf0.01) and the oracle pins every per-doc sum
    // exactly, which is what the row is for. `selected` keeps the
    // target lookalikes. Both ln's quantize to 1e-6 BIGINTs per term
    // BEFORE subtracting, so the subtraction can't let the engines'
    // ln disagreements cancel differently.
    "d50_dsir_weights" -> { (s, d) =>
      graft.text.UnigramLm.importanceWeights(
        Tables.documents(s, d), "doc_id", "text", col("lang") === "en")
        .withColumn("selected", col("avg_lr") > lit(0.0))
        .orderBy(col("doc_id"))
    },

    // Per-language n-gram diversity profile — the corpus-level lexical
    // stat (distinct trigram count ~ "how much unique text is here")
    // that sizes dedup and mixing decisions before any pipeline runs.
    // The KMV sketch ([[graft.operators.Sketches.KmvDistinct]], q22's
    // text face) estimates distinct shingles with O(k) state per
    // language where exact countDistinct ships every distinct shingle
    // STRING through the exchange — on a 100-TB corpus that exact state
    // is the corpus itself; here the exact column stays as the accuracy
    // witness (every language's 3k–9k distinct shingles exceed k=256,
    // so this row pins the ESTIMATOR path, where q22's groups pin
    // below-k exactness).
    "d43_ngram_profile" -> { (s, d) =>
      val kmv = udaf(new graft.operators.Sketches.KmvDistinct(NgramKmvK),
        org.apache.spark.sql.Encoders.scalaLong)
      Tables.documents(s, d)
        .select(col("lang"),
          explode(TF.shingles(TF.tokens(col("text")), 3)).as("sh"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_shingles"),
          countDistinct(col("sh")).as("n_exact"),
          kmv(graft.operators.Sketches.kmvInput(TF.hash32(col("sh"))))
            .as("est_distinct"))
        .orderBy(col("lang"))
    },

    // Repetition-quality stats (the Gopher-style repetition filter, the
    // gate d08's length/punct ratios cannot express): type-token ratio
    // and the most-frequent-term share of each document, flagging
    // low-diversity / highly repetitive docs. Two map-side-combined
    // aggregations — (doc, term) counts then per-doc max/sum — no
    // row-level state, so the 100-TB shape is two partial+final shuffles
    // keyed by doc id. Ratios are exact-int IEEE divisions (engine-
    // identical); thresholds are double literals on both sides.
    "d32_repetition_stats" -> { (s, d) =>
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("c"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          (count(lit(1)).cast("double") / sum(col("c"))).as("ttr"),
          (max(col("c")).cast("double") / sum(col("c"))).as("top_frac"))
        .select(col("doc_id"), col("n_tokens"), col("ttr"), col("top_frac"),
          (col("ttr") < lit(0.4) || col("top_frac") > lit(0.12))
            .as("flagged"))
        .orderBy(col("doc_id"))
    },

    // Token-count estimation three ways: whitespace split, regex word
    // extraction (the BPE-ish surrogate), chars/4 heuristic.
    "d14_token_estimate" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(TF.tokens(col("text"))).cast("long").as("ws_tokens"),
          size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
            .cast("long").as("re_tokens"),
          ceil(col("n_chars") / 4.0).cast("long").as("est_bpe"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split: bucket = hash of the stable id
    // (NOT a random() — reproducible across runs, engines, partitions),
    // 80/10/10, with per-language stratification counts so skew is
    // visible. The split column is what a 100 TB pipeline partitions
    // training shards by.
    "d17_train_split" -> { (s, d) =>
      val bucket = TF.hash32(col("doc_id").cast("string")) % 100
      Tables.documents(s, d)
        .select(col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("split"), col("lang"))
    },

    // Vocabulary statistics — the inverted-index shape: explode tokens,
    // one shuffle keyed by term, term frequency + document frequency
    // (distinct doc count) per token. At 100 TB this is the vocabulary-
    // build pass of a tokenizer-training pipeline; the distinct-doc agg
    // is the classic expand+two-phase count-distinct.
    "d18_term_stats" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TF.tokens(col("text"))).as("term"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("term"))
    },

    // Order-SENSITIVE document fingerprint: polynomial rolling hash over
    // token hashes, h ← (31·h + hash32(tok)) mod (2³¹−1). Distinguishes
    // permuted documents, which the set-based minhash/md5 fingerprints
    // by design do not. Pure projection, one md5 per token.
    "d16_rolling_fingerprint" -> { (s, d) =>
      val M = 2147483647L
      Tables.documents(s, d)
        .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(col("toks"), t => TF.hash32(t)).as("hs"))
        .select(col("doc_id"),
          aggregate(col("hs"), lit(0L),
            (acc, h) => (acc * 31 + h) % M).as("rolling_fp"))
        .orderBy(col("doc_id"))
    },

    // P12–P15 as declarative projections: metadata enrich / Section
    // header prepend (RHPD:216–241) / index_name derivation (RHPD:271) /
    // source stamp (WEB:169–170). Pure string expressions in the scan.
    "d10_enrich_project" -> { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("Section: "), col("source"), lit(" / d"), col("doc_id"))
            .as("section_trail"),
          concat(lit("Section: "), col("source"), lit(" / d"), col("doc_id"),
            lit("\n\nContent:\n"), col("text")).as("page_content"),
          lower(translate(
            concat_ws("_", col("source"), col("lang"), lit("2.14-beta")),
            "-.", "__")).as("index_name"),
          col("source").as("metadata_source"))
        .orderBy(col("doc_id"))
    },

    // Q5 retrieve→context-fold (reference: WEB-LOCAL
    // ingestion-pipeline-website-local.py:178–200): top-4 by cosine to a
    // stored probe vector, joined to documents, folded into one prompt
    // context string in retrieval-rank order. The LLM call itself sits
    // behind the LlmClient trait — out of engine scope.
    "d09_rag_context" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val probe = e.filter(col("vec_id") === 7)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      e.withColumn("score",
          vectors.cosineSimilarity(col("embedding"), lit(probe)))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(4)
        .join(Tables.documents(s, d), col("vec_id") === col("doc_id"))
        .select(col("score"), col("vec_id"),
          concat(lit("Title: "), col("source"), lit("/d"), col("doc_id"),
            lit("\nContent: "), substring(col("text"), 1, 60)).as("piece"))
        .agg(count(lit(1)).as("n_chunks"),
          array_join(
            transform(
              array_sort(collect_list(
                struct((-col("score")).as("ns"), col("vec_id"), col("piece")))),
              x => x.getField("piece")), "\n\n").as("context"))
    }
  )

  /** Shared DuckDB CTE chain producing the LSH candidate-pair list over
    * source relation `src` (must expose doc_id, text) — tokenize →
    * 3-shingle → 4 banded minhash slices of one md5 digest →
    * same-(band,mh) pairs with a_id < b_id. Used verbatim by the d06
    * pair oracle, the d19 connected-components oracle and the d23
    * corpus-prep oracle so they can never drift.
    */
  /** One BPE training round for the d73 oracle: pair counts over
    * symsP, the 1-row argmax, and the per-word recursive fusion walk
    * producing symsR (r = round, p = r − 1).
    */
  private def bpeRoundCtes(r: Int): String = {
    val p = r - 1
    s"""pc$r AS (SELECT s.pair, CAST(SUM(w.wc) AS BIGINT) AS cnt
       |       FROM syms$p w,
       |            LATERAL (SELECT unnest(list_transform(
       |               range(1, len(w.syms)),
       |               i -> w.syms[i] || ' ' || w.syms[i+1])) AS pair) s
       |       GROUP BY 1),
       |best$r AS (SELECT pair, cnt,
       |         string_split(pair, ' ')[1] AS a,
       |         string_split(pair, ' ')[2] AS b
       |        FROM pc$r ORDER BY cnt DESC, pair LIMIT 1),
       |walk$r(w, wc, i, out) AS (
       |  SELECT w, wc, 1, CAST([] AS VARCHAR[]) FROM syms$p
       |  UNION ALL
       |  SELECT k.w, k.wc,
       |    CASE WHEN k.i + 1 <= len(s.syms)
       |          AND s.syms[k.i] = b.a AND s.syms[k.i+1] = b.b
       |         THEN k.i + 2 ELSE k.i + 1 END,
       |    CASE WHEN k.i + 1 <= len(s.syms)
       |          AND s.syms[k.i] = b.a AND s.syms[k.i+1] = b.b
       |         THEN list_append(k.out, s.syms[k.i] || s.syms[k.i+1])
       |         ELSE list_append(k.out, s.syms[k.i]) END
       |  FROM walk$r k JOIN syms$p s ON k.w = s.w CROSS JOIN best$r b
       |  WHERE k.i <= len(s.syms)),
       |syms$r AS (
       |  SELECT k.w, k.wc, k.out AS syms
       |  FROM walk$r k JOIN syms$p s ON k.w = s.w
       |  WHERE k.i > len(s.syms))""".stripMargin
  }

  /** One unrolled greedy max-coverage round for the d82 oracle (the
    * [[bpeRoundCtes]] idiom): gains against the previous covered
    * list via `list_intersect` (no subquery-in-lambda), the
    * (gain DESC, doc_id) argmax, and the covered list extended by the
    * pick's novel shingles. Already-picked docs are excluded by an
    * inequality chain over the earlier argmax CTEs.
    */
  private def coverRoundCtes(r: Int): String = {
    // MATERIALIZED is load-bearing: each round references the previous
    // round's CTEs more than once, and DuckDB's default inlining would
    // re-expand the whole chain per reference — exponential in rounds
    // (the un-hinted form never finished; hinted runs in ~2 s).
    val prevCov = s"c${r - 1}"
    val excluded =
      if (r == 1) ""
      else (1 until r)
        .map(j => s"s.doc_id <> (SELECT doc_id FROM b$j)")
        .mkString(" WHERE ", " AND ", "")
    s"""g$r AS MATERIALIZED (SELECT s.doc_id,
       |        CAST(len(s.ss) - len(list_intersect(s.ss, c.cov)) AS BIGINT)
       |         AS gain
       |       FROM sets s CROSS JOIN $prevCov c$excluded),
       |b$r AS MATERIALIZED (SELECT doc_id, gain FROM g$r
       |        ORDER BY gain DESC, doc_id LIMIT 1),
       |c$r AS MATERIALIZED (SELECT c.cov ||
       |         list_filter(s.ss, x -> NOT list_contains(c.cov, x)) AS cov
       |        FROM sets s CROSS JOIN $prevCov c
       |        WHERE s.doc_id = (SELECT doc_id FROM b$r))""".stripMargin
  }

  private def candCtes(src: String): String =
    s"""t AS (SELECT doc_id, string_split(text,' ') AS toks FROM $src),
      |sh AS (SELECT doc_id, list_transform(range(1, len(toks)-1),
      |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) AS sh FROM t),
      |sig AS (SELECT doc_id, band,
      |         list_aggregate(list_transform(sh,
      |          s -> CAST(('0x'||substr(md5(s), 1+8*band, 8)) AS BIGINT)),'min') AS mh
      |        FROM sh, (VALUES (0),(1),(2),(3)) b(band)),
      |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      |         FROM sig x JOIN sig y
      |          ON x.band=y.band AND x.mh=y.mh AND x.doc_id<y.doc_id)""".stripMargin

  private val CandCtes: String = candCtes("documents")

  /** Min-label connected components as a recursive transitive closure
    * over the candidate edges — the one oracle of d19, d71, d109 and
    * d112 (each key checks its own Spark path against it).
    */
  private val DupComponentsSql: String =
    s"""WITH RECURSIVE $CandCtes,
      |e AS (SELECT a_id AS src, b_id AS dst FROM cand
      |      UNION SELECT b_id, a_id FROM cand),
      |reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM e
      |  UNION
      |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
      |SELECT id, MIN(r) AS component FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  /** DuckDB CTE chain mirroring [[graft.text.LangId.langId]] over
    * `src(doc_id, text)`, ending in relation `lang(doc_id, lang_guess)`:
    * profile IN-lists generated from [[graft.text.LangId.Profiles]], the
    * same 0.08 floor, and the alphabetical tie-break encoded in CASE
    * evaluation order (de with >=, then en, es, fr).
    */
  private def langCtes(src: String): String = {
    def inList(lang: String) = graft.text.LangId.Profiles(lang)
      .toSeq.sorted.map(w => s"'$w'").mkString(", ")
    def score(lang: String) =
      s"CASE WHEN len(ltoks) = 0 THEN 0 ELSE CAST(len(list_filter(ltoks, " +
        s"x -> x IN (${inList(lang)}))) AS DOUBLE) / len(ltoks) END AS $lang"
    s"""lt AS (SELECT doc_id,
       |  list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |              x -> x <> '') AS ltoks
       | FROM $src),
       |ls AS (SELECT doc_id, len(ltoks) AS ln,
       |  ${score("de")}, ${score("en")}, ${score("es")}, ${score("fr")}
       | FROM lt),
       |lang AS (SELECT doc_id,
       |  CASE WHEN ln = 0 OR greatest(de, en, es, fr) < 0.08 THEN 'und'
       |       WHEN de >= en AND de >= es AND de >= fr THEN 'de'
       |       WHEN en >= es AND en >= fr THEN 'en'
       |       WHEN es >= fr THEN 'es'
       |       ELSE 'fr' END AS lang_guess
       | FROM ls)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[graft.text.Bm25.score]] for the fixed
    * query terms, ending in relation `bm(doc_id, score)`. Every
    * fractional constant is an e-notation DOUBLE literal (plain decimals
    * are DECIMAL in DuckDB — different arithmetic); the operation order
    * mirrors the Column expression token for token; ROUND(_, 9) on both
    * engines absorbs ln's last-ulp libm differences.
    */
  private def bm25Ctes: String = {
    val terms = QueryTerms.distinct
    val dfs = terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(",\n  ")
    val perTerm = terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(bt.toks, x -> x = '$t')) AS DOUBLE)"
      s"ln((bs.n - bs.df$i + 0.5e0) / (bs.df$i + 0.5e0) + 1.0e0)" +
        s" * ($tf * 2.2e0)" +
        s" / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * CAST(len(bt.toks) AS DOUBLE) / bs.avgdl))"
    }.mkString("\n   + ")
    s"""bt AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |bs AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl,
       |  $dfs
       | FROM bt),
       |bm AS (SELECT bt.doc_id, ROUND($perTerm, 9) AS score FROM bt, bs)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[graft.text.Dedup.simhashFingerprints]]
    * over documents, ending in relation `sim(doc_id, simhash)`. Shared
    * by the d13 fingerprint oracle and the d27 near-dup oracle.
    */
  private def simhashCtes: String = {
    val balances = (0 until 32).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n  ")
    val fp = (0 until 32).map(b =>
      s"CASE WHEN b$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       | SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
       |h AS (
       | SELECT doc_id, CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) AS h FROM tok),
       |bal AS (
       | SELECT doc_id,
       |  $balances
       | FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $fp AS simhash FROM bal)""".stripMargin
  }

  /** d55's full ledger SQL, shared verbatim with d59 (which embeds
    * it as a CTE) so the two oracles can never drift. */
  private val D55LedgerSql: String =
    """SELECT COALESCE(nd.doc_id, ex.doc_id, sem.doc_id) AS doc_id,
        | COALESCE(ex.n_shared, 0) AS exact_ngrams,
        | COALESCE(nd.contaminated, FALSE) AS neardup_flag,
        | nd.best_jaccard, sem.semantic_score,
        | (COALESCE(ex.n_shared, 0) > 0 OR COALESCE(nd.contaminated, FALSE)
        |  OR sem.semantic_score IS NOT NULL) AS leaked
        |FROM (
        | WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        | sh AS (SELECT doc_id, list_transform(range(1, len(toks)-1),
        |         i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) AS sh FROM t),
        | sig AS (SELECT doc_id, band,
        |          list_aggregate(list_transform(sh,
        |           s -> CAST(('0x'||substr(md5(s), 1+8*band, 8)) AS BIGINT)),'min') AS mh
        |         FROM sh, (VALUES (0),(1),(2),(3)) b(band)),
        | cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |          FROM sig x JOIN sig y ON x.band=y.band AND x.mh=y.mh
        |          WHERE x.doc_id % 50 <> 0 AND y.doc_id % 50 = 0),
        | sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
        | j AS (SELECT a_id, b_id,
        |        CAST(len(list_intersect(sa.ss,sb.ss)) AS DOUBLE)
        |         /(len(sa.ss)+len(sb.ss)-len(list_intersect(sa.ss,sb.ss))) AS jac
        |       FROM cand
        |       JOIN sets sa ON a_id=sa.doc_id JOIN sets sb ON b_id=sb.doc_id),
        | r AS (SELECT a_id, jac,
        |        ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY jac DESC, b_id) AS rn
        |       FROM j WHERE jac >= 0.0e0)
        | SELECT a_id AS doc_id, jac AS best_jaccard,
        |  jac >= 0.5e0 AS contaminated FROM r WHERE rn = 1) nd
        |FULL JOIN (
        | WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        | s8 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
        |         i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||
        |              toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh8
        |        FROM t),
        | ev AS (SELECT DISTINCT md5(sh8) AS fp FROM s8 WHERE doc_id % 50 = 0),
        | tr AS (SELECT doc_id, md5(sh8) AS fp FROM s8 WHERE doc_id % 50 <> 0)
        | SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.fp) AS BIGINT) AS n_shared
        | FROM tr JOIN ev ON tr.fp = ev.fp GROUP BY tr.doc_id) ex
        | ON nd.doc_id = ex.doc_id
        |FULL JOIN (
        | WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |            FROM embeddings),
        | e AS (SELECT vec_id, v FROM t WHERE vec_id % 50 = 0),
        | tr AS (SELECT vec_id, v FROM t WHERE vec_id % 50 <> 0),
        | p AS (SELECT tr.vec_id AS train_id,
        |        list_cosine_similarity(tr.v, e.v) AS score
        |       FROM tr CROSS JOIN e)
        | SELECT train_id AS doc_id, MAX(score) AS semantic_score
        | FROM p WHERE score >= 0.35e0 GROUP BY 1) sem
        | ON COALESCE(nd.doc_id, ex.doc_id) = sem.doc_id
        |ORDER BY doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "d01_char_chunks" ->
      s"""SELECT doc_id, chunk_idx, substr(text, CAST(chunk_idx*$Stride+1 AS INT), $ChunkSize) AS chunk
         |FROM (SELECT doc_id, text,
         |       CAST(unnest(range(0, (length(text)-1)//$Stride + 1)) AS BIGINT) AS chunk_idx
         |      FROM documents) t
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "d02_header_sections" ->
      """SELECT source, 'd'||doc_id AS header2, trim(text) AS content
        |FROM documents ORDER BY source, header2""".stripMargin,

    "d03_token_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS total_tokens,
        | CAST(SUM(len(string_split(text,' '))) AS DOUBLE)/COUNT(*) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "d04_exact_dedup" ->
      """SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies,
        | MIN(doc_id) AS keeper_doc_id
        |FROM documents GROUP BY md5(text) ORDER BY fingerprint""".stripMargin,

    "d05_minhash_signature" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) AS sh FROM t)
        |SELECT doc_id,
        | list_aggregate(list_transform(sh, s -> CAST(('0x'||substr(md5(s),1,8)) AS BIGINT)),'min') AS mh0,
        | list_aggregate(list_transform(sh, s -> CAST(('0x'||substr(md5(s),9,8)) AS BIGINT)),'min') AS mh1,
        | list_aggregate(list_transform(sh, s -> CAST(('0x'||substr(md5(s),17,8)) AS BIGINT)),'min') AS mh2,
        | list_aggregate(list_transform(sh, s -> CAST(('0x'||substr(md5(s),25,8)) AS BIGINT)),'min') AS mh3
        |FROM sh ORDER BY doc_id""".stripMargin,

    "d06_near_dup_text" ->
      s"""WITH $CandCtes,
        |sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh)
        |SELECT a_id, b_id,
        | CAST(len(list_intersect(sa.ss,sb.ss)) AS DOUBLE)
        |  /(len(sa.ss)+len(sb.ss)-len(list_intersect(sa.ss,sb.ss))) AS jaccard
        |FROM cand
        |JOIN sets sa ON a_id=sa.doc_id JOIN sets sb ON b_id=sb.doc_id
        |ORDER BY a_id, b_id""".stripMargin,

    // Min-label connected components as a recursive transitive closure:
    // reach(id, r) = every node r reachable from id over the undirected
    // candidate edges; the component label is min(reach). Same candidate
    // CTEs as d06 (threshold 0 keeps every candidate pair).
    "d19_dup_components" -> DupComponentsSql,

    "d20_web_sections" ->
      """SELECT doc_id, 'body' AS header4,
        | 'Section: '||source||' / d'||doc_id||' / '||lang
        |  ||e' / body\n\nContent:\n'||trim(text) AS page_content
        |FROM documents ORDER BY doc_id, header4""".stripMargin,

    // Stopword-profile scoring mirrored in SQL (shared langCtes builder;
    // the profile lists are generated from LangId.Profiles — single
    // source, the two cannot drift).
    "d22_lang_id" ->
      s"""WITH ${langCtes("documents")}
         |SELECT doc_id, lang_guess FROM lang ORDER BY doc_id""".stripMargin,

    // The composed corpus-prep pass, stage by stage: quality gate
    // (token floor + stopword-ratio ceiling) → exact dedup (min id per
    // md5) → greedy near-dup drop (jaccard >= 0.8 over the SAME
    // candidate CTEs as d06, built over the deduped relation) → LangId
    // stamp (shared langCtes) → d17's deterministic hash split.
    "d23_corpus_prep" ->
      s"""WITH q AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE len(string_split(text,' ')) >= 5
         |    AND CAST(len(list_filter(string_split(text,' '),
         |          t -> t='the' OR t='a')) AS DOUBLE)
         |        / len(string_split(text,' ')) <= 0.9),
         |e AS (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
         |    FROM q) WHERE rn = 1),
         |${candCtes("e")},
         |sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
         |doomed AS (
         |  SELECT DISTINCT b_id FROM cand
         |  JOIN sets sa ON a_id = sa.doc_id JOIN sets sb ON b_id = sb.doc_id
         |  WHERE CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
         |        / (len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss)))
         |        >= 0.8),
         |kept AS (SELECT doc_id, text FROM e
         |         WHERE doc_id NOT IN (SELECT b_id FROM doomed)),
         |${langCtes("kept")}
         |SELECT k.doc_id, lang.lang_guess AS detected_lang,
         | CASE WHEN k.b < 80 THEN 'train' WHEN k.b < 90 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |        CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |          % 100 AS b
         |      FROM kept) k
         |JOIN lang ON k.doc_id = lang.doc_id
         |ORDER BY k.doc_id""".stripMargin,

    // Per-group linear recursion: state = (grp, pos, pack_id, filled);
    // step consumes the group's next doc (pos+1), starting a new pack
    // when it would overflow the budget — exactly packGreedy's fold.
    "d26_pack_greedy" ->
      s"""WITH RECURSIVE nd AS (
         |  SELECT doc_id, doc_id % $PackGroups AS grp,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id % $PackGroups
         |                       ORDER BY doc_id) AS pos
         |  FROM documents),
         |r AS (
         |  SELECT grp, pos, doc_id, n_tok,
         |    CAST(0 AS BIGINT) AS pack_id, n_tok AS filled
         |  FROM nd WHERE pos = 1
         |  UNION ALL
         |  SELECT nd.grp, nd.pos, nd.doc_id, nd.n_tok,
         |    CASE WHEN r.filled + nd.n_tok > $PackBudget
         |         THEN r.pack_id + 1 ELSE r.pack_id END,
         |    CASE WHEN r.filled + nd.n_tok > $PackBudget
         |         THEN nd.n_tok ELSE r.filled + nd.n_tok END
         |  FROM r JOIN nd ON nd.grp = r.grp AND nd.pos = r.pos + 1)
         |SELECT doc_id, grp, pack_id FROM r ORDER BY doc_id""".stripMargin,

    "d24_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, score FROM bm ORDER BY doc_id""".stripMargin,

    // d101: exhaustive dense rank (nProbe = all cells) + the d100
    // candidate-restricted lexical rank, RRF-fused as d25.
    "d101_hybrid_index" -> {
      val qlit = embedder.embed(RagQueryText)
        .map(_.toDouble.toString).mkString("[", ", ", "]")
      val anyTerm = QueryTerms.distinct
        .map(t => s"list_contains(bt.toks, '$t')").mkString(" OR ")
      s"""WITH $bm25Ctes,
         |vr AS (SELECT vec_id, rn AS vrank FROM (
         |   SELECT e.vec_id,
         |    ROW_NUMBER() OVER (ORDER BY
         |     list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), $qlit)
         |      DESC, e.vec_id) AS rn
         |   FROM embeddings e) t WHERE rn <= $HybridTopK),
         |br AS (SELECT doc_id, rn AS brank FROM (
         |   SELECT bm.doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bm.score DESC, bm.doc_id) AS rn
         |   FROM bm JOIN bt ON bt.doc_id = bm.doc_id
         |   WHERE $anyTerm) t WHERE rn <= $HybridTopK)
         |SELECT COALESCE(vr.vec_id, br.doc_id) AS doc_id,
         | COALESCE(1.0e0 / (60.0e0 + CAST(vr.vrank AS DOUBLE)), 0.0e0)
         |  + COALESCE(1.0e0 / (60.0e0 + CAST(br.brank AS DOUBLE)), 0.0e0)
         |  AS rrf
         |FROM vr FULL OUTER JOIN br ON vr.vec_id = br.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },

    // d100: d24's scores restricted to candidate docs (≥1 query term
    // present), top-10 by (score DESC, doc_id) — the index serves
    // exactly this set.
    "d100_bm25_index" -> {
      val anyTerm = QueryTerms.distinct
        .map(t => s"list_contains(bt.toks, '$t')").mkString(" OR ")
      s"""WITH $bm25Ctes
         |SELECT bm.doc_id, bm.score FROM bm
         | JOIN bt ON bt.doc_id = bm.doc_id
         |WHERE $anyTerm
         |ORDER BY bm.score DESC, bm.doc_id LIMIT 10""".stripMargin
    },

    // d102: the impact-tier cut replayed declaratively — per term, rank
    // that term's postings by the SAME IEEE impact expression the Spark
    // side computes ((tf·2.2)/(tf + 1.2·(0.25 + 0.75·dl/avgdl)) —
    // pure *,/,+ on doubles, so bit-equal across engines, unlike a
    // transcendental), keep rn ≤ topN with the doc_id tiebreak, then
    // score candidates with idf from the TRUE df. avgdl is
    // SUM(len)/COUNT (not AVG) to mirror the index's stats pair
    // division exactly. Term parts assemble left-to-right in query
    // order, ROUND 9 at the end — the d24/d100 convention.
    "d102_bm25_top_tier" -> {
      val terms = QueryTerms.distinct
      val dfs = terms.zipWithIndex.map { case (t, i) =>
        s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
      }.mkString(",\n  ")
      val tierCtes = terms.zipWithIndex.map { case (t, i) =>
        val tf = s"CAST(len(list_filter(bt.toks, x -> x = '$t')) AS DOUBLE)"
        val dl = "CAST(len(bt.toks) AS DOUBLE)"
        val imp = s"($tf * 2.2e0) / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * $dl / bs.avgdl))"
        val part = s"ln((bs.n - bs.df$i + 0.5e0) / (bs.df$i + 0.5e0) + 1.0e0)" +
          s" * ($tf * 2.2e0)" +
          s" / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * $dl / bs.avgdl))"
        s"""p$i AS (SELECT bt.doc_id, $imp AS imp, $part AS part
           | FROM bt, bs WHERE list_contains(bt.toks, '$t')),
           |t$i AS (SELECT doc_id, part FROM (
           |  SELECT doc_id, part,
           |   ROW_NUMBER() OVER (ORDER BY imp DESC, doc_id) AS rn
           |  FROM p$i) x WHERE rn <= $TopTierN)""".stripMargin
      }.mkString(",\n")
      val unions = terms.indices
        .map(i => s"SELECT doc_id FROM t$i").mkString(" UNION ALL ")
      val joins = terms.indices
        .map(i => s"LEFT JOIN t$i ON t$i.doc_id = c.doc_id").mkString("\n ")
      val score = terms.indices
        .map(i => s"COALESCE(t$i.part, 0.0e0)").mkString(" + ")
      s"""WITH bt AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |bs AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl,
         |  $dfs
         | FROM bt),
         |$tierCtes,
         |cand AS (SELECT DISTINCT doc_id FROM ($unions))
         |SELECT c.doc_id, ROUND($score, 9) AS score
         |FROM cand c
         | $joins
         |ORDER BY score DESC, c.doc_id LIMIT 10""".stripMargin
    },

    // d105: df per term re-derived from the corpus (distinct (doc,
    // term) pairs ≡ the index's posting rows), the same (df DESC,
    // term) rank, the bucket from the md5 hash idiom, integer share.
    "d105_term_hotness" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |pr AS (SELECT DISTINCT doc_id, term FROM (
        |        SELECT doc_id, unnest(toks) AS term FROM t)),
        |d AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
        |      FROM pr GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
        |r AS (SELECT term, df,
        |       CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS BIGINT)
        |        AS rank
        |      FROM d)
        |SELECT r.rank, r.term, r.df,
        | CAST(('0x'||substr(md5(r.term),1,8)) AS BIGINT) % 16 AS bucket,
        | r.df * 1000000 // n.n AS share_micro
        |FROM r, n WHERE r.rank <= 16 ORDER BY r.rank""".stripMargin,

    // d113: every (term, doc) posting row re-derived from the corpus,
    // the same md5-derived bucket, one grouped count — integer
    // micro-share off the total row count.
    "d113_bucket_balance" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |post AS (SELECT DISTINCT doc_id, term FROM (
        |          SELECT doc_id, unnest(toks) AS term FROM t)),
        |b AS (SELECT CAST(('0x'||substr(md5(term),1,8)) AS BIGINT) % 16
        |        AS bucket,
        |       term
        |      FROM post),
        |g AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS posting_rows,
        |       CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms
        |      FROM b GROUP BY 1),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM post)
        |SELECT g.bucket, g.posting_rows, g.n_terms,
        | g.posting_rows * 1000000 // s.total AS share_micro
        |FROM g, s ORDER BY g.bucket""".stripMargin,

    // d114: every workload term's df re-derived with d104's
    // list_contains counts, then each query's max df and exactness
    // flag replayed off the one stats row.
    "d114_tier_coverage" -> {
      val allTerms = CoverageBatch.flatMap(_._2).distinct
      val idx = allTerms.zipWithIndex.toMap
      val dfs = allTerms.zipWithIndex.map { case (t, i) =>
        s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
      }.mkString(",\n  ")
      val rows = CoverageBatch.map { case (qid, ts0) =>
        val ts = ts0.distinct
        val maxDf = ts.map(t => s"bs.df${idx(t)}")
          .reduceLeft((a, b) => s"greatest($a, $b)")
        s"""SELECT CAST($qid AS BIGINT) AS query_id,
           | CAST(${ts.length} AS BIGINT) AS n_terms,
           | CAST($maxDf AS BIGINT) AS max_df,
           | $maxDf <= $TopTierN AS all_exact FROM bs""".stripMargin
      }.mkString(" UNION ALL ")
      s"""WITH bt AS (SELECT string_split(text,' ') AS toks FROM documents),
         |bs AS (SELECT $dfs FROM bt)
         |SELECT * FROM ($rows) u ORDER BY query_id""".stripMargin
    },

    // d106: occurrences re-derived from the corpus — a 2-token sliding
    // window over the token list (p ranges over every window start);
    // overlapping matches count separately, exactly the positional
    // tier's adjacency fold.
    "d106_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |occ AS (SELECT doc_id FROM (
        |         SELECT doc_id, toks, unnest(range(1, len(toks))) AS p FROM t)
        |        WHERE toks[p] = 'hash' AND toks[p+1] = 'join')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
        |FROM occ GROUP BY 1 ORDER BY n_occ DESC, doc_id""".stripMargin,

    // d110: the tier's per-term storage re-derived from the corpus —
    // one (doc, term) row per posting (df), tf summed per term (≡ the
    // stored positions count), total tokens as the micro-share base;
    // the same (pos_total DESC, term) rank, integer division.
    "d110_pos_cost_profile" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |        SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
        |g AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |       CAST(SUM(tf) AS BIGINT) AS pos_total
        |      FROM tf GROUP BY 1),
        |s AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS total FROM t),
        |r AS (SELECT term, df, pos_total,
        |       CAST(ROW_NUMBER() OVER (ORDER BY pos_total DESC, term)
        |        AS BIGINT) AS rank
        |      FROM g)
        |SELECT r.rank, r.term, r.pos_total, r.df,
        | r.pos_total * 1000000 // s.total AS cost_micro
        |FROM r, s WHERE r.rank <= 16 ORDER BY r.rank""".stripMargin,

    // d109: the oracle computes ONLY the full closure over every pair
    // (d19's SQL) — hash-equality against the incremental
    // path proves the quotient maintenance identity.
    "d109_incremental_cc" -> DupComponentsSql,

    // d112: the oracle computes ONLY the full closure over every pair
    // (d19's SQL) — hash-equality proves the on-disk label
    // store's batch-by-batch fold lands the one-shot answer.
    "d112_label_store_cc" -> DupComponentsSql,

    // d108: both lattice levels re-derived; the coarse level counts
    // only rows from fine-failing classes.
    "d108_k_anonymity" ->
      """WITH d AS (SELECT lang, source, n_chars // 500 AS len_bucket
        |      FROM documents),
        |f AS (SELECT lang, source, len_bucket,
        |       CAST(COUNT(*) AS BIGINT) AS class_size
        |      FROM d GROUP BY 1, 2, 3),
        |keep AS (SELECT 'fine' AS level, lang, source, len_bucket,
        |          class_size, TRUE AS meets_k
        |         FROM f WHERE class_size >= 5),
        |fail AS (SELECT lang, source, len_bucket FROM f
        |         WHERE class_size < 5),
        |c AS (SELECT d.lang, d.source,
        |       CAST(COUNT(*) AS BIGINT) AS class_size
        |      FROM d JOIN fail USING (lang, source, len_bucket)
        |      GROUP BY 1, 2)
        |SELECT * FROM keep
        |UNION ALL
        |SELECT 'coarse' AS level, lang, source,
        | CAST(-1 AS BIGINT) AS len_bucket, class_size,
        | class_size >= 5 AS meets_k
        |FROM c
        |ORDER BY level, lang, source, len_bucket""".stripMargin,

    // d107: the sorted-neighborhood semantics stated directly — one
    // ROW_NUMBER over (key, id) and a rank-distance self-join.
    "d107_sorted_neighborhood" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 20) AS k FROM documents),
        |r AS (SELECT doc_id, k,
        |       CAST(ROW_NUMBER() OVER (ORDER BY k, doc_id) AS BIGINT) AS r
        |      FROM t)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        | b.r - a.r AS rank_dist, a.k = b.k AS same_key
        |FROM r a JOIN r b ON b.r > a.r AND b.r - a.r <= 3
        |ORDER BY a_id, b_id""".stripMargin,

    // d104: each batch query's scores re-derived independently from
    // the shared (n, avgdl, per-term df) stats row — per-query chains
    // in the query's own term order, candidates = ≥1 term present,
    // top-5 with the doc_id tiebreak, unioned.
    "d104_bm25_batch" -> {
      val allTerms = QueryBatch.flatMap(_._2).distinct
      val idx = allTerms.zipWithIndex.toMap
      val dfs = allTerms.zipWithIndex.map { case (t, i) =>
        s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
      }.mkString(",\n  ")
      val qCtes = QueryBatch.map { case (qid, qt0) =>
        val qt = qt0.distinct
        val chain = qt.map { t =>
          val i = idx(t)
          val tf = s"CAST(len(list_filter(bt.toks, x -> x = '$t')) AS DOUBLE)"
          s"ln((bs.n - bs.df$i + 0.5e0) / (bs.df$i + 0.5e0) + 1.0e0)" +
            s" * ($tf * 2.2e0)" +
            s" / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * CAST(len(bt.toks) AS DOUBLE) / bs.avgdl))"
        }.mkString("\n   + ")
        val anyT = qt.map(t => s"list_contains(bt.toks, '$t')")
          .mkString(" OR ")
        s"""s$qid AS (SELECT bt.doc_id, ROUND($chain, 9) AS score
           | FROM bt, bs WHERE $anyT),
           |r$qid AS (SELECT CAST($qid AS BIGINT) AS query_id,
           |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
           |  doc_id, score
           | FROM s$qid ORDER BY score DESC, doc_id LIMIT 5)""".stripMargin
      }.mkString(",\n")
      val union = QueryBatch
        .map { case (qid, _) => s"SELECT * FROM r$qid" }
        .mkString(" UNION ALL ")
      s"""WITH bt AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |bs AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl,
         |  $dfs
         | FROM bt),
         |$qCtes
         |SELECT query_id, rank, doc_id, score FROM ($union) u
         |ORDER BY query_id, rank""".stripMargin
    },

    // d111: d102's per-term tier cut generated for every DISTINCT term
    // in the batch, then d104's per-query replay with each query's
    // candidate set the union of ITS terms' cuts and the score the
    // same left-assoc COALESCE chain in term order.
    "d111_tier_batch" -> {
      val allTerms = QueryBatch.flatMap(_._2).distinct
      val idx = allTerms.zipWithIndex.toMap
      val dfs = allTerms.zipWithIndex.map { case (t, i) =>
        s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
      }.mkString(",\n  ")
      val tierCtes = allTerms.zipWithIndex.map { case (t, i) =>
        val tf = s"CAST(len(list_filter(bt.toks, x -> x = '$t')) AS DOUBLE)"
        val dl = "CAST(len(bt.toks) AS DOUBLE)"
        val imp = s"($tf * 2.2e0) / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * $dl / bs.avgdl))"
        val part = s"ln((bs.n - bs.df$i + 0.5e0) / (bs.df$i + 0.5e0) + 1.0e0)" +
          s" * ($tf * 2.2e0)" +
          s" / ($tf + 1.2e0 * (0.25e0 + 0.75e0 * $dl / bs.avgdl))"
        s"""p$i AS (SELECT bt.doc_id, $imp AS imp, $part AS part
           | FROM bt, bs WHERE list_contains(bt.toks, '$t')),
           |t$i AS (SELECT doc_id, part FROM (
           |  SELECT doc_id, part,
           |   ROW_NUMBER() OVER (ORDER BY imp DESC, doc_id) AS rn
           |  FROM p$i) x WHERE rn <= $TopTierN)""".stripMargin
      }.mkString(",\n")
      val qCtes = QueryBatch.map { case (qid, qt0) =>
        val qt = qt0.distinct
        val unions = qt.map(t => s"SELECT doc_id FROM t${idx(t)}")
          .mkString(" UNION ALL ")
        val joins = qt
          .map(t => s"LEFT JOIN t${idx(t)} ON t${idx(t)}.doc_id = c.doc_id")
          .mkString("\n   ")
        val score = qt.map(t => s"COALESCE(t${idx(t)}.part, 0.0e0)")
          .mkString(" + ")
        s"""c$qid AS (SELECT DISTINCT doc_id FROM ($unions)),
           |r$qid AS (SELECT CAST($qid AS BIGINT) AS query_id,
           |  CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
           |  doc_id, score
           | FROM (SELECT c.doc_id, ROUND($score, 9) AS score
           |       FROM c$qid c
           |   $joins) s
           | ORDER BY score DESC, doc_id LIMIT 5)""".stripMargin
      }.mkString(",\n")
      val union = QueryBatch
        .map { case (qid, _) => s"SELECT * FROM r$qid" }
        .mkString(" UNION ALL ")
      s"""WITH bt AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |bs AS (SELECT COUNT(*) AS n,
         |  CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl,
         |  $dfs
         | FROM bt),
         |$tierCtes,
         |$qCtes
         |SELECT query_id, rank, doc_id, score FROM ($union) u
         |ORDER BY query_id, rank""".stripMargin
    },

    // d103: both fusions replayed declaratively — v16's assignment and
    // probe-cell-rank CTEs give the served dense arm (top-2 cells of
    // the QUERY vector, ties to the smaller cell), d25's CTEs give the
    // brute-force arm and the shared lexical arm, and the two RRF
    // fusions join on doc_id for the per-rank hit flag.
    "d103_hybrid_recall" -> {
      val qlit = embedder.embed(RagQueryText)
        .map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""WITH $bm25Ctes,
         |br AS (SELECT doc_id,
         |        CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS brank
         |       FROM bm ORDER BY score DESC, doc_id LIMIT $HybridTopK),
         |seeds AS (
         |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
         |  FROM embeddings WHERE vec_id < 8),
         |scored AS (
         |  SELECT e.vec_id, e.embedding, s.cell,
         |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
         |  FROM embeddings e CROSS JOIN seeds s),
         |assigned AS (
         |  SELECT vec_id, embedding, cell FROM (
         |   SELECT vec_id, embedding, cell,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
         |   FROM scored) r WHERE rn = 1),
         |pcell AS (
         |  SELECT cell FROM (
         |   SELECT s.cell,
         |    ROW_NUMBER() OVER (ORDER BY
         |     list_cosine_similarity($qlit, s.cv) DESC, s.cell) AS rn
         |   FROM seeds s) r WHERE rn <= 2),
         |vr2 AS (SELECT vec_id,
         |        CAST(ROW_NUMBER() OVER (ORDER BY vscore DESC, vec_id) AS BIGINT) AS vrank
         |       FROM (SELECT a.vec_id,
         |              list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |                $qlit) AS vscore
         |             FROM assigned a WHERE a.cell IN (SELECT cell FROM pcell)) t
         |       ORDER BY vscore DESC, vec_id LIMIT $HybridTopK),
         |vsX AS (SELECT vec_id,
         |        list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qlit) AS vscore
         |       FROM embeddings),
         |vrX AS (SELECT vec_id,
         |        CAST(ROW_NUMBER() OVER (ORDER BY vscore DESC, vec_id) AS BIGINT) AS vrank
         |       FROM vsX ORDER BY vscore DESC, vec_id LIMIT $HybridTopK),
         |fs AS (SELECT COALESCE(vr2.vec_id, br.doc_id) AS doc_id
         |       FROM vr2 FULL OUTER JOIN br ON vr2.vec_id = br.doc_id
         |       ORDER BY COALESCE(1.0e0 / (60.0e0 + vr2.vrank), 0.0e0)
         |        + COALESCE(1.0e0 / (60.0e0 + br.brank), 0.0e0) DESC,
         |        COALESCE(vr2.vec_id, br.doc_id) LIMIT 10),
         |fx AS (SELECT COALESCE(vrX.vec_id, br.doc_id) AS doc_id,
         |        COALESCE(1.0e0 / (60.0e0 + vrX.vrank), 0.0e0)
         |         + COALESCE(1.0e0 / (60.0e0 + br.brank), 0.0e0) AS rrf
         |       FROM vrX FULL OUTER JOIN br ON vrX.vec_id = br.doc_id
         |       ORDER BY rrf DESC, doc_id LIMIT 10),
         |fxr AS (SELECT doc_id, rrf,
         |         CAST(ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
         |          AS exact_rank
         |        FROM fx)
         |SELECT fxr.exact_rank, fxr.doc_id, fxr.rrf,
         | CASE WHEN fs.doc_id IS NULL THEN CAST(0 AS BIGINT)
         |      ELSE CAST(1 AS BIGINT) END AS in_served
         |FROM fxr LEFT JOIN fs ON fs.doc_id = fxr.doc_id
         |ORDER BY fxr.exact_rank""".stripMargin
    },

    // Inverted-index exact Jaccard: the per-pair shared-shingle COUNT is
    // the intersection; sizes are distinct-shingle set sizes.
    "d35_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss FROM t),
        |p AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
        |       FROM p x JOIN p y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ss) AS n FROM ss)
        |SELECT a_id, b_id,
        | CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS jaccard
        |FROM ix JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // d35's CTEs with the df gate on the posting list (window count per
    // shingle, exactly the exchange-riding filter the Spark side plans);
    // sizes stay uncapped so the capped Jaccard is the lower bound.
    "d36_ngram_jaccard_capped" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss FROM t),
        |p0 AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |p AS (SELECT doc_id, sh FROM (
        |       SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df
        |       FROM p0) f
        |      WHERE df <= 3),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
        |       FROM p x JOIN p y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ss) AS n FROM ss)
        |SELECT a_id, b_id,
        | CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS jaccard
        |FROM ix JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    // Cross-split band candidates (the d06 sig CTEs with the self-join's
    // a<b replaced by the train/eval split), exact-Jaccard rescore, then
    // the per-train-doc best pick as a window rank.
    "d37_neardup_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]) AS sh FROM t),
        |sig AS (SELECT doc_id, band,
        |         list_aggregate(list_transform(sh,
        |          s -> CAST(('0x'||substr(md5(s), 1+8*band, 8)) AS BIGINT)),'min') AS mh
        |        FROM sh, (VALUES (0),(1),(2),(3)) b(band)),
        |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        |         FROM sig x JOIN sig y ON x.band=y.band AND x.mh=y.mh
        |         WHERE x.doc_id % 50 <> 0 AND y.doc_id % 50 = 0),
        |sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
        |j AS (SELECT a_id, b_id,
        |       CAST(len(list_intersect(sa.ss,sb.ss)) AS DOUBLE)
        |        /(len(sa.ss)+len(sb.ss)-len(list_intersect(sa.ss,sb.ss))) AS jac
        |      FROM cand
        |      JOIN sets sa ON a_id=sa.doc_id JOIN sets sb ON b_id=sb.doc_id),
        |r AS (SELECT a_id, b_id, jac,
        |       ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY jac DESC, b_id) AS rn,
        |       COUNT(*) OVER (PARTITION BY a_id) AS nc
        |      FROM j WHERE jac >= 0.0e0)
        |SELECT a_id AS doc_id, CAST(nc AS BIGINT) AS n_candidates,
        | jac AS best_jaccard, b_id AS best_eval_id,
        | jac >= 0.5e0 AS contaminated
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // The deterministic hash sample re-derived as a window rank over
    // (hash, doc_id) — the idiom the mergeable top-k replaces.
    "d38_language_budget" ->
      s"""SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id
         |FROM (SELECT lang, doc_id,
         |       ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
         |      FROM (SELECT lang, doc_id,
         |             CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h
         |            FROM documents) x) t
         |WHERE rn <= $LangBudget ORDER BY lang, rank""".stripMargin,

    // The same all-integer decision: cum/W from a window cumsum, hits
    // as a difference of floor-divisions (operands nonnegative, so //
    // and Spark's div agree).
    "d39_pps_sample" ->
      s"""WITH w AS (SELECT source, doc_id,
         |        CAST(len(string_split(text,' ')) AS BIGINT) AS weight
         |       FROM documents),
         |b AS (SELECT source, doc_id, weight,
         |       CAST(SUM(weight) OVER (PARTITION BY source ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |       CAST(SUM(weight) OVER (PARTITION BY source) AS BIGINT) AS tw
         |      FROM w)
         |SELECT source, doc_id, weight,
         | (((2 * $PpsBudget * cum) // tw) + 1) // 2
         |  - (((2 * $PpsBudget * (cum - weight)) // tw) + 1) // 2 AS n_hits
         |FROM b
         |WHERE (((2 * $PpsBudget * cum) // tw) + 1) // 2
         |  - (((2 * $PpsBudget * (cum - weight)) // tw) + 1) // 2 > 0
         |ORDER BY source, doc_id""".stripMargin,

    // Same model, same quantization: term counts, add-one probabilities
    // over (total + vocab), per-term floor(ln(p)*1e6) BIGINT, exact
    // integer doc sums.
    "d40_unigram_logprob" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
         |           FROM documents),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS vocab FROM c),
         |p AS (SELECT tok,
         |       CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)
         |         / CAST(total + vocab AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lp
         |      FROM c, tot),
         |s AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(p.lp) AS BIGINT) AS lp_sum
         |      FROM t JOIN p ON t.tok = p.tok GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, lp_sum,
         | CAST(lp_sum AS DOUBLE) / n_tokens / 1000000.0e0 AS avg_lp,
         | CAST(lp_sum AS DOUBLE) / n_tokens / 1000000.0e0 < ${LmFloor}e0 AS flagged
         |FROM s ORDER BY doc_id""".stripMargin,

    // Capped serving model: same counts/totals, vocab capped by a
    // window rank over (count DESC, term), LEFT join + the constant
    // unseen-term floor for OOV tokens. SUM(BIGINT) is HUGEINT in
    // DuckDB — cast the sums back before the compare.
    "d41_unigram_capped" ->
      s"""WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
         |           FROM documents),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS vocab FROM c),
         |v AS (SELECT tok, c FROM
         |       (SELECT tok, c,
         |         ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rn FROM c) r
         |      WHERE rn <= $LmVocabCap),
         |p AS (SELECT tok,
         |       CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)
         |         / CAST(total + vocab AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lp
         |      FROM v, tot),
         |f AS (SELECT CAST(FLOOR(ln(CAST(1 AS DOUBLE)
         |        / CAST(total + vocab AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS flp
         |      FROM tot),
         |s AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
         |       CAST(SUM(COALESCE(p.lp, 0)) AS BIGINT) AS iv,
         |       CAST(SUM(CASE WHEN p.lp IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_oov
         |      FROM t LEFT JOIN p ON t.tok = p.tok GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, CAST(iv + n_oov * flp AS BIGINT) AS lp_sum,
         | n_oov,
         | CAST(iv + n_oov * flp AS DOUBLE) / n_tokens / 1000000.0e0 AS avg_lp,
         | CAST(iv + n_oov * flp AS DOUBLE) / n_tokens / 1000000.0e0
         |   < ${LmFloor}e0 AS flagged
         |FROM s, f ORDER BY doc_id""".stripMargin,

    // The same 8-token line derivation, df as COUNT(DISTINCT doc), the
    // rebuild as an ORDER BY pos string_agg; chr(10) = the Spark "\n".
    "d44_line_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
         |           FROM documents),
         |src AS (SELECT doc_id, list_transform(
         |         range(0, CAST(ceil(len(toks) / ${LineTokens}.0e0) AS BIGINT)),
         |         i -> array_to_string(
         |           toks[i*$LineTokens+1 :
         |                least(i*$LineTokens+$LineTokens, len(toks))], ' '))
         |         AS ls FROM t),
         |lx AS (SELECT doc_id, unnest(list_transform(range(1, len(ls)+1),
         |        i -> {'pos': i, 'line': ls[i]}), recursive := true)
         |       FROM src),
         |d AS (SELECT line, COUNT(DISTINCT doc_id) AS df FROM lx GROUP BY line),
         |kept AS (SELECT lx.doc_id, lx.pos, lx.line
         |         FROM lx JOIN d ON lx.line = d.line WHERE d.df <= $LineMaxDf),
         |reb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
         |        FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, COALESCE(reb.text, '') AS text
         |FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // The full (shard, pos) address map from the same md5-slice hash:
    // shard = h mod N (h is unsigned-32 in a long, so % == pmod), pos =
    // dense rank within the shard under the writer's id sort order.
    "d45_shard_export" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |  CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |    AS hk FROM documents)
         |SELECT doc_id, lang, CAST(hk % $ExportShards AS BIGINT) AS shard,
         | CAST(ROW_NUMBER() OVER (PARTITION BY hk % $ExportShards
         |   ORDER BY doc_id) AS BIGINT) - 1 AS pos
         |FROM h ORDER BY shard, pos""".stripMargin,

    // d43's window-rank KMV re-derivation, once per corpus and once
    // over the union of distinct hashes (the bottom-k of a union IS
    // the bottom-k of the merged bottom-k states), then the same
    // inclusion–exclusion arithmetic.
    "d46_corpus_overlap" ->
      s"""WITH t AS (SELECT doc_id % 2 AS corpus, string_split(text,' ') AS toks
         |           FROM documents),
         |p AS (SELECT corpus, unnest(list_transform(range(1, len(toks)-1),
         |       i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS sh FROM t),
         |h AS (SELECT DISTINCT corpus,
         |       CAST(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS h FROM p),
         |ra AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         |        COUNT(*) OVER () AS nd FROM h WHERE corpus = 0),
         |ea AS (SELECT CASE WHEN MAX(nd) < $NgramKmvK THEN CAST(MAX(nd) AS DOUBLE)
         |              ELSE ${NgramKmvK - 1}e0 * 4294967296e0
         |                   / MAX(CASE WHEN rn = $NgramKmvK THEN h END) END AS est
         |       FROM ra),
         |rb AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         |        COUNT(*) OVER () AS nd FROM h WHERE corpus = 1),
         |eb AS (SELECT CASE WHEN MAX(nd) < $NgramKmvK THEN CAST(MAX(nd) AS DOUBLE)
         |              ELSE ${NgramKmvK - 1}e0 * 4294967296e0
         |                   / MAX(CASE WHEN rn = $NgramKmvK THEN h END) END AS est
         |       FROM rb),
         |ru AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn,
         |        COUNT(*) OVER () AS nd FROM (SELECT DISTINCT h FROM h) u),
         |eu AS (SELECT CASE WHEN MAX(nd) < $NgramKmvK THEN CAST(MAX(nd) AS DOUBLE)
         |              ELSE ${NgramKmvK - 1}e0 * 4294967296e0
         |                   / MAX(CASE WHEN rn = $NgramKmvK THEN h END) END AS est
         |       FROM ru)
         |SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
         | greatest(0.0e0, ea.est + eb.est - eu.est) AS est_inter,
         | greatest(0.0e0, ea.est + eb.est - eu.est) / eu.est AS jaccard
         |FROM ea, eb, eu""".stripMargin,

    // d08's score arithmetic + q23's window-rank bottom-k sample
    // re-derivation (rn <= k over distinct (hash, score), then
    // quantile_cont — the interpolation q20/q23 proved bit-compatible
    // with finish()), then the same CASE binning and exact bin stats.
    "d47_curriculum_bins" ->
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
         |    CAST(list_aggregate(list_transform(string_split(text,' '),
         |         t -> length(t)),'sum') AS DOUBLE)
         |      / len(string_split(text,' ')) AS score
         |  FROM documents),
         |h AS (SELECT DISTINCT
         |       CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) AS h,
         |       score AS v FROM sc),
         |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY h, v) AS rn FROM h),
         |t AS (SELECT quantile_cont(v, 0.25) AS t1,
         |       quantile_cont(v, 0.5) AS t2,
         |       quantile_cont(v, 0.75) AS t3
         |      FROM r WHERE rn <= $CurricK),
         |b AS (SELECT CASE WHEN score < t1 THEN 0 WHEN score < t2 THEN 1
         |             WHEN score < t3 THEN 2 ELSE 3 END AS bin,
         |       n_tokens, score
         |      FROM sc, t)
         |SELECT CAST(bin AS BIGINT) AS bin, COUNT(*) AS n_docs,
         | CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
         | MIN(score) AS min_score, MAX(score) AS max_score
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // The CM matrix re-derived as 4 per-slice bucket GROUP BYs, the
    // estimate as LEAST over the 4 bucket joins; tf rides exactly.
    "d49_countmin_tf" ->
      s"""WITH toks AS (SELECT unnest(string_split(text,' ')) AS term
         |             FROM documents),
         |sl AS (SELECT term,
         |        CAST(('0x'||substr(md5(term),1,8)) AS BIGINT) % $CmW AS b0,
         |        CAST(('0x'||substr(md5(term),9,8)) AS BIGINT) % $CmW AS b1,
         |        CAST(('0x'||substr(md5(term),17,8)) AS BIGINT) % $CmW AS b2,
         |        CAST(('0x'||substr(md5(term),25,8)) AS BIGINT) % $CmW AS b3
         |       FROM toks),
         |m0 AS (SELECT b0, COUNT(*) AS c0 FROM sl GROUP BY b0),
         |m1 AS (SELECT b1, COUNT(*) AS c1 FROM sl GROUP BY b1),
         |m2 AS (SELECT b2, COUNT(*) AS c2 FROM sl GROUP BY b2),
         |m3 AS (SELECT b3, COUNT(*) AS c3 FROM sl GROUP BY b3),
         |p AS (SELECT term, COUNT(*) AS tf, b0, b1, b2, b3
         |      FROM sl GROUP BY term, b0, b1, b2, b3)
         |SELECT p.term, p.tf, LEAST(c0, c1, c2, c3) AS cm_est
         |FROM p JOIN m0 USING (b0) JOIN m1 USING (b1)
         |       JOIN m2 USING (b2) JOIN m3 USING (b3)
         |ORDER BY term""".stripMargin,

    // d35's CTEs over the corpus ∪ derived excerpts, with the LEAST
    // denominator and the jaccard witness alongside.
    "d51_containment_dedup" ->
      """WITH u AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, substr(text, 1, CAST(len(text)//3 AS INT))
        | FROM documents WHERE doc_id % 10 = 0),
        |t AS (SELECT doc_id, string_split(text,' ') AS toks FROM u),
        |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss FROM t),
        |p AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
        |       FROM p x JOIN p y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ss) AS n FROM ss)
        |SELECT a_id, b_id,
        | CAST(ix AS DOUBLE) / LEAST(sa.n, sb.n) AS containment,
        | CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS jaccard
        |FROM ix JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE CAST(ix AS DOUBLE) / LEAST(sa.n, sb.n) >= 0.8e0
        |ORDER BY a_id, b_id""".stripMargin,

    // The same plant and the same mod-10 doubling, digit for digit,
    // in DuckDB's list primitives.
    "d53_luhn_pii" ->
      """WITH c AS (SELECT doc_id,
        |        lpad(CAST(doc_id * 7919 % 10000000000000000 AS VARCHAR),
        |          16, '0') AS card
        |       FROM documents),
        |v AS (SELECT doc_id, card,
        |       list_sum(list_transform(range(1, 17), i ->
        |        CASE WHEN (16 - i) % 2 = 1
        |         THEN CASE WHEN CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2 > 9
        |              THEN CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2 - 9
        |              ELSE CAST(substr(card, CAST(i AS INT), 1) AS INT) * 2 END
        |         ELSE CAST(substr(card, CAST(i AS INT), 1) AS INT) END))
        |        % 10 = 0 AS luhn_valid
        |      FROM c)
        |SELECT doc_id, card, luhn_valid,
        | CASE WHEN luhn_valid THEN '<CARD>' ELSE card END AS clean
        |FROM v ORDER BY doc_id""".stripMargin,

    // d66: list-function mirror of the row-local profile; the run
    // length re-derives via lag-break run ids over parallel unnests
    // (DuckDB zips them) instead of the fold.
    "d66_repetition_profile" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        |              FROM documents),
        |base AS (SELECT doc_id, len(t) AS n_tokens,
        |          len(list_distinct(t)) AS n_distinct,
        |          list_transform(range(1, len(t)),
        |            i -> t[i] || ' ' || t[i+1]) AS bg
        |         FROM toks),
        |pos AS (SELECT doc_id, unnest(t) AS term,
        |         unnest(range(1, len(t)+1)) AS p FROM toks),
        |runs AS (SELECT doc_id, p,
        |          CASE WHEN term = lag(term) OVER
        |            (PARTITION BY doc_id ORDER BY p)
        |           THEN 0 ELSE 1 END AS brk
        |         FROM pos),
        |runid AS (SELECT doc_id, p, SUM(brk) OVER
        |           (PARTITION BY doc_id ORDER BY p) AS rid FROM runs),
        |maxrun AS (SELECT doc_id, CAST(MAX(rlen) AS BIGINT) AS max_run
        |           FROM (SELECT doc_id, rid, COUNT(*) AS rlen
        |                 FROM runid GROUP BY 1, 2) GROUP BY 1)
        |SELECT b.doc_id, b.n_tokens, b.n_distinct,
        | ((b.n_tokens - b.n_distinct) * 1000000) // b.n_tokens
        |  AS dup_token_frac_micro,
        | len(bg) AS n_bigrams,
        | len(list_distinct(bg)) AS n_distinct_bigrams,
        | CASE WHEN len(bg) = 0 THEN 0
        |  ELSE ((len(bg) - len(list_distinct(bg))) * 1000000) // len(bg)
        |  END AS dup_bigram_frac_micro,
        | m.max_run,
        | ((b.n_tokens - b.n_distinct) * 1000000) // b.n_tokens > 600000
        |  OR (CASE WHEN len(bg) = 0 THEN 0
        |      ELSE ((len(bg) - len(list_distinct(bg))) * 1000000) // len(bg)
        |      END) > 50000
        |  OR m.max_run >= 3 AS flagged
        |FROM base b JOIN maxrun m USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "d67_source_budget" ->
      s"""WITH rates AS (
         |  SELECT source, lang, COUNT(*) AS n_docs,
         |   LEAST(1000000, ($SourceBudget * 1000000) // COUNT(*)) AS p_micro
         |  FROM documents GROUP BY 1, 2),
         |kept AS (
         |  SELECT d.source, d.lang, COUNT(*) AS n_kept
         |  FROM documents d JOIN rates r USING (source, lang)
         |  WHERE CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,8))
         |         AS BIGINT) % 1000000 < r.p_micro
         |  GROUP BY 1, 2)
         |SELECT r.source, r.lang, r.n_docs, r.p_micro,
         | COALESCE(k.n_kept, 0) AS n_kept
         |FROM rates r LEFT JOIN kept k USING (source, lang)
         |ORDER BY source, lang""".stripMargin,

    // d68: the bigram pairs come from parallel unnests of the two
    // slice views of the token list (DuckDB zips them); context
    // counts from a full-token unnest of the trusted slice.
    "d68_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t
         |              FROM documents),
         |bg AS (SELECT doc_id, lang, unnest(t[1:-2]) AS w1,
         |        unnest(t[2:]) AS w2 FROM toks),
         |uni AS (SELECT w, COUNT(*) AS c1 FROM
         |         (SELECT unnest(t) AS w FROM toks WHERE lang = 'en')
         |        GROUP BY 1),
         |vocab AS (SELECT COUNT(*) AS v FROM uni),
         |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg
         |       WHERE lang = 'en' GROUP BY 1, 2),
         |scored AS (
         |  SELECT b.doc_id,
         |   CAST(FLOOR(LN(CAST(COALESCE(tb.c2, 0) + 1 AS DOUBLE)
         |     / CAST(COALESCE(tu.c1, 0) + v.v AS DOUBLE)) * 1000000)
         |    AS BIGINT) AS lp
         |  FROM bg b
         |  LEFT JOIN bi tb USING (w1, w2)
         |  LEFT JOIN uni tu ON b.w1 = tu.w
         |  CROSS JOIN vocab v),
         |per_doc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |             CAST(SUM(lp) AS BIGINT) AS lp_sum
         |            FROM scored GROUP BY 1)
         |SELECT d.doc_id, d.lang,
         | COALESCE(p.n_bigrams, 0) AS n_bigrams,
         | COALESCE(p.lp_sum, 0) AS lp_sum,
         | CAST(p.lp_sum AS DOUBLE) / p.n_bigrams / 1000000.0 AS avg_lp,
         | CAST(p.lp_sum AS DOUBLE) / p.n_bigrams / 1000000.0 < $LmFloor
         |  AS flagged
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // d69: d19's recursive component closure + the two-step argmax
    // (max length per component, min id among the maxima).
    "d69_dup_survivors" ->
      s"""WITH RECURSIVE $CandCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM cand
         |      UNION SELECT b_id, a_id FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |sized AS (SELECT c.id, c.component,
         |           CAST(len(string_split(d.text,' ')) AS BIGINT)
         |            AS n_tokens
         |          FROM comp c JOIN documents d ON c.id = d.doc_id),
         |best AS (SELECT component, MAX(n_tokens) AS max_tokens
         |         FROM sized GROUP BY 1),
         |canon AS (SELECT s.component, MIN(s.id) AS canonical_id
         |          FROM sized s JOIN best b ON s.component = b.component
         |           AND s.n_tokens = b.max_tokens
         |          GROUP BY 1)
         |SELECT s.id AS doc_id, s.component, s.n_tokens,
         | s.id = c.canonical_id AS is_canonical
         |FROM sized s JOIN canon c USING (component)
         |ORDER BY doc_id""".stripMargin,

    "d70_temperature_mix" ->
      """WITH src AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |   CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |q AS (SELECT source, n_docs, n_tokens,
        |       CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE)) * 1000000)
        |        AS BIGINT) AS sqrt_micro
        |      FROM src),
        |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |         CAST(SUM(sqrt_micro) AS BIGINT) AS tot_sqrt FROM q)
        |SELECT q.source, q.n_docs, q.n_tokens,
        | (q.n_tokens * 1000000) // t.tot_tokens AS nat_micro,
        | (q.sqrt_micro * 1000000) // t.tot_sqrt AS w_micro,
        | (t.tot_tokens * ((q.sqrt_micro * 1000000) // t.tot_sqrt))
        |  // 1000000 AS target_tokens
        |FROM q CROSS JOIN tot t
        |ORDER BY q.source""".stripMargin,

    // d71: the oracle is d19's recursive transitive closure — hash
    // equality pins the same labels.
    "d71_cc_star" -> DupComponentsSql,

    // d85: d73's unrolled training CTEs give every word's post-merge
    // segmentation; docs join their words to it and roll up by lang.
    "d85_tokenizer_fertility" ->
      s"""WITH RECURSIVE
         |wcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
         |         FROM (SELECT unnest(string_split(text, ' ')) AS w
         |               FROM documents) GROUP BY 1),
         |syms0 AS (SELECT w, wc,
         |           list_transform(range(1, len(w)+1),
         |            i -> substr(w, CAST(i AS INT), 1)) AS syms
         |          FROM wcnt),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)},
         |docw AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
         |         FROM documents),
         |g AS (SELECT d.lang,
         |       CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(len(d.w)) AS BIGINT) AS n_chars,
         |       CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens
         |      FROM docw d JOIN syms3 s ON d.w = s.w
         |      GROUP BY 1)
         |SELECT lang, n_words, n_chars, n_bpe_tokens,
         | (n_bpe_tokens * 1000000) // n_words AS fertility_micro,
         | (n_chars * 1000000) // n_bpe_tokens AS chars_per_token_micro
         |FROM g ORDER BY lang""".stripMargin,

    // d86: the same winnowing selection in list form — k-gram md5
    // slices, per-window list_min, distinct, df-capped posting
    // self-join; jaccard in integer micro so DIV matches on both
    // engines.
    "d86_winnow_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, len(toks)-2),
        |       i -> CAST(('0x'||substr(md5(toks[i]||' '||toks[i+1]||' '||
        |        toks[i+2]||' '||toks[i+3]),1,8)) AS BIGINT)) AS hs
        |      FROM t),
        |w AS (SELECT doc_id,
        |       CASE WHEN len(hs) >= 5
        |            THEN list_distinct(list_transform(range(1, len(hs)-3),
        |                  i -> list_min(hs[i:i+4])))
        |            ELSE [list_min(hs)] END AS fps
        |      FROM g WHERE len(hs) > 0),
        |p AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |df AS (SELECT fp, COUNT(*) AS df FROM p GROUP BY 1),
        |cp AS (SELECT p.doc_id, p.fp FROM p
        |       JOIN df ON p.fp = df.fp AND df.df <= 2),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM cp GROUP BY 1),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id,
        |        CAST(COUNT(*) AS BIGINT) AS n_shared
        |       FROM cp x JOIN cp y
        |        ON x.fp = y.fp AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2)
        |SELECT a_id, b_id, sa.n AS n_a, sb.n AS n_b, n_shared,
        | (n_shared * 1000000) // (sa.n + sb.n - n_shared) AS jaccard_micro
        |FROM ix JOIN sz sa ON a_id = sa.doc_id
        |JOIN sz sb ON b_id = sb.doc_id
        |WHERE (n_shared * 1000000) // (sa.n + sb.n - n_shared) >= 500000
        |ORDER BY a_id, b_id""".stripMargin,

    // d91: count-of-counts CTEs + the k+1 self left-join; unseen mass
    // and smoothed counts in integer micro so DIV matches.
    // d99: ranked/running windows over the vocabulary count table;
    // min-rank == min-cum on the monotone frame.
    "d99_vocab_coverage" ->
      """WITH u AS (SELECT unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_g FROM uc),
        |r AS (SELECT w, c,
        |       ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
        |       CAST(SUM(c) OVER (ORDER BY c DESC, w) AS BIGINT) AS cum
        |      FROM uc),
        |th AS (SELECT unnest(CAST([50, 90, 99] AS BIGINT[]))
        |        AS threshold_pct)
        |SELECT th.threshold_pct, CAST(MIN(r.rk) AS BIGINT) AS n_types,
        | CAST((CAST(MIN(r.cum) AS HUGEINT) * 1000000) // MAX(t.n_g)
        |   AS BIGINT) AS mass_micro,
        | CAST(MAX(t.n_g) AS BIGINT) AS n_tokens
        |FROM r CROSS JOIN tot t
        | JOIN th ON r.cum * 100 >= th.threshold_pct * t.n_g
        |GROUP BY 1 ORDER BY threshold_pct""".stripMargin,

    // d98: the candidate CTEs + per-pair exact Jaccard (d35's formula)
    // + the recursive-closure components, folded per component.
    "d98_dup_cluster_audit" ->
      s"""WITH RECURSIVE $CandCtes,
         |ds AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
         |scored AS (SELECT c.a_id, c.b_id,
         |   CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
         |     / (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss)))
         |     AS jaccard
         |  FROM cand c
         |   JOIN ds a ON a.doc_id = c.a_id
         |   JOIN ds b ON b.doc_id = c.b_id),
         |e AS (SELECT a_id AS src, b_id AS dst FROM cand
         |      UNION SELECT b_id, a_id FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |sizes AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
         |          FROM comp GROUP BY 1),
         |pc AS (SELECT comp.component,
         |        CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |        MIN(s.jaccard) AS min_jaccard
         |       FROM scored s JOIN comp ON comp.id = s.a_id GROUP BY 1)
         |SELECT sizes.component, sizes.n_docs, pc.n_pairs, pc.min_jaccard,
         | CAST((CAST(pc.n_pairs AS HUGEINT) * 2 * 1000000)
         |   // (CAST(sizes.n_docs AS HUGEINT) * (sizes.n_docs - 1))
         |   AS BIGINT) AS density_micro
         |FROM sizes JOIN pc ON pc.component = sizes.component
         |ORDER BY sizes.component""".stripMargin,

    // d97: both rank passes as ranked windows per feature; U and the
    // micro-AUC in exact HUGEINT arithmetic.
    "d97_feature_auc" ->
      """WITH sc AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS f_chars,
        |   CAST(len(string_split(text,' ')) AS BIGINT) AS f_tokens,
        |   CAST(len(list_distinct(string_split(text,' '))) AS BIGINT)
        |     AS f_types,
        |   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        |  FROM documents),
        |f AS (SELECT doc_id, 'f_chars' AS feature, f_chars AS v, pos FROM sc
        |      UNION ALL
        |      SELECT doc_id, 'f_tokens', f_tokens, pos FROM sc
        |      UNION ALL
        |      SELECT doc_id, 'f_types', f_types, pos FROM sc),
        |r AS (SELECT feature, doc_id, v, pos,
        |       ROW_NUMBER() OVER (PARTITION BY feature
        |        ORDER BY v, doc_id) AS rk
        |      FROM f),
        |p AS (SELECT feature, rk,
        |       ROW_NUMBER() OVER (PARTITION BY feature
        |        ORDER BY v, doc_id) AS pk
        |      FROM r WHERE pos = 1),
        |n AS (SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
        |       CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg
        |      FROM sc),
        |u AS (SELECT feature, CAST(SUM(rk - pk) AS BIGINT) AS u_stat
        |      FROM p GROUP BY 1)
        |SELECT u.feature, n.n_pos, n.n_neg, u.u_stat,
        | CAST((CAST(u.u_stat AS HUGEINT) * 1000000)
        |   // (CAST(n.n_pos AS HUGEINT) * n.n_neg) AS BIGINT) AS auc_micro
        |FROM u CROSS JOIN n ORDER BY feature""".stripMargin,

    // d96: d19's recursive-closure components, singleton fallback,
    // the same md5-mod split of the COMPONENT, and the straddle
    // witness counted over the same candidate pairs.
    "d96_leakage_split" ->
      s"""WITH RECURSIVE $CandCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM cand
         |      UNION SELECT b_id, a_id FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |docs AS (SELECT doc_id,
         |          CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |         FROM documents),
         |spl AS (SELECT d.doc_id,
         |         COALESCE(c.component, d.doc_id) AS component, d.n_tokens,
         |         CASE WHEN CAST(('0x'||substr(md5(CAST(
         |            COALESCE(c.component, d.doc_id) AS VARCHAR)),1,8))
         |            AS BIGINT) % 5 <= 3 THEN 'train' ELSE 'test' END AS split
         |        FROM docs d LEFT JOIN comp c ON c.id = d.doc_id),
         |wit AS (SELECT COALESCE(CAST(SUM(CASE WHEN sa.split <> sb.split
         |           THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_cross_pairs
         |        FROM cand
         |         JOIN spl sa ON sa.doc_id = cand.a_id
         |         JOIN spl sb ON sb.doc_id = cand.b_id),
         |nc AS (SELECT split, CAST(COUNT(*) AS BIGINT) AS n_components
         |       FROM (SELECT DISTINCT split, component FROM spl) u
         |       GROUP BY 1)
         |SELECT s.split AS split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(MAX(nc.n_components) AS BIGINT) AS n_components,
         | CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens,
         | CAST(MAX(w.n_cross_pairs) AS BIGINT) AS n_cross_pairs
         |FROM spl s JOIN nc ON nc.split = s.split CROSS JOIN wit w
         |GROUP BY s.split ORDER BY split""".stripMargin,

    // d95: the same grid and the same +−*/ double chain term for
    // term; floors land on identical doubles, so the integer sums
    // match exactly.
    "d95_source_chisq" ->
      """WITH t AS (SELECT source, unnest(string_split(text,' ')) AS w
        |           FROM documents),
        |sc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
        |       FROM t GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
        |       FROM sc GROUP BY 1),
        |gw AS (SELECT w, CAST(SUM(c_sw) AS BIGINT) AS c_w
        |       FROM sc GROUP BY 1),
        |ng AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_g FROM gw),
        |terms AS (SELECT g.source, g.n_s,
        |   CAST(FLOOR((CAST(COALESCE(sc.c_sw, 0) AS DOUBLE) / g.n_s
        |      - CAST(g.c_w AS DOUBLE) / ng.n_g)
        |     * (CAST(COALESCE(sc.c_sw, 0) AS DOUBLE) / g.n_s
        |      - CAST(g.c_w AS DOUBLE) / ng.n_g)
        |     / (CAST(g.c_w AS DOUBLE) / ng.n_g) * 1e6) AS BIGINT) AS term
        |  FROM (SELECT ns.source, ns.n_s, gw.w, gw.c_w
        |        FROM ns CROSS JOIN gw) g
        |   CROSS JOIN ng
        |   LEFT JOIN sc ON sc.source = g.source AND sc.w = g.w)
        |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
        | CAST(SUM(term) AS BIGINT) AS chisq_micro
        |FROM terms GROUP BY 1 ORDER BY source""".stripMargin,

    // d94: counts and totals stated naively; lift in exact HUGEINT
    // micro-units — the integral division mirrors Spark's
    // DECIMAL(38,0) DIV bit for bit (both are exact integers).
    "d94_pmi_collocations" ->
      s"""WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
         |u AS (SELECT unnest(toks) AS w FROM t),
         |uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY 1),
         |g AS (SELECT unnest(list_transform(range(1, len(toks)),
         |       i -> toks[i]||' '||toks[i+1])) AS bg FROM t),
         |bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_xy
         |       FROM g GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(c_xy) FROM bc) AS n_bi,
         |        (SELECT SUM(c1) FROM uc) AS n_uni),
         |bs AS (SELECT string_split(bg,' ')[1] AS w1,
         |        string_split(bg,' ')[2] AS w2, c_xy
         |       FROM bc WHERE c_xy >= $MinColloc)
         |SELECT bs.w1 AS w1, bs.w2 AS w2, bs.c_xy AS c_xy,
         | CAST((CAST(bs.c_xy AS HUGEINT) * n_uni * n_uni * 1000000)
         |   // (CAST(n_bi AS HUGEINT) * a.c1 * b.c1) AS BIGINT)
         |   AS lift_micro
         |FROM bs CROSS JOIN tot
         | JOIN uc a ON a.w = bs.w1
         | JOIN uc b ON b.w = bs.w2
         |ORDER BY w1, w2""".stripMargin,

    // d93: position-by-position overlapping substring counts — the
    // exact semantics AC emits, stated without any automaton.
    "d93_blocklist_scan" ->
      """WITH pats AS (SELECT * FROM (VALUES ('table scan'),('scan'),
        |  ('batch batch'),('sort merge'),('a'),('zz never')) AS t(pattern))
        |SELECT d.doc_id, p.pattern,
        | CAST(len(list_filter(range(1, length(d.text) - length(p.pattern) + 2),
        |      i -> substr(d.text, i, length(p.pattern)) = p.pattern))
        |   AS BIGINT) AS n_hits
        |FROM documents d CROSS JOIN pats p
        |ORDER BY d.doc_id, p.pattern""".stripMargin,

    // d92: the naive full-posting join at t=0.6 — the prefix-filtered
    // plan must reproduce it exactly (completeness theorem).
    "d92_prefix_filter_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss FROM t),
        |p AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
        |       FROM p x JOIN p y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ss) AS n FROM ss)
        |SELECT a_id, b_id,
        | CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS jaccard
        |FROM ix JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
        |WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.6e0
        |ORDER BY a_id, b_id""".stripMargin,

    "d91_term_spectrum" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
        |           FROM documents),
        |g AS (SELECT unnest(list_transform(range(1, len(toks)-1),
        |       i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS sh
        |      FROM t),
        |c AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS k FROM g GROUP BY 1),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_grams FROM g),
        |sp AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_types
        |       FROM c GROUP BY 1),
        |u AS (SELECT COALESCE((SELECT n_types FROM sp WHERE k = 1), 0)
        |        * 1000000 // n_grams AS unseen_mass_micro FROM tot)
        |SELECT sp.k AS k, sp.n_types AS n_types,
        | sp.k * sp.n_types AS mass,
        | COALESCE((sp.k + 1) * nx.n_types * 1000000 // sp.n_types, 0)
        |   AS gt_next_micro,
        | u.unseen_mass_micro AS unseen_mass_micro
        |FROM sp LEFT JOIN sp nx ON nx.k = sp.k + 1 CROSS JOIN u
        |ORDER BY k""".stripMargin,

    // d90: the 4×16 signature table built by per-shard MINs over the
    // same prefixed digest slices; pair cells by perm-equality sums;
    // exact arm from the distinct posting self-join.
    "d90_shard_minhash" -> {
      val mins = (for (j <- 0 until 4; b <- 0 until 4) yield
        s"MIN(CAST(('0x'||substr(md5('p$j:'||sh),${b * 8 + 1},8)) " +
          s"AS BIGINT)) AS m${j * 4 + b}").mkString(",\n        | ")
      val matches = (0 until 16)
        .map(k => s"(CASE WHEN a.m$k = b.m$k THEN 1 ELSE 0 END)")
        .mkString("\n        |  + ")
      s"""WITH t AS (SELECT doc_id % 4 AS shard,
         |        string_split(text,' ') AS toks FROM documents),
         |p AS (SELECT DISTINCT shard,
         |       unnest(list_transform(range(1, len(toks)-1),
         |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS sh
         |      FROM t),
         |sig AS (SELECT shard,
         | $mins
         | FROM p GROUP BY 1),
         |pairs AS (SELECT a.shard AS shard_a, b.shard AS shard_b,
         |  $matches AS n_perm_match
         | FROM sig a JOIN sig b ON a.shard < b.shard),
         |sz AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n
         |       FROM p GROUP BY 1),
         |ix AS (SELECT x.shard AS shard_a, y.shard AS shard_b,
         |        CAST(COUNT(*) AS BIGINT) AS nb
         |       FROM p x JOIN p y
         |        ON x.sh = y.sh AND x.shard < y.shard GROUP BY 1, 2)
         |SELECT pr.shard_a AS shard_a, pr.shard_b AS shard_b,
         | CAST(pr.n_perm_match AS BIGINT) AS n_perm_match,
         | CAST(pr.n_perm_match AS BIGINT) * 1000000 // 16
         |   AS est_jaccard_micro,
         | ix.nb * 1000000 // (sa.n + sb.n - ix.nb) AS exact_jaccard_micro
         |FROM pairs pr
         |JOIN ix ON pr.shard_a = ix.shard_a AND pr.shard_b = ix.shard_b
         |JOIN sz sa ON pr.shard_a = sa.shard
         |JOIN sz sb ON pr.shard_b = sb.shard
         |ORDER BY shard_a, shard_b""".stripMargin
    },

    // d89: d35's shingle CTEs + a MIN-per-shingle first-owner table;
    // novelty in integer micro so DIV matches.
    "d89_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
        |           FROM documents),
        |ss AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(toks)-1),
        |         i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss
        |       FROM t),
        |p AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |f AS (SELECT sh, CAST(MIN(doc_id) AS BIGINT) AS first_doc
        |      FROM p GROUP BY 1)
        |SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        | CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_novel,
        | (CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
        |   AS BIGINT) * 1000000) // COUNT(*) AS novelty_micro
        |FROM p JOIN f ON p.sh = f.sh
        |GROUP BY 1 ORDER BY p.doc_id""".stripMargin,

    // d87: the same sufficient statistics and Cramer expansion —
    // all-BIGINT, so the two engines agree bit-for-bit; HUGEINT sums
    // cast back per the house rule.
    "d87_ols_fit" ->
      """WITH f AS (SELECT CAST(n_chars AS BIGINT) AS y,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS nt,
        |        CAST(len(list_distinct(string_split(text,' ')))
        |          AS BIGINT) AS nd
        |       FROM documents),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(nt) AS BIGINT) // COUNT(*) AS mnt,
        |       CAST(SUM(nd) AS BIGINT) // COUNT(*) AS mnd FROM f),
        |s AS (SELECT m.n, m.mnt, m.mnd,
        |       CAST(SUM(nt - mnt) AS BIGINT) AS sx,
        |       CAST(SUM(nd - mnd) AS BIGINT) AS sd,
        |       CAST(SUM((nt - mnt)*(nt - mnt)) AS BIGINT) AS sxx,
        |       CAST(SUM((nt - mnt)*(nd - mnd)) AS BIGINT) AS sxd,
        |       CAST(SUM((nd - mnd)*(nd - mnd)) AS BIGINT) AS sdd,
        |       CAST(SUM(y) AS BIGINT) AS sy,
        |       CAST(SUM((nt - mnt)*y) AS BIGINT) AS sxy,
        |       CAST(SUM((nd - mnd)*y) AS BIGINT) AS sdy
        |      FROM f, m GROUP BY 1, 2, 3),
        |w AS (SELECT n, mnt, mnd,
        |       (n*(sxx*sdd - sxd*sxd) - sx*(sx*sdd - sxd*sd)
        |        + sd*(sx*sxd - sxx*sd)) AS det,
        |       (sy*(sxx*sdd - sxd*sxd) - sx*(sxy*sdd - sxd*sdy)
        |        + sd*(sxy*sxd - sxx*sdy)) AS d0,
        |       (n*(sxy*sdd - sdy*sxd) - sy*(sx*sdd - sxd*sd)
        |        + sd*(sx*sdy - sxy*sd)) AS d1,
        |       (n*(sxx*sdy - sxd*sxy) - sx*(sx*sdy - sxy*sd)
        |        + sy*(sx*sxd - sxx*sd)) AS d2
        |      FROM s),
        |ww AS (SELECT n, mnt, mnd, det,
        |        d0 // (det // 1000000) AS w0_micro,
        |        d1 // (det // 1000000) AS w1_micro,
        |        d2 // (det // 1000000) AS w2_micro
        |       FROM w)
        |SELECT ww.n, ww.det, ww.w0_micro, ww.w1_micro, ww.w2_micro,
        | CAST(SUM(ABS(f.y*1000000 - (ww.w0_micro
        |   + ww.w1_micro*(f.nt - ww.mnt)
        |   + ww.w2_micro*(f.nd - ww.mnd)))) AS BIGINT) // ww.n AS mae_micro
        |FROM f, ww GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // d84: d68's CTEs plus the w2-unigram join, the total-token row,
    // and the two-branch CASE — ((0.4·x)/y) left-associated in both
    // engines.
    "d84_backoff_lm" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t
        |              FROM documents),
        |bg AS (SELECT doc_id, lang, unnest(t[1:-2]) AS w1,
        |        unnest(t[2:]) AS w2 FROM toks),
        |uni AS (SELECT w, COUNT(*) AS c1 FROM
        |         (SELECT unnest(t) AS w FROM toks WHERE lang = 'en')
        |        GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n,
        |         CAST(COUNT(*) AS BIGINT) AS v FROM uni),
        |bi AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg
        |       WHERE lang = 'en' GROUP BY 1, 2),
        |scored AS (
        |  SELECT b.doc_id,
        |   CASE WHEN tb.c2 IS NOT NULL
        |        THEN CAST(FLOOR(LN(CAST(tb.c2 AS DOUBLE)
        |          / CAST(tu1.c1 AS DOUBLE)) * 1000000) AS BIGINT)
        |        ELSE CAST(FLOOR(LN(0.4e0
        |          * CAST(COALESCE(tu2.c1, 0) + 1 AS DOUBLE)
        |          / CAST(t.n + t.v AS DOUBLE)) * 1000000) AS BIGINT)
        |   END AS lp,
        |   CASE WHEN tb.c2 IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg b
        |  LEFT JOIN bi tb USING (w1, w2)
        |  LEFT JOIN uni tu1 ON b.w1 = tu1.w
        |  LEFT JOIN uni tu2 ON b.w2 = tu2.w
        |  CROSS JOIN tot t),
        |per_doc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |             CAST(SUM(bo) AS BIGINT) AS n_backoff,
        |             CAST(SUM(lp) AS BIGINT) AS lp_sum
        |            FROM scored GROUP BY 1)
        |SELECT d.doc_id, d.lang,
        | COALESCE(p.n_bigrams, 0) AS n_bigrams,
        | COALESCE(p.n_backoff, 0) AS n_backoff,
        | COALESCE(p.lp_sum, 0) AS lp_sum,
        | CAST(p.lp_sum AS DOUBLE) / p.n_bigrams / 1000000.0 AS avg_lp
        |FROM documents d LEFT JOIN per_doc p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // d83: the recursive closure labels components; the matrix is the
    // same component-keyed (source_a < source_b) self-join.
    "d83_source_contamination" ->
      s"""WITH RECURSIVE $CandCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM cand
         |      UNION SELECT b_id, a_id FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |cs AS (SELECT DISTINCT c.component, d.source
         |       FROM comp c JOIN documents d ON c.id = d.doc_id)
         |SELECT a.source AS source_a, b.source AS source_b,
         | CAST(COUNT(*) AS BIGINT) AS n_shared_components
         |FROM cs a JOIN cs b
         |  ON a.component = b.component AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,

    // d82: all 10 greedy rounds unrolled (the d73 idiom) — per round
    // the gain table, the argmax, and the extended covered list.
    "d82_coverage_select" -> {
      val rounds = (1 to 10).map(coverRoundCtes).mkString(",\n")
      val out = (1 to 10).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round, b$r.doc_id, b$r.gain,
           | (SELECT CAST(len(cov) AS BIGINT) FROM c$r) AS covered_total
           |FROM b$r""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS toks
         |           FROM documents),
         |sets AS MATERIALIZED (SELECT doc_id,
         |          list_distinct(list_transform(range(1, len(toks)-1),
         |           i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss
         |         FROM t),
         |c0 AS (SELECT CAST([] AS VARCHAR[]) AS cov),
         |$rounds
         |$out
         |ORDER BY round""".stripMargin
    },

    // d81: d35's exact-pair CTEs binned by true Jaccard, left-joined
    // to d06's candidate CTE chain (cand) — a hit is an exact pair
    // the banding also surfaced.
    "d81_lsh_recall" ->
      s"""WITH $CandCtes,
         |ss AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
         |p AS (SELECT doc_id, unnest(ss) AS s FROM ss),
         |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
         |       FROM p x JOIN p y ON x.s = y.s AND x.doc_id < y.doc_id
         |       GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(ss) AS n FROM ss),
         |ej AS (SELECT a_id, b_id,
         |        CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS j
         |       FROM ix JOIN sz sa ON a_id = sa.doc_id
         |       JOIN sz sb ON b_id = sb.doc_id
         |       WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.05e0),
         |g AS (SELECT CAST(FLOOR(e.j * 10) AS BIGINT) AS j_band,
         |       CAST(COUNT(*) AS BIGINT) AS n_exact,
         |       CAST(SUM(CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END)
         |         AS BIGINT) AS n_lsh
         |      FROM ej e LEFT JOIN cand c
         |        ON e.a_id = c.a_id AND e.b_id = c.b_id
         |      GROUP BY 1)
         |SELECT j_band, n_exact, n_lsh,
         | (n_lsh * 1000000) // n_exact AS recall_micro
         |FROM g ORDER BY j_band""".stripMargin,

    // d80: rank via ROW_NUMBER (count DESC, term ASC) capped 64, the
    // same micro-quantized ln points, the same two-step double
    // sequence for slope then intercept.
    "d80_zipf_fit" ->
      """WITH tc AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM
        |        (SELECT unnest(string_split(text, ' ')) AS t
        |         FROM documents) GROUP BY 1),
        |rk AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r
        |       FROM tc),
        |pts AS (SELECT CAST(FLOOR(LN(CAST(r AS DOUBLE)) * 1000000e0)
        |          AS BIGINT) AS x,
        |         CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000e0)
        |          AS BIGINT) AS y
        |        FROM rk WHERE r <= 64),
        |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |       CAST(SUM(x * y) AS BIGINT) AS sxy,
        |       CAST(SUM(x * x) AS BIGINT) AS sxx FROM pts)
        |SELECT n AS n_terms,
        | CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000e0) AS BIGINT)
        |  AS slope_micro,
        | CAST(FLOOR((CAST(sy AS DOUBLE)
        |   - CAST(n * sxy - sx * sy AS DOUBLE)
        |     / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro,
        | CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
        |   / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000e0) AS BIGINT)
        |   BETWEEN -1200000 AND -800000 AS is_zipfian
        |FROM s""".stripMargin,

    // d79: the same rolling-window cuts in list arithmetic — range is
    // end-exclusive so positions run 4..n−1; chunk c spans cuts[c]+1
    // .. cuts[c+1]; first-seen by (doc_id, pos) over md5(chunk).
    "d79_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |        len(string_split(text, ' ')) AS n FROM documents),
        |b AS (SELECT doc_id, toks, n,
        |       CASE WHEN n >= 5 THEN list_filter(range(4, n),
        |        i -> CAST(('0x'||substr(md5(toks[i-3]||' '||toks[i-2]||' '
        |              ||toks[i-1]||' '||toks[i]),1,8)) AS BIGINT) % 16 = 0)
        |       ELSE CAST([] AS BIGINT[]) END AS bpos
        |      FROM t),
        |c AS (SELECT doc_id, toks,
        |       [CAST(0 AS BIGINT)] || bpos || [CAST(n AS BIGINT)] AS cuts
        |      FROM b),
        |ch AS (SELECT doc_id, toks, cuts,
        |        unnest(range(1, len(cuts))) AS cpos FROM c),
        |ch2 AS (SELECT doc_id, cpos - 1 AS pos,
        |         array_to_string(toks[cuts[cpos] + 1 : cuts[cpos + 1]], ' ')
        |          AS chunk
        |        FROM ch),
        |r AS (SELECT doc_id, pos, chunk,
        |       ROW_NUMBER() OVER (PARTITION BY md5(chunk)
        |        ORDER BY doc_id, pos) AS rn
        |      FROM ch2)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        | CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        | CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup_chunks
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // d78: same degree-ordered orientation in SQL — the oriented edge
    // list, the 2-path join, and the closing-edge join; wedge total
    // off the degree table. Every output is an exact integer.
    "d78_graph_transitivity" ->
      s"""WITH $CandCtes,
         |edges AS (SELECT LEAST(a_id, b_id) AS a, GREATEST(a_id, b_id) AS b
         |          FROM cand WHERE a_id <> b_id GROUP BY 1, 2),
         |deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM
         |         (SELECT a AS id FROM edges
         |          UNION ALL SELECT b FROM edges) GROUP BY 1),
         |dir AS (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
         |                THEN e.a ELSE e.b END AS src,
         |               CASE WHEN (da.deg, e.a) < (db.deg, e.b)
         |                THEN e.b ELSE e.a END AS dst
         |        FROM edges e
         |        JOIN deg da ON e.a = da.id JOIN deg db ON e.b = db.id),
         |tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |        FROM dir e1 JOIN dir e2 ON e1.dst = e2.src
         |        JOIN dir e3 ON e3.src = e1.src AND e3.dst = e2.dst),
         |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         |          CAST(SUM(deg) AS BIGINT) // 2 AS n_edges,
         |          CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
         |         FROM deg)
         |SELECT b.n_nodes, b.n_edges, b.n_wedges, t.n_triangles,
         | (3 * t.n_triangles * 1000000) // b.n_wedges AS transitivity_micro
         |FROM base b CROSS JOIN tri t""".stripMargin,

    // d77: d19's recursive closure labels the groups; both bucketings
    // replay the md5-prefix hash; the straddler counts are HAVING
    // subqueries folded to scalars.
    "d77_component_split" ->
      s"""WITH RECURSIVE $CandCtes,
         |e AS (SELECT a_id AS src, b_id AS dst FROM cand
         |      UNION SELECT b_id, a_id FROM cand),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM e
         |  UNION
         |  SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         |comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id),
         |g AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS gkey
         |      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         |a AS (SELECT doc_id, gkey,
         |       CASE WHEN CAST(('0x'||substr(md5(CAST(gkey AS VARCHAR)),1,8))
         |              AS BIGINT) % 100 < 80 THEN 'train'
         |            WHEN CAST(('0x'||substr(md5(CAST(gkey AS VARCHAR)),1,8))
         |              AS BIGINT) % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |       CASE WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
         |              AS BIGINT) % 100 < 80 THEN 'train'
         |            WHEN CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
         |              AS BIGINT) % 100 < 90 THEN 'val'
         |            ELSE 'test' END AS naive_split
         |      FROM g),
         |lg AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaky_grouped FROM
         |        (SELECT gkey FROM a GROUP BY gkey
         |         HAVING COUNT(DISTINCT split) > 1)),
         |ln AS (SELECT CAST(COUNT(*) AS BIGINT) AS leaky_naive FROM
         |        (SELECT gkey FROM a GROUP BY gkey
         |         HAVING COUNT(DISTINCT naive_split) > 1))
         |SELECT a.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(COUNT(DISTINCT gkey) AS BIGINT) AS n_groups,
         | lg.leaky_grouped, ln.leaky_naive
         |FROM a CROSS JOIN lg CROSS JOIN ln
         |GROUP BY a.split, lg.leaky_grouped, ln.leaky_naive
         |ORDER BY a.split""".stripMargin,

    "d72_weighted_reservoir" ->
      """WITH w AS (SELECT lang, doc_id,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS w,
        |        (CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8))
        |          AS BIGINT) + 1) / 4294967296.0e0 AS u
        |       FROM documents),
        |p AS (SELECT lang, doc_id, w,
        |       CAST(FLOOR(LN(u) / CAST(w AS DOUBLE) * 1000000000.0e0)
        |        AS BIGINT) AS pm,
        |       lpad(CAST(doc_id AS VARCHAR), 20, '0') AS tag
        |      FROM w)
        |SELECT lang, CAST(rn AS BIGINT) AS rank, doc_id,
        | w AS n_tokens, pm AS priority_micro
        |FROM (SELECT lang, doc_id, w, pm,
        |       ROW_NUMBER() OVER (PARTITION BY lang
        |        ORDER BY pm DESC, tag) AS rn
        |      FROM p) x
        |WHERE rn <= 5 ORDER BY lang, rank""".stripMargin,

    // d73: all three training rounds unrolled — per round, the weighted
    // pair count, the (cnt DESC, pair ASC) argmax, and the greedy
    // left-to-right fusion replayed as a per-word recursive index walk
    // (i jumps 2 over a fused pair, 1 otherwise; the terminal row per
    // word is the first with i past the symbol list).
    "d73_bpe_trainer" ->
      s"""WITH RECURSIVE
         |wcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
         |         FROM (SELECT unnest(string_split(text, ' ')) AS w
         |               FROM documents) GROUP BY 1),
         |syms0 AS (SELECT w, wc,
         |           list_transform(range(1, len(w)+1),
         |            i -> substr(w, CAST(i AS INT), 1)) AS syms
         |          FROM wcnt),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)}
         |SELECT * FROM (
         | SELECT CAST(1 AS BIGINT) AS round, a AS "left", b AS "right",
         |        a||b AS merged, cnt AS pair_count FROM best1
         | UNION ALL SELECT 2, a, b, a||b, cnt FROM best2
         | UNION ALL SELECT 3, a, b, a||b, cnt FROM best3)
         |ORDER BY round""".stripMargin,

    // d74: every corpus word's post-merge segmentation already exists
    // as d73's syms3 — docs join their words to it and sum.
    "d74_bpe_encode" ->
      s"""WITH RECURSIVE
         |wcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc
         |         FROM (SELECT unnest(string_split(text, ' ')) AS w
         |               FROM documents) GROUP BY 1),
         |syms0 AS (SELECT w, wc,
         |           list_transform(range(1, len(w)+1),
         |            i -> substr(w, CAST(i AS INT), 1)) AS syms
         |          FROM wcnt),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)},
         |docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |         FROM documents)
         |SELECT d.doc_id,
         | CAST(SUM(len(d.w)) AS BIGINT) AS n_chars,
         | CAST(SUM(len(s.syms)) AS BIGINT) AS n_bpe_tokens,
         | CAST(SUM(len(d.w)) - SUM(len(s.syms)) AS BIGINT) AS saved
         |FROM docw d JOIN syms3 s ON d.w = s.w
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "d75_dataset_card" ->
      """WITH b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |        CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |        CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique
        |       FROM documents),
        |v AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab FROM
        |       (SELECT unnest(string_split(text,' ')) AS t FROM documents))
        |SELECT b.n_docs, b.n_tokens, b.n_chars, b.n_sources, b.n_langs,
        | v.vocab,
        | b.n_docs - b.n_unique AS n_exact_dups,
        | ((b.n_docs - b.n_unique) * 1000000) // b.n_docs AS dup_frac_micro,
        | CAST(b.n_tokens AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |  AS mean_doc_tokens
        |FROM b CROSS JOIN v""".stripMargin,

    // d76: each KMV estimate re-derived from ranked distinct hashes
    // (q26's derivation, k = 4): exact count when below k, else
    // (k−1)·2³²/h(k) with h(k) read at OFFSET k−1. The vocab path's
    // per-doc-state merge on the Spark side must equal this global
    // bottom-k because KMV state is a set function (q27's argument).
    "d76_dataset_card_sketch" ->
      """WITH
        |src AS (SELECT DISTINCT CAST(('0x'||substr(md5(source),1,8)) AS BIGINT) AS h FROM documents),
        |lng AS (SELECT DISTINCT CAST(('0x'||substr(md5(lang),1,8)) AS BIGINT) AS h FROM documents),
        |txt AS (SELECT DISTINCT CAST(('0x'||substr(md5(text),1,8)) AS BIGINT) AS h FROM documents),
        |voc AS (SELECT DISTINCT CAST(('0x'||substr(md5(t),1,8)) AS BIGINT) AS h FROM
        |        (SELECT unnest(string_split(text,' ')) AS t FROM documents)),
        |est_src AS (SELECT CASE WHEN COUNT(*) < 4 THEN CAST(COUNT(*) AS DOUBLE)
        |             ELSE 3e0 * 4294967296e0 / (SELECT h FROM src ORDER BY h LIMIT 1 OFFSET 3) END AS e FROM src),
        |est_lng AS (SELECT CASE WHEN COUNT(*) < 4 THEN CAST(COUNT(*) AS DOUBLE)
        |             ELSE 3e0 * 4294967296e0 / (SELECT h FROM lng ORDER BY h LIMIT 1 OFFSET 3) END AS e FROM lng),
        |est_txt AS (SELECT CASE WHEN COUNT(*) < 4 THEN CAST(COUNT(*) AS DOUBLE)
        |             ELSE 3e0 * 4294967296e0 / (SELECT h FROM txt ORDER BY h LIMIT 1 OFFSET 3) END AS e FROM txt),
        |est_voc AS (SELECT CASE WHEN COUNT(*) < 4 THEN CAST(COUNT(*) AS DOUBLE)
        |             ELSE 3e0 * 4294967296e0 / (SELECT h FROM voc ORDER BY h LIMIT 1 OFFSET 3) END AS e FROM voc),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS n_tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS n_chars FROM documents)
        |SELECT b.n_docs, b.n_tokens, b.n_chars,
        | est_src.e AS n_sources_est, est_lng.e AS n_langs_est,
        | est_txt.e AS n_unique_texts_est, est_voc.e AS vocab_est
        |FROM b, est_src, est_lng, est_txt, est_voc""".stripMargin,

    // d55: the three detector oracles as subquery blocks (each keeps
    // its own WITH chain), outer-joined; semantic best-score via MAX
    // over the thresholded pairs ≡ v14's rn=1 row.
    // d64: d30's shingle/fp CTEs + q38's bloom build/probe arithmetic
    // over the fp strings; the residual semi join restores exactness.
    "d64_bloom_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s8 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||
        |             toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh8
        |       FROM t),
        |ev AS (SELECT DISTINCT md5(sh8) AS fp FROM s8 WHERE doc_id % 50 = 0),
        |hx AS (SELECT fp,
        |        CAST(('0x'||substr(md5(fp),1,8)) AS BIGINT) AS h1,
        |        CAST(('0x'||substr(md5(fp||'#b'),1,8)) AS BIGINT) AS h2 FROM ev),
        |pos AS (SELECT DISTINCT ((h1 + i.i*h2) % 4096) AS p
        |        FROM hx CROSS JOIN (SELECT unnest(range(3)) AS i) i),
        |words AS (SELECT p//32 AS w,
        |           bit_or(CAST(1 AS BIGINT) << CAST(p%32 AS INTEGER)) AS word
        |          FROM pos GROUP BY 1),
        |tr AS (SELECT DISTINCT doc_id, md5(sh8) AS fp FROM s8
        |       WHERE doc_id % 50 <> 0),
        |ph AS (SELECT doc_id, fp,
        |        CAST(('0x'||substr(md5(fp),1,8)) AS BIGINT) AS h1,
        |        CAST(('0x'||substr(md5(fp||'#b'),1,8)) AS BIGINT) AS h2 FROM tr),
        |cand AS (SELECT ph.doc_id, ph.fp
        |         FROM ph CROSS JOIN (SELECT unnest(range(3)) AS i) i
        |         JOIN words ON words.w = ((ph.h1 + i.i*ph.h2) % 4096)//32
        |         WHERE ((words.word >> CAST(((ph.h1 + i.i*ph.h2) % 4096)%32 AS INTEGER)) & 1) = 1
        |         GROUP BY 1, 2 HAVING COUNT(*) = 3),
        |shd AS (SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |        FROM cand c SEMI JOIN ev ON c.fp = ev.fp GROUP BY 1),
        |base AS (SELECT ph.doc_id, CAST(COUNT(*) AS BIGINT) AS n_probed,
        |          CAST(COUNT(*) FILTER (WHERE c.fp IS NOT NULL) AS BIGINT)
        |            AS n_bloom_pass
        |         FROM ph LEFT JOIN cand c
        |          ON ph.doc_id = c.doc_id AND ph.fp = c.fp
        |         GROUP BY 1)
        |SELECT base.doc_id, base.n_probed, base.n_bloom_pass,
        | COALESCE(shd.n_shared, 0) AS n_shared
        |FROM base LEFT JOIN shd ON base.doc_id = shd.doc_id
        |ORDER BY base.doc_id""".stripMargin,

    // d65: d64's CTE chain minus the witness aggregate — the serving
    // answer is cand ⋉ ev, counted per doc.
    "d65_bloom_serving" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s8 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||
        |             toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh8
        |       FROM t),
        |ev AS (SELECT DISTINCT md5(sh8) AS fp FROM s8 WHERE doc_id % 50 = 0),
        |hx AS (SELECT fp,
        |        CAST(('0x'||substr(md5(fp),1,8)) AS BIGINT) AS h1,
        |        CAST(('0x'||substr(md5(fp||'#b'),1,8)) AS BIGINT) AS h2 FROM ev),
        |pos AS (SELECT DISTINCT ((h1 + i.i*h2) % 4096) AS p
        |        FROM hx CROSS JOIN (SELECT unnest(range(3)) AS i) i),
        |words AS (SELECT p//32 AS w,
        |           bit_or(CAST(1 AS BIGINT) << CAST(p%32 AS INTEGER)) AS word
        |          FROM pos GROUP BY 1),
        |tr AS (SELECT DISTINCT doc_id, md5(sh8) AS fp FROM s8
        |       WHERE doc_id % 50 <> 0),
        |ph AS (SELECT doc_id, fp,
        |        CAST(('0x'||substr(md5(fp),1,8)) AS BIGINT) AS h1,
        |        CAST(('0x'||substr(md5(fp||'#b'),1,8)) AS BIGINT) AS h2 FROM tr),
        |cand AS (SELECT ph.doc_id, ph.fp
        |         FROM ph CROSS JOIN (SELECT unnest(range(3)) AS i) i
        |         JOIN words ON words.w = ((ph.h1 + i.i*ph.h2) % 4096)//32
        |         WHERE ((words.word >> CAST(((ph.h1 + i.i*ph.h2) % 4096)%32 AS INTEGER)) & 1) = 1
        |         GROUP BY 1, 2 HAVING COUNT(*) = 3)
        |SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
        |FROM cand c SEMI JOIN ev ON c.fp = ev.fp
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // d63: d04's fingerprint keeper + d06's candidate/sets CTEs at the
    // 0.5 gate + v09's shared pair SQL as a CTE, folded with d56's
    // conditional-sum attribution.
    "d63_dedup_cascade" ->
      s"""WITH $CandCtes,
        |sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
        |j AS (SELECT a_id, b_id,
        |       CAST(len(list_intersect(sa.ss,sb.ss)) AS DOUBLE)
        |        /(len(sa.ss)+len(sb.ss)-len(list_intersect(sa.ss,sb.ss))) AS jac
        |      FROM cand
        |      JOIN sets sa ON a_id=sa.doc_id JOIN sets sb ON b_id=sb.doc_id),
        |sem AS (${graft.queries.VectorQueries.SemanticPairsSql}),
        |fl AS (SELECT d.doc_id,
        |        d.doc_id > MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS f1,
        |        EXISTS (SELECT 1 FROM j WHERE j.b_id = d.doc_id
        |                AND j.jac >= 0.5e0) AS f2,
        |        EXISTS (SELECT 1 FROM sem WHERE sem.b_id = d.doc_id) AS f3
        |       FROM documents d),
        |a AS (SELECT COUNT(*) AS total,
        | CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS any1,
        | CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS any2,
        | CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS any3,
        | CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS first1,
        | CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS first2,
        | CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS first3
        |FROM fl)
        |SELECT 's1_exact' AS stage, any1 AS n_flagged_any,
        |       first1 AS n_removed_first, total - first1 AS n_remaining FROM a
        |UNION ALL SELECT 's2_near_dup', any2, first2,
        |       total - first1 - first2 FROM a
        |UNION ALL SELECT 's3_semantic', any3, first3,
        |       total - first1 - first2 - first3 FROM a
        |ORDER BY stage""".stripMargin,

    // d62: v05's assignment CTE bridges vec_id → cell; tf re-keys by
    // cell; the idf/rank tail is d61's with cell in place of doc_id.
    "d62_cluster_topics" ->
      """WITH seeds AS (
        |  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT e.vec_id, s.cell,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), s.cv) AS cs
        |  FROM embeddings e CROSS JOIN seeds s),
        |assigned AS (
        |  SELECT vec_id, cell FROM (
        |   SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cell) AS rn
        |   FROM scored) r WHERE rn = 1),
        |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |      FROM documents),
        |tf AS (SELECT a.cell, t.term, COUNT(*) AS tf
        |       FROM t JOIN assigned a ON t.doc_id = a.vec_id GROUP BY 1, 2),
        |docdf AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY term),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |idf AS (SELECT term,
        |        CAST(FLOOR(ln(CAST(nd.n_docs AS DOUBLE) / CAST(df AS DOUBLE))
        |          * 1000000.0e0) AS BIGINT) AS idf_micro
        |       FROM docdf, nd),
        |sc AS (SELECT tf.cell, tf.term, CAST(tf.tf AS BIGINT) AS tf,
        |        CAST(tf.tf AS BIGINT) * idf.idf_micro AS score_micro
        |       FROM tf JOIN idf ON tf.term = idf.term),
        |r AS (SELECT cell, term, tf, score_micro,
        |       ROW_NUMBER() OVER (PARTITION BY cell
        |        ORDER BY score_micro DESC, term) AS rank
        |      FROM sc)
        |SELECT cell, CAST(rank AS BIGINT) AS rank, term, tf, score_micro
        |FROM r WHERE rank <= 3 ORDER BY cell, rank""".stripMargin,

    // d61: same tf/df CTEs; idf quantizes per term before the integer
    // multiply, rank ties break (score desc, term) on both engines.
    "d61_tfidf_keywords" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |df AS (SELECT term,
        |        CAST(FLOOR(ln(CAST(nd.n_docs AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |          * 1000000.0e0) AS BIGINT) AS idf_micro
        |       FROM tf, nd GROUP BY term, nd.n_docs),
        |sc AS (SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
        |        CAST(tf.tf AS BIGINT) * df.idf_micro AS score_micro
        |       FROM tf JOIN df ON tf.term = df.term),
        |r AS (SELECT doc_id, term, tf, score_micro,
        |       ROW_NUMBER() OVER (PARTITION BY doc_id
        |        ORDER BY score_micro DESC, term) AS rank
        |      FROM sc)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score_micro
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // d60: d06's candidate/sets CTEs + per-band agreement counts; the
    // micro-unit quantization and division sequence match Spark's.
    "d60_minhash_calibration" ->
      s"""WITH $CandCtes,
        |sets AS (SELECT doc_id, list_distinct(sh) AS ss FROM sh),
        |j AS (SELECT a_id, b_id,
        |       CAST(len(list_intersect(sa.ss,sb.ss)) AS DOUBLE)
        |        /(len(sa.ss)+len(sb.ss)-len(list_intersect(sa.ss,sb.ss))) AS jaccard
        |      FROM cand
        |      JOIN sets sa ON a_id=sa.doc_id JOIN sets sb ON b_id=sb.doc_id),
        |agree AS (SELECT c.a_id, c.b_id,
        |           COUNT(*) FILTER (WHERE xa.mh = xb.mh) AS n_agree
        |          FROM cand c
        |          JOIN sig xa ON xa.doc_id = c.a_id
        |          JOIN sig xb ON xb.doc_id = c.b_id AND xb.band = xa.band
        |          GROUP BY c.a_id, c.b_id),
        |p AS (SELECT agree.n_agree,
        |       CAST(FLOOR(j.jaccard * 1000000.0e0) AS BIGINT) AS jm,
        |       CAST(agree.n_agree * 250000 AS BIGINT) AS em
        |      FROM j JOIN agree ON j.a_id = agree.a_id AND j.b_id = agree.b_id)
        |SELECT CAST(n_agree AS BIGINT) AS n_agree, COUNT(*) AS n_pairs,
        | CAST(SUM(jm) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0e0
        |  AS avg_jaccard,
        | CAST(SUM(ABS(em - jm)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |  / 1000000.0e0 AS mean_abs_err
        |FROM p GROUP BY n_agree ORDER BY n_agree""".stripMargin,

    // d59: the shared ledger SQL as a CTE + d17's bucket CASE with the
    // eval/quarantine overrides layered in precedence order.
    "d59_clean_split" ->
      s"""WITH ledger AS ($D55LedgerSql),
         |leak AS (SELECT doc_id FROM ledger WHERE leaked),
         |lab AS (SELECT d.lang,
         |   CASE WHEN d.doc_id % 50 = 0 THEN 'eval'
         |        WHEN leak.doc_id IS NOT NULL THEN 'quarantine'
         |        WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |              % 100 < 80 THEN 'train'
         |        WHEN CAST(('0x'||substr(md5(CAST(d.doc_id AS VARCHAR)),1,8)) AS BIGINT)
         |              % 100 < 90 THEN 'val'
         |        ELSE 'test' END AS split
         |  FROM documents d LEFT JOIN leak ON d.doc_id = leak.doc_id)
         |SELECT split, lang, COUNT(*) AS n_docs
         |FROM lab GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    // d58: d50's weight CTEs + the global min shift + d39's systematic
    // selection arithmetic (2·budget = 40 folded in 64-bit), end to end.
    "d58_dsir_resample" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |            unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cs,
        |       CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS ct
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ts,
        |         COALESCE(CAST(SUM(ct) AS BIGINT), 0) AS tt,
        |         CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |p AS (SELECT tok,
        |       CAST(FLOOR(ln(CAST(ct + 1 AS DOUBLE)
        |         / CAST(tt + v AS DOUBLE)) * 1000000.0e0) AS BIGINT)
        |       - CAST(FLOOR(ln(CAST(cs + 1 AS DOUBLE)
        |         / CAST(ts + v AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lr
        |      FROM c, tot),
        |s AS (SELECT t.doc_id, CAST(SUM(p.lr) AS BIGINT) AS lr_sum
        |      FROM t JOIN p ON t.tok = p.tok GROUP BY t.doc_id),
        |mn AS (SELECT MIN(lr_sum) AS mn FROM s),
        |w AS (SELECT d.source, s.doc_id, s.lr_sum - mn.mn + 1 AS w
        |      FROM s JOIN documents d ON s.doc_id = d.doc_id, mn),
        |b AS (SELECT source, doc_id, w,
        |       CAST(SUM(w) OVER (PARTITION BY source ORDER BY doc_id
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |       CAST(SUM(w) OVER (PARTITION BY source) AS BIGINT) AS tw
        |      FROM w)
        |SELECT source, doc_id, w,
        | (((40 * cum) // tw) + 1) // 2
        |  - (((40 * (cum - w)) // tw) + 1) // 2 AS n_hits
        |FROM b
        |WHERE (((40 * cum) // tw) + 1) // 2
        |  - (((40 * (cum - w)) // tw) + 1) // 2 > 0
        |ORDER BY source, doc_id""".stripMargin,

    // d57: same bucketing/weight derivation over DuckDB's range +
    // unnest; the logit is an exact integer sum on both engines.
    "d57_hashed_classifier" ->
      """WITH wt AS (SELECT i.i AS bucket,
        |   CAST(('0x'||substr(md5('w#'||CAST(i.i AS VARCHAR)),1,8)) AS BIGINT)
        |     % 2001 - 1000 AS w
        |  FROM (SELECT unnest(range(1024)) AS i) i),
        |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |b AS (SELECT doc_id,
        |       CAST(('0x'||substr(md5(tok),1,8)) AS BIGINT) % 1024 AS bucket
        |      FROM t)
        |SELECT b.doc_id, COUNT(*) AS n_tokens, CAST(SUM(w) AS BIGINT) AS logit,
        | CAST(SUM(w) AS BIGINT) > 0 AS label
        |FROM b JOIN wt USING (bucket)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // d56: the same four rules + first-fail CASE as conditional sums;
    // thresholds in e-notation so DuckDB compares in double like Spark.
    "d56_filter_cascade" ->
      """WITH f AS (SELECT
        |  len(string_split(text,' ')) AS n_tok,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        |    / len(string_split(text,' ')) AS dr,
        |  CAST(n_chars - (len(string_split(text,' ')) - 1) AS DOUBLE)
        |    / len(string_split(text,' ')) AS awl,
        |  n_chars
        | FROM documents),
        |g AS (SELECT n_tok < 40 AS f1, dr < 0.45e0 AS f2,
        |       (awl < 4.0e0 OR awl > 4.8e0) AS f3, n_chars > 400 AS f4
        |      FROM f),
        |a AS (SELECT COUNT(*) AS total,
        | CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS any1,
        | CAST(SUM(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS any2,
        | CAST(SUM(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS any3,
        | CAST(SUM(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS any4,
        | CAST(SUM(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS first1,
        | CAST(SUM(CASE WHEN NOT f1 AND f2 THEN 1 ELSE 0 END) AS BIGINT) AS first2,
        | CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND f3 THEN 1 ELSE 0 END) AS BIGINT) AS first3,
        | CAST(SUM(CASE WHEN NOT f1 AND NOT f2 AND NOT f3 AND f4 THEN 1 ELSE 0 END) AS BIGINT) AS first4
        |FROM g)
        |SELECT 'r1_too_short' AS rule, any1 AS n_failed_any,
        |       first1 AS n_failed_first, total - first1 AS n_remaining FROM a
        |UNION ALL SELECT 'r2_low_diversity', any2, first2,
        |       total - first1 - first2 FROM a
        |UNION ALL SELECT 'r3_word_length', any3, first3,
        |       total - first1 - first2 - first3 FROM a
        |UNION ALL SELECT 'r4_too_long', any4, first4,
        |       total - first1 - first2 - first3 - first4 FROM a
        |ORDER BY rule""".stripMargin,

    "d55_decontamination_ledger" -> D55LedgerSql,

    // d35's candidate CTEs at the recall threshold, then DuckDB's own
    // levenshtein over the joined texts — identical unit-cost DP.
    "d54_edit_rescore" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks
        |           FROM documents),
        |ss AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks)-1),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS ss FROM t),
        |p AS (SELECT doc_id, unnest(ss) AS sh FROM ss),
        |ix AS (SELECT x.doc_id AS a_id, y.doc_id AS b_id, COUNT(*) AS ix
        |       FROM p x JOIN p y ON x.sh = y.sh AND x.doc_id < y.doc_id
        |       GROUP BY 1, 2),
        |sz AS (SELECT doc_id, len(ss) AS n FROM ss),
        |j AS (SELECT a_id, b_id,
        |       CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) AS jaccard
        |      FROM ix JOIN sz sa ON a_id = sa.doc_id
        |       JOIN sz sb ON b_id = sb.doc_id
        |      WHERE CAST(ix AS DOUBLE) / (sa.n + sb.n - ix) >= 0.02e0)
        |SELECT a_id, b_id, jaccard, edit_dist,
        | CASE WHEN edit_dist >= 0
        |  THEN 1.0e0 - CAST(edit_dist AS DOUBLE) / CAST(maxlen AS DOUBLE)
        | END AS edit_sim,
        | COALESCE(edit_dist >= 0 AND
        |  1.0e0 - CAST(edit_dist AS DOUBLE) / CAST(maxlen AS DOUBLE) >= 0.8e0,
        |  FALSE) AS kept
        |FROM (
        | SELECT j.a_id, j.b_id, j.jaccard,
        |  CASE WHEN levenshtein(ta.text, tb.text) > 112 THEN CAST(-1 AS BIGINT)
        |   ELSE CAST(levenshtein(ta.text, tb.text) AS BIGINT) END AS edit_dist,
        |  GREATEST(length(ta.text), length(tb.text)) AS maxlen
        | FROM j JOIN t ta ON j.a_id = ta.doc_id JOIN t tb ON j.b_id = tb.doc_id) x
        |ORDER BY a_id, b_id""".stripMargin,

    // d50's count/ratio CTEs surfaced per term; the contribution is
    // an exact BIGINT product so the |contrib| ranking is total.
    "d52_vocab_drift" ->
      """WITH t AS (SELECT lang = 'en' AS tgt,
        |            unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cs,
        |       CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS ct
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ts,
        |         COALESCE(CAST(SUM(ct) AS BIGINT), 0) AS tt,
        |         CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |p AS (SELECT tok AS term, ct AS c_target, cs AS c_source,
        |       CAST(FLOOR(ln(CAST(ct + 1 AS DOUBLE)
        |         / CAST(tt + v AS DOUBLE)) * 1000000.0e0) AS BIGINT)
        |       - CAST(FLOOR(ln(CAST(cs + 1 AS DOUBLE)
        |         / CAST(ts + v AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lr_micro
        |      FROM c, tot)
        |SELECT term, c_target, c_source, lr_micro,
        | CAST(c_target * lr_micro AS BIGINT) AS contrib_micro
        |FROM p
        |ORDER BY abs(c_target * lr_micro) DESC, term LIMIT 20""".stripMargin,

    // d40's CTE shape with a second (target-filtered) count column off
    // the same token table; both quantized ln's replayed per term, the
    // subtraction AFTER quantization exactly as the Spark side.
    "d50_dsir_weights" ->
      """WITH t AS (SELECT doc_id, lang = 'en' AS tgt,
        |            unnest(string_split(text,' ')) AS tok
        |           FROM documents),
        |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cs,
        |       CAST(COUNT(*) FILTER (WHERE tgt) AS BIGINT) AS ct
        |      FROM t GROUP BY tok),
        |tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS ts,
        |         COALESCE(CAST(SUM(ct) AS BIGINT), 0) AS tt,
        |         CAST(COUNT(*) AS BIGINT) AS v FROM c),
        |p AS (SELECT tok,
        |       CAST(FLOOR(ln(CAST(ct + 1 AS DOUBLE)
        |         / CAST(tt + v AS DOUBLE)) * 1000000.0e0) AS BIGINT)
        |       - CAST(FLOOR(ln(CAST(cs + 1 AS DOUBLE)
        |         / CAST(ts + v AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lr
        |      FROM c, tot),
        |s AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
        |       CAST(SUM(p.lr) AS BIGINT) AS lr_sum
        |      FROM t JOIN p ON t.tok = p.tok GROUP BY t.doc_id)
        |SELECT doc_id, n_tokens, lr_sum,
        | CAST(lr_sum AS DOUBLE) / n_tokens / 1000000.0e0 AS avg_lr,
        | CAST(lr_sum AS DOUBLE) / n_tokens / 1000000.0e0 > 0.0e0 AS selected
        |FROM s ORDER BY doc_id""".stripMargin,

    // The declarative exact answer d48's two-pass plan must reproduce:
    // trigram explode, full group-by, relative-threshold HAVING. The
    // threshold (⌈2e-4·n⌉) is recomputed from the same token count so
    // both engines derive it from the data, not a hand-pinned literal.
    "d48_heavy_phrases" ->
      """WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
        |tri AS (SELECT unnest(list_transform(range(1, len(toks)-1),
        |         i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS phrase
        |        FROM t),
        |n AS (SELECT COUNT(*) AS n FROM tri)
        |SELECT phrase, COUNT(*) AS freq FROM tri
        |GROUP BY phrase
        |HAVING COUNT(*) >= CEIL(2e-4 * (SELECT n FROM n))
        |ORDER BY freq DESC, phrase""".stripMargin,

    // d35's shingle derivation + q22's KMV window-rank re-derivation,
    // keyed by language; the exact distinct count rides as the witness.
    "d43_ngram_profile" ->
      s"""WITH t AS (SELECT lang, string_split(text,' ') AS toks
         |           FROM documents),
         |p AS (SELECT lang, unnest(list_transform(range(1, len(toks)-1),
         |       i -> toks[i]||' '||toks[i+1]||' '||toks[i+2])) AS sh FROM t),
         |h AS (SELECT DISTINCT lang AS g,
         |       CAST(('0x'||substr(md5(sh),1,8)) AS BIGINT) AS h FROM p),
         |r AS (SELECT g, h,
         |       ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn,
         |       COUNT(*) OVER (PARTITION BY g) AS nd
         |      FROM h),
         |e AS (SELECT g,
         |       CASE WHEN MAX(nd) < $NgramKmvK THEN CAST(MAX(nd) AS DOUBLE)
         |            ELSE ${NgramKmvK - 1}e0 * 4294967296e0
         |                 / MAX(CASE WHEN rn = $NgramKmvK THEN h END) END AS est
         |      FROM r GROUP BY g),
         |s AS (SELECT lang, COUNT(*) AS n_shingles,
         |       CAST(COUNT(DISTINCT sh) AS BIGINT) AS n_exact
         |      FROM p GROUP BY lang)
         |SELECT s.lang, s.n_shingles, s.n_exact, e.est AS est_distinct
         |FROM s JOIN e ON s.lang = e.g ORDER BY lang""".stripMargin,

    // The three stage oracles composed verbatim: d38's window-rank pick,
    // d39's cumsum + floor-division hits (group key = lang), d40's
    // quantized LM trained on the sampled rows only.
    "d42_corpus_mix" ->
      s"""WITH pick AS (SELECT doc_id FROM (
         |       SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
         |         CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT),
         |         doc_id) AS rn
         |       FROM documents) x WHERE rn <= $LangBudget),
         |w AS (SELECT d.lang, d.doc_id, d.text,
         |       CAST(len(string_split(d.text,' ')) AS BIGINT) AS weight
         |      FROM documents d JOIN pick p ON d.doc_id = p.doc_id),
         |b AS (SELECT lang, doc_id, text, weight,
         |       CAST(SUM(weight) OVER (PARTITION BY lang ORDER BY doc_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |       CAST(SUM(weight) OVER (PARTITION BY lang) AS BIGINT) AS tw
         |      FROM w),
         |smp AS (SELECT lang, doc_id, text, weight,
         |        (((2 * $MixBudget * cum) // tw) + 1) // 2
         |         - (((2 * $MixBudget * (cum - weight)) // tw) + 1) // 2 AS n_hits
         |       FROM b WHERE tw > 0
         |         AND (((2 * $MixBudget * cum) // tw) + 1) // 2
         |          - (((2 * $MixBudget * (cum - weight)) // tw) + 1) // 2 > 0),
         |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM smp),
         |c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total,
         |         CAST(COUNT(*) AS BIGINT) AS vocab FROM c),
         |p AS (SELECT tok,
         |       CAST(FLOOR(ln(CAST(c + 1 AS DOUBLE)
         |         / CAST(total + vocab AS DOUBLE)) * 1000000.0e0) AS BIGINT) AS lp
         |      FROM c, tot),
         |sc AS (SELECT t.doc_id, COUNT(*) AS n_tokens,
         |        CAST(SUM(p.lp) AS BIGINT) AS lp_sum
         |       FROM t JOIN p ON t.tok = p.tok GROUP BY t.doc_id)
         |SELECT smp.lang, smp.doc_id, smp.weight, smp.n_hits, sc.n_tokens,
         | CAST(sc.lp_sum AS DOUBLE) / sc.n_tokens / 1000000.0e0 AS avg_lp
         |FROM smp JOIN sc ON smp.doc_id = sc.doc_id
         |WHERE CAST(sc.lp_sum AS DOUBLE) / sc.n_tokens / 1000000.0e0
         |  >= ${LmFloor}e0
         |ORDER BY lang, smp.doc_id""".stripMargin,

    // RRF fusion of the dense and lexical top-K rankings; ROW_NUMBER
    // before LIMIT ranks identically to Spark's rank-after-top-K (same
    // total order key).
    "d25_hybrid_rrf" -> {
      val qlit = embedder.embed(RagQueryText)
        .map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""WITH $bm25Ctes,
         |br AS (SELECT doc_id,
         |        CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS brank
         |       FROM bm ORDER BY score DESC, doc_id LIMIT $HybridTopK),
         |vs AS (SELECT vec_id,
         |        list_cosine_similarity(CAST(embedding AS DOUBLE[]), $qlit) AS vscore
         |       FROM embeddings),
         |vr AS (SELECT vec_id,
         |        CAST(ROW_NUMBER() OVER (ORDER BY vscore DESC, vec_id) AS BIGINT) AS vrank
         |       FROM vs ORDER BY vscore DESC, vec_id LIMIT $HybridTopK)
         |SELECT COALESCE(vr.vec_id, br.doc_id) AS doc_id,
         | COALESCE(1.0e0 / (60.0e0 + vr.vrank), 0.0e0)
         |  + COALESCE(1.0e0 / (60.0e0 + br.brank), 0.0e0) AS rrf
         |FROM vr FULL OUTER JOIN br ON vr.vec_id = br.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
    },

    // Stub-codec fields re-derived from md5 hex slices (byte i of the
    // digest = hex chars 2i+1..2i+2), sizeBytes = utf-8 byte length.
    "d21_media_decode" ->
      """SELECT doc_id AS media_id,
        | ['png','jpeg','wav','mp4'][(CAST(('0x'||substr(md5(text),1,2)) AS INT) % 4) + 1] AS format,
        | CAST(16 * (1 + CAST(('0x'||substr(md5(text),3,2)) AS INT) % 64) AS INT) AS width,
        | CAST(16 * (1 + CAST(('0x'||substr(md5(text),5,2)) AS INT) % 64) AS INT) AS height,
        | CAST(1 + CAST(('0x'||substr(md5(text),7,2)) AS INT) % 30 AS INT) AS n_frames,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size_bytes
        |FROM documents ORDER BY media_id""".stripMargin,

    // d88: frame count and spacing re-derived from the digest bytes
    // (d21's hex-slice idiom), frame hash = md5(text || ':frame:' || i);
    // position = rank of the strictly-increasing source indices.
    "d88_frame_sample" ->
      """WITH m AS (SELECT doc_id AS media_id, text,
        |        (CAST(('0x'||substr(md5(text),7,2)) AS INT) % 30) + 1
        |          AS total
        |       FROM documents),
        |i AS (SELECT media_id, text,
        |       CASE WHEN total <= 3 THEN range(CAST(total AS BIGINT))
        |            ELSE [CAST(0 AS BIGINT), CAST(total AS BIGINT) // 3,
        |                  (2 * CAST(total AS BIGINT)) // 3] END AS idxs
        |      FROM m),
        |f AS (SELECT media_id, unnest(idxs) AS src FROM i),
        |r AS (SELECT media_id, src,
        |       ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY src) - 1
        |         AS fi
        |      FROM f)
        |SELECT r.media_id AS media_id, CAST(r.fi AS BIGINT) AS frame_idx,
        | md5(i.text || ':frame:' || r.src) AS frame_md5
        |FROM r JOIN i ON r.media_id = i.media_id
        |ORDER BY media_id, frame_idx""".stripMargin,

    "d07_knn_text_query" -> {
      val qlit = embedder.embed(RagQueryText)
        .map(_.toDouble.toString).mkString("[", ", ", "]")
      s"""SELECT d.doc_id, d.lang,
         | list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), $qlit) AS score
         |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
         |ORDER BY score DESC, d.doc_id LIMIT 5""".stripMargin
    },

    "d08_quality_score" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_filter(string_split(text,' '), t -> t='the' OR t='a')) AS BIGINT) AS n_stop,
        | CAST(len(list_filter(string_split(text,' '), t -> t='the' OR t='a')) AS DOUBLE)
        |  / len(string_split(text,' ')) AS stop_ratio,
        | CAST(list_aggregate(list_transform(string_split(text,' '), t -> length(t)),'sum') AS DOUBLE)
        |  / len(string_split(text,' ')) AS avg_token_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d15_nested_headers" ->
      """SELECT source AS header1, 'd'||doc_id AS header2, trim(text) AS content
        |FROM documents ORDER BY header1, header2""".stripMargin,

    "d17_train_split" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        | lang, COUNT(*) AS n_docs
        |FROM (SELECT lang,
        |       CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100 AS b
        |      FROM documents) t
        |GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,

    "d18_term_stats" ->
      """SELECT term, COUNT(*) AS tf,
        | CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |      FROM documents) t
        |GROUP BY term ORDER BY tf DESC, term""".stripMargin,

    "d16_rolling_fingerprint" ->
      """SELECT doc_id,
        | list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |   list_transform(string_split(text,' '),
        |    t -> CAST(('0x'||substr(md5(t),1,8)) AS BIGINT))),
        |  (a, b) -> (a * 31 + b) % 2147483647) AS rolling_fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d13_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,

    // Banded pigeonhole candidates + exact bit_count(xor) distance,
    // over the same sim CTE as d13 (the two cannot drift).
    "d27_simhash_neardup" ->
      s"""WITH $simhashCtes,
         |sb AS (SELECT doc_id, simhash, band,
         |        (simhash >> (8 * band)) & 255 AS key
         |       FROM sim, (VALUES (0),(1),(2),(3)) b(band)),
         |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         |          x.simhash AS a_fp, y.simhash AS b_fp
         |         FROM sb x JOIN sb y
         |          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id)
         |SELECT a_id, b_id,
         | CAST(bit_count(xor(a_fp, b_fp)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(a_fp, b_fp)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // Same hash32 predicate as the Spark side (md5 first 8 hex chars).
    "d28_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,8)) AS BIGINT) % 100
        |      < CASE WHEN lang = 'en' THEN 30 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,

    // DuckDB 1.0 has no lateral generate_series — unnest(range(...)) in
    // a subquery; range(1, k+1) = 1..k, already BIGINT.
    "d29_epoch_weights" ->
      """SELECT doc_id, lang, epoch FROM (
        | SELECT doc_id, lang,
        |  unnest(range(1, (CASE WHEN lang = 'en' THEN 1
        |                        WHEN lang = 'zh' THEN 3
        |                        ELSE 2 END) + 1)) AS epoch
        | FROM documents)
        |ORDER BY doc_id, epoch""".stripMargin,

    // 8-gram shingles via the same range/list_transform shape as the
    // 3-gram candidate CTEs; empty for docs under 8 tokens.
    "d30_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |s8 AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)-6),
        |        i -> toks[i]||' '||toks[i+1]||' '||toks[i+2]||' '||toks[i+3]||' '||
        |             toks[i+4]||' '||toks[i+5]||' '||toks[i+6]||' '||toks[i+7])) AS sh8
        |       FROM t),
        |ev AS (SELECT DISTINCT md5(sh8) AS fp FROM s8 WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, md5(sh8) AS fp FROM s8 WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, CAST(COUNT(DISTINCT tr.fp) AS BIGINT) AS n_shared
        |FROM tr JOIN ev ON tr.fp = ev.fp
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    "d31_bpe_pairs" ->
      """WITH t AS (SELECT string_split(text,' ') AS toks FROM documents),
        |p AS (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> toks[i]||' '||toks[i+1])) AS pair FROM t)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM p
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin,

    // Same augmented string built in SQL; patterns are the shared
    // RE2-compatible subset (single-quoted SQL strings pass backslashes
    // through verbatim). DuckDB regexp_replace needs the explicit 'g'
    // flag — Spark's is global by default.
    "d34_pii_redact" ->
      """WITH a AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |   || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |   || '.' || CAST(doc_id % 100 AS VARCHAR)
        |   || CASE WHEN doc_id % 2 = 0 THEN ' and admin@test.org'
        |           ELSE '' END
        |   || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |   AS aug
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(aug,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
        | CAST(len(regexp_extract_all(aug,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        | CAST(len(regexp_extract_all(aug,
        |   '\b\d{3}-(\d{3}-)?\d{4}\b')) AS BIGINT) AS n_phone,
        | regexp_replace(regexp_replace(regexp_replace(aug,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{3}-(\d{3}-)?\d{4}\b', '<PHONE>', 'g') AS clean
        |FROM a ORDER BY doc_id""".stripMargin,

    // Same window recurrence as d01 (stride = size here); the reassembly
    // is an ordered string_agg, mirroring Spark's sorted collect_list.
    "d33_global_chunk_dedup" ->
      s"""WITH c AS (
         |  SELECT doc_id, pos,
         |   substr(text, CAST(pos*$ChunkSize+1 AS INT), $ChunkSize) AS chunk
         |  FROM (SELECT doc_id, text,
         |         CAST(unnest(range(0, (length(text)-1)//$ChunkSize + 1))
         |           AS BIGINT) AS pos
         |        FROM documents) t),
         |f AS (SELECT doc_id, pos, chunk,
         |       ROW_NUMBER() OVER (PARTITION BY md5(chunk)
         |         ORDER BY doc_id, pos) AS rn
         |      FROM c)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         | string_agg(chunk, '' ORDER BY pos) AS text_kept
         |FROM f WHERE rn = 1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Sum(BIGINT) is HUGEINT in DuckDB — cast before the divisions; the
    // 0.4e0/0.12e0 literals force DOUBLE (plain decimals are DECIMAL and
    // compare through a different cast path).
    "d32_repetition_stats" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS c FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        | CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS ttr,
        | CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac,
        | (CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) < 0.4e0
        |  OR CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) > 0.12e0)
        |   AS flagged
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d14_token_estimate" ->
      """SELECT doc_id,
        | CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS re_tokens,
        | CAST(CEIL(n_chars / 4.0) AS BIGINT) AS est_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Boundary recurrence: chunk k = words[s..e], e = greedy max with
    // cumlen(s,e) <= C; next s = smallest p with cumlen(p,e) <= O and
    // cumlen(p,e)+1+len(next word) <= C (the merge loop's pop-front
    // conditions, both monotone in p). cumlen uses 1-indexed prefix sums.
    "d12_recursive_chunks" ->
      s"""WITH RECURSIVE
         |w AS (
         | SELECT doc_id, string_split(text,' ') AS words,
         |  list_prepend(0, list_transform(string_split(text,' '), x -> length(x))) AS lens
         | FROM documents),
         |p AS (
         | SELECT doc_id, words, len(words) AS n,
         |  [list_sum(lens[1:i]) FOR i IN range(1, len(words)+2)] AS pre
         | FROM w),
         |r AS (
         | SELECT doc_id, words, n, pre, CAST(0 AS BIGINT) AS chunk_idx,
         |  CAST(1 AS BIGINT) AS s,
         |  1 + len(list_filter(range(1, n+1),
         |    e -> pre[CAST(e+1 AS INT)]-pre[1]+(e-1) <= $RcChunk)) - 1 AS e
         | FROM p
         | UNION ALL
         | SELECT doc_id, words, n, pre, chunk_idx + 1, ns AS s,
         |  ns + len(list_filter(range(0, CAST(n - ns + 2 AS INT)),
         |    k -> pre[CAST(ns+k+1 AS INT)]-pre[CAST(ns AS INT)]+k <= $RcChunk)) - 1 AS e
         | FROM (
         |  SELECT doc_id, words, n, pre, chunk_idx, e,
         |   (SELECT min(pp) FROM unnest(range(1, CAST(e+2 AS INT))) t(pp)
         |    WHERE pp >= s
         |     AND pre[CAST(e+1 AS INT)]-pre[CAST(pp AS INT)]+(e-pp) <= $RcOverlap
         |     AND pre[CAST(e+1 AS INT)]-pre[CAST(pp AS INT)]+(e-pp) + 1
         |         + (pre[CAST(e+2 AS INT)]-pre[CAST(e+1 AS INT)]) <= $RcChunk) AS ns
         |  FROM r WHERE e < n) t)
         |SELECT doc_id, chunk_idx,
         | array_to_string(words[CAST(s AS INT):CAST(e AS INT)], ' ') AS chunk
         |FROM r ORDER BY doc_id, chunk_idx""".stripMargin,

    "d11_chunk_dedup_rank" ->
      s"""WITH chunks AS (
         | SELECT doc_id, chunk_idx,
         |  md5(substr(text, CAST(chunk_idx*$Stride+1 AS INT), $ChunkSize)) AS fp
         | FROM (SELECT doc_id, text,
         |        CAST(unnest(range(0, (length(text)-1)//$Stride + 1)) AS BIGINT) AS chunk_idx
         |       FROM documents) t),
         |ranked AS (
         | SELECT doc_id, chunk_idx, fp,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) AS BIGINT) AS copy_rank,
         |  COUNT(*) OVER (PARTITION BY fp) AS n_copies
         | FROM chunks)
         |SELECT doc_id, chunk_idx, fp, copy_rank, n_copies
         |FROM ranked WHERE n_copies > 1 ORDER BY fp, copy_rank""".stripMargin,

    "d10_enrich_project" ->
      """SELECT doc_id,
        | 'Section: '||source||' / d'||doc_id AS section_trail,
        | 'Section: '||source||' / d'||doc_id||e'\n\nContent:\n'||text AS page_content,
        | lower(translate(source||'_'||lang||'_'||'2.14-beta', '-.', '__')) AS index_name,
        | source AS metadata_source
        |FROM documents ORDER BY doc_id""".stripMargin,

    "d09_rag_context" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id=7),
        |top AS (SELECT e.vec_id,
        |         list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS score
        |        FROM embeddings e, q ORDER BY score DESC, e.vec_id LIMIT 4)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
        | string_agg('Title: '||d.source||'/d'||d.doc_id||e'\nContent: '||substr(d.text,1,60),
        |  e'\n\n' ORDER BY t.score DESC, t.vec_id) AS context
        |FROM top t JOIN documents d ON t.vec_id = d.doc_id""".stripMargin
  )
}
