package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{Dedup, LangId, TextFunctions => TF}

/** The composed training-corpus preparation pass: quality filter →
  * exact dedup → near dedup → (optional) semantic dedup →
  * deterministic split — each stage is the standalone operator used by
  * the query surface; this entry point is the order a real pipeline
  * runs them in (cheap row-local filters first, the text-shuffle passes
  * next, the embedding-space pass last, each on the already-shrunk
  * corpus).
  *
  * Returns the input columns plus `detected_lang` and `split`.
  */
object CorpusPrep {

  /** `maxLshBucket` caps the near-dup LSH band-bucket size (0 = uncapped):
    * the skew guard for boilerplate-heavy corpora, where one degenerate
    * bucket turns the candidate join quadratic. Exact dedup runs first, so
    * identical documents never reach the LSH pass, but heavily-templated
    * NEAR-identical content still can — production corpora set a cap.
    *
    * `exactDupGroups = true` replaces the greedy near-dup drop policy
    * with full connected-components keeper assignment
    * ([[Dedup.dupComponents]]): only each duplicate component's minimum
    * survives. The greedy policy can keep several representatives of one
    * transitive chain (every node whose direct partners are all larger
    * survives); the CC policy cannot — at the cost of the components
    * pass, so it's opt-in.
    *
    * `semanticVecCol = Some(col)` appends a SemDeDup pass
    * ([[graft.operators.SemanticDedup.dropSemanticDuplicates]]) over a
    * precomputed embedding column: documents whose TEXT already
    * diverged past the Jaccard gates but whose embeddings are
    * near-identical (translations, paraphrases, templated rewrites)
    * drop here. Runs last — it is the only stage that trains state (a
    * `semanticK`-cell codebook), so it sees the smallest corpus. A
    * corpus the earlier gates shrink below `semanticK` clamps to one
    * cell per document (the stage degrades, never aborts the pipeline).
    *
    * `lineBoilerplateMaxDf > 0` prepends [[Dedup.dropFrequentLines]]
    * (lines in more than that many distinct documents removed from all
    * of them, `lineSep`-delimited) BEFORE the quality gate — CCNet's
    * order: strip what repeats because of the SITE first, so boilerplate
    * neither pollutes the token/stopword ratios nor manufactures
    * near-dup pairs between otherwise-unrelated pages. 0 = off (the
    * default; corpora without line structure gain nothing).
    */
  final case class Config(
      minTokens: Int = 5,
      maxStopRatio: Double = 0.9,
      nearDupJaccard: Double = 0.8,
      trainPct: Int = 80,
      valPct: Int = 10,
      maxLshBucket: Long = 0,
      exactDupGroups: Boolean = false,
      semanticVecCol: Option[String] = None,
      semanticK: Int = 64,
      semanticIters: Int = 2,
      semanticThreshold: Double = 0.97,
      lineBoilerplateMaxDf: Long = 0,
      lineSep: String = "\n")

  def prepare(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame = {
    require(cfg.trainPct + cfg.valPct < 100)
    val toks = TF.tokens(col(textCol))
    // 0. Optional cross-doc boilerplate strip (see Config scaladoc).
    val deboiler =
      if (cfg.lineBoilerplateMaxDf <= 0) docs
      else Dedup.dropFrequentLines(docs, idCol, textCol,
        cfg.lineBoilerplateMaxDf, cfg.lineSep)
    // 1. Quality gate: row-local, runs in the scan.
    val filtered = deboiler
      .withColumn("_cp_ntok", size(toks).cast("long"))
      .withColumn("_cp_nstop", TF.stopwordCount(toks, Seq("the", "a")))
      .filter(col("_cp_ntok") >= cfg.minTokens &&
        col("_cp_nstop").cast("double") / col("_cp_ntok") <= cfg.maxStopRatio)
      .drop("_cp_ntok", "_cp_nstop")
    // 2. Exact dedup (one fingerprint shuffle).
    val exact = Dedup.dropExactDuplicates(filtered, idCol, textCol)
    // 3. Near dedup (LSH bands; the expensive pass runs last).
    val deduped =
      if (cfg.exactDupGroups) {
        val pairs = Dedup.nearDupPairs(exact, idCol, textCol,
          cfg.nearDupJaccard, maxBucket = cfg.maxLshBucket)
        val doomed = Dedup.dupComponents(pairs)
          .filter(col("id") =!= col("component")) // non-minimum of its component
          .select(col("id").as("_cp_doomed"))
        exact.join(doomed, col(idCol) === col("_cp_doomed"), "left_anti")
      } else Dedup.dropNearDuplicates(exact, idCol, textCol,
        cfg.nearDupJaccard, maxBucket = cfg.maxLshBucket)
    // 3b. Optional semantic dedup on the embedding column (smallest
    // corpus, most expensive per-doc state — always the last drop).
    val semDeduped = cfg.semanticVecCol.fold(deduped) { vecCol =>
      graft.operators.SemanticDedup.dropSemanticDuplicates(
        deduped, idCol, vecCol,
        cfg.semanticK, cfg.semanticIters, cfg.semanticThreshold)
    }
    // 4. Language stamp + deterministic split.
    val bucket = TF.hash32(col(idCol).cast("string")) % 100
    semDeduped
      .withColumn("detected_lang", LangId.langIdCol(col(textCol)))
      .withColumn("split",
        when(bucket < cfg.trainPct, "train")
          .when(bucket < cfg.trainPct + cfg.valPct, "val")
          .otherwise("test"))
  }

  /** Knobs for [[mix]]: `langBudget` documents admitted per language
    * (the d38 gate), `tokenPoints` PPS selection points per language
    * over the token-count axis (the d39 gate — the expected tokens a
    * row contributes is proportional to its length, so the mix hits a
    * token budget, not a doc budget), `lmFloor` the mean per-token
    * log-prob below which a sampled document is dropped, `lmVocabCap`
    * the serving-vocabulary cap (0 = uncapped; see
    * [[graft.text.UnigramLm.scoreDocs]]).
    */
  final case class MixConfig(
      langBudget: Int = 70,
      tokenPoints: Int = 25,
      lmFloor: Double = -3.43,
      lmVocabCap: Int = 0)

  /** The composed training-MIX assembly pass (the complement of
    * [[prepare]]'s cleaning): per-language document budget
    * (deterministic smallest-hash pick, mergeable top-k — no window
    * sort) → token-proportional systematic PPS sampling (all-integer,
    * no RNG) → unigram-LM quality gate trained on the sampled mix
    * itself. Every stage is the standalone operator behind its own
    * oracle row (d38 / d39 / d40); the composition is oracle-pinned
    * end-to-end as d42.
    *
    * Returns the sampled rows that clear the LM gate: the input columns
    * plus `weight` (token count), `n_hits` (PPS multiplicity — repeat
    * or upweight accordingly), `n_tokens` and `avg_lp` (the gate's
    * evidence). Scale shape: one lang-keyed partial top-k, one
    * lang-keyed window exchange, then the LM term join — each on the
    * already-shrunk survivor set of the previous stage.
    */
  def mix(docs: DataFrame, idCol: String, textCol: String, langCol: String,
      cfg: MixConfig = MixConfig()): DataFrame = {
    import org.apache.spark.sql.functions.udaf
    // The budget pick rides ids through a long-typed mergeable top-k: a
    // non-numeric id would cast to null, the aggregate would skip every
    // row, and the mix would be silently EMPTY — fail loudly instead.
    require(docs.schema(idCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"mix needs a numeric $idCol (long-castable ids); got " +
        s"${docs.schema(idCol).dataType.simpleString}")
    // 1. Language budget: keep the langBudget smallest id-hashes per
    // language (d38's uniform deterministic subsample).
    val topk = udaf(new graft.operators.Sketches.TopKByScore(cfg.langBudget),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(java.lang.Double, java.lang.Long)]())
    val picked = docs
      .select(col(langCol),
        TF.hash32(col(idCol).cast("string")).as("_mx_h"),
        col(idCol).cast("long").as("_mx_cand"))
      .groupBy(col(langCol))
      .agg(topk((-col("_mx_h")).cast("double"), col("_mx_cand")).as("_mx_pick"))
      .select(explode(col("_mx_pick")).as("_mx_p"))
      .select(col("_mx_p._2").as("_mx_id"))
    val budgeted = docs
      .join(picked, col(idCol) === col("_mx_id"))
      .drop("_mx_id")
    // 2. Token-proportional PPS sampling within each language's budget.
    val sampled = graft.operators.Sampling.ppsSystematic(
      budgeted.withColumn("weight", size(TF.tokens(col(textCol))).cast("long")),
      groupCols = Seq(langCol), idCol = idCol,
      weightCol = "weight", budget = cfg.tokenPoints)
    // 3. LM gate over the mix: the model is trained on the SAMPLED set
    // (self-scoring, d40's contract) — the gate asks "does this doc
    // look like the mix it just joined", which is exactly the
    // distribution the training run will see.
    val scored = graft.text.UnigramLm.scoreDocs(
      sampled, idCol, textCol, cfg.lmVocabCap)
    sampled
      .join(scored.select(col(idCol), col("n_tokens"), col("avg_lp")),
        Seq(idCol))
      .filter(col("avg_lp") >= cfg.lmFloor)
  }
}
