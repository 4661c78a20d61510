package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.store.Commit
import graft.text.{TextFunctions => TF}

/** Corpus deduplication that actually DROPS rows (the d04/d06 queries
  * surface dup groups; these operators return the cleaned corpus a
  * training pipeline feeds downstream).
  *
  * Policies are deterministic and documented:
  *   - exact: keep the smallest id per identical text (md5 fingerprint;
  *     one shuffle on the fingerprint).
  *   - near: drop every document that has a SMALLER near-duplicate
  *     partner (LSH-banded minhash candidates + exact shingle Jaccard
  *     >= threshold). This is the standard greedy keep-first policy: a
  *     component's minimum is always kept; long chains may retain
  *     more than one representative (unlike full connected components,
  *     which need an iterative algorithm — deliberate trade: one
  *     bounded join pass, no iteration, no driver-side graph).
  */
object Dedup {

  /** Incremental-ingest novelty filter: probe a NEW batch against a Bloom
    * filter of the existing corpus's text fingerprints, without joining
    * the corpus. Adds `maybe_dup`: `false` GUARANTEES the text is not in
    * the corpus (Bloom filters have no false negatives — safe to ingest
    * unconditionally); `true` means "in the corpus OR a false positive at
    * rate ~`fpp`" — route those through [[dropExactDuplicates]] on the
    * (small) flagged subset, or accept the loss if dedup is best-effort.
    *
    * Scale shape: the corpus side is ONE aggregation pass (Spark's
    * bloomFilter stat runs as a tree-aggregated sketch — no shuffle of
    * the data, the sketch merges on the way up); the batch side is a
    * row-local broadcast probe — no shuffle at all. At ~9.6 bits/item
    * for fpp=0.01 a 10⁹-doc corpus costs a ~1.2 GB broadcast: workable
    * on large executors, or raise fpp / shard the filter by fingerprint
    * prefix when it is not. This is the pattern for CONTINUOUS ingest —
    * the full-corpus shuffle dedup (d04) reruns on everything, this
    * touches the corpus once and each new batch never shuffles.
    *
    * The probe is the one deliberate UDF in the library: Spark's
    * `BloomFilter` has no expression form. It is row-local and sits
    * behind a broadcast, so it costs an invocation, not a plan break.
    */
  def bloomNovelty(corpus: DataFrame, incoming: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      s"expectedItems=$expectedItems fpp=$fpp out of range")
    val bloom = corpus.select(md5(col(textCol)).as("_bn_fp"))
      .stat.bloomFilter("_bn_fp", expectedItems, fpp)
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    val probe = udf((fp: String) => bc.value.mightContainString(fp))
    incoming.withColumn("maybe_dup", probe(md5(col(textCol))))
  }

  /** Keep one row per distinct `textCol` (smallest `idCol` wins).
    * `tieBreak` extends the keep-first order past `idCol` for callers
    * whose id does not uniquely key rows — e.g. the streaming ingest
    * sink dedups CHUNKS keyed by doc_id, where two identical-text
    * chunks of one document tie on doc_id alone and the surviving
    * row's metadata would be partition-order nondeterministic.
    */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String,
      tieBreak: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol)))
      .orderBy(col(idCol) +: tieBreak: _*)
    df.withColumn("_dd_rn", row_number().over(w))
      .filter(col("_dd_rn") === 1)
      .drop("_dd_rn")
  }

  /** CCNet-style line-frequency boilerplate removal: a line occurring
    * in MORE than `maxDf` distinct documents is boilerplate (headers,
    * footers, navigation, cookie banners — text that repeats because of
    * the SITE, not the document) and is removed from every document;
    * surviving lines rejoin in their original order. A document whose
    * every line is boilerplate keeps an empty text rather than
    * vanishing — dropping the row is a different policy
    * ([[dropExactDuplicates]] territory), and the caller may want the
    * husk as evidence. Within-document repetition does not count toward
    * df (that is d32's repetition gate); df is distinct-document
    * frequency, exactly CCNet's definition.
    *
    * Scale shape: one line-keyed distinct+count (the df table), one
    * line-keyed join back, one doc-keyed regroup — the same exchange
    * budget as d33's span dedup, nothing all-pairs; the per-doc
    * collect_list is bounded by document size.
    */
  def dropFrequentLines(df: DataFrame, idCol: String, textCol: String,
      maxDf: Long, sep: String = "\n"): DataFrame = {
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    val lines = df.select(col(idCol).as("_lf_id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("_lf_pos", "_lf_line")))
    val docFreq = lines.select(col("_lf_line"), col("_lf_id")).distinct()
      .groupBy(col("_lf_line")).agg(count(lit(1)).as("_lf_df"))
    val rebuilt = lines.join(docFreq, "_lf_line")
      .filter(col("_lf_df") <= maxDf)
      .groupBy(col("_lf_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("_lf_pos"), col("_lf_line")))),
          p => p.getField("_lf_line")),
        sep).as("_lf_text"))
    df.join(rebuilt, col(idCol) === col("_lf_id"), "left")
      .withColumn(textCol, coalesce(col("_lf_text"), lit("")))
      .drop("_lf_id", "_lf_text")
  }

  /** Near-dup candidate pairs (a_id < b_id) with exact Jaccard >=
    * threshold over word `n`-shingles, via banded minhash — the d06
    * pipeline as a reusable operator.
    *
    * `maxBucket` is the skew guard: a degenerate band bucket of m
    * signatures (boilerplate- or exact-dup-heavy corpora produce exactly
    * this) contributes m²/2 candidate pairs regardless of banding, so
    * production runs cap bucket size — oversized buckets are dropped, not
    * joined (their members need exact-dedup first or more bands, not a
    * quadratic join). The size pass is a window count keyed exactly like
    * the candidate self-join, so it rides the same (band, mh) exchange —
    * no driver-side bucket list, which at corpus scale would itself be
    * huge. 0 = uncapped, the exact all-candidates contract d06 checks.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleLen: Int = 3, bands: Int = 4,
      maxBucket: Long = 0): DataFrame = {
    // ONE materialized corpus pass (r21, guide §1.2 step 1): the
    // distinct shingle sets are computed once and locally checkpointed;
    // the signature projection, the band self-join's BOTH sides, and
    // the exact-rescore joins all read the materialized frame. The
    // previous lazy form paid the tokenize+shingle scan three times
    // (signature pass + each side of the two rescore joins) and — the
    // dominant cost, measured at sf0.1 — evaluated the whole signature
    // subtree TWICE inside the band self-join (a self-join's build and
    // stream sides cannot share one lazy subtree): candidates alone ran
    // 3.7 s against 0.6 s over a checkpointed frame. Deriving the
    // signature from the DISTINCT set is exact: per-band minhash is a
    // min over the shingles, and min over a set equals min over the
    // multiset, so signatures, candidates, and Jaccards are all
    // bit-identical to the multiset form (the oracle replays the same
    // min). localCheckpoint (executor-held blocks) is the right mode
    // for the bounded frames a query pass holds; the arrays it stores
    // are exactly the bytes the rescore joins shuffled anyway.
    val sets = df
      .select(col(idCol).as("_dd_id"),
        array_distinct(TF.shingles(TF.tokens(col(textCol)), shingleLen))
          .as("_dd_ss"))
      .localCheckpoint()
    val sig0 = sets.select(col("_dd_id"),
      posexplode(graft.functions.text.minhashSlices(col("_dd_ss"), bands))
        .as(Seq("band", "mh")))
    val sig =
      if (maxBucket <= 0) sig0
      else sig0
        .withColumn("_dd_bn",
          count(lit(1)).over(Window.partitionBy(col("band"), col("mh"))))
        .filter(col("_dd_bn") <= maxBucket)
        .drop("_dd_bn")
    val cand = sig.as("x")
      .join(sig.as("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh") &&
          col("x._dd_id") < col("y._dd_id"))
      .select(col("x._dd_id").as("a_id"), col("y._dd_id").as("b_id"))
      .distinct()
    // Per-pair intersection via the built-in array_intersect (hash set
    // per pair). Measured trade at sf0.1: pre-sorting every document's
    // set to use the native merge-pass sortedIntersectCount costs MORE
    // than the per-pair hashing it saves at these candidate densities
    // (the corpus-wide array_sort dominates); on pair-dense corpora —
    // candidate pairs >> documents — flip to sorted sets +
    // graft.functions.text.sortedIntersectCount.
    cand
      .join(sets.select(col("_dd_id").as("a_id"), col("_dd_ss").as("_dd_sa")), "a_id")
      .join(sets.select(col("_dd_id").as("b_id"), col("_dd_ss").as("_dd_sb")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("_dd_sa"), col("_dd_sb"))).as("ix"),
        (size(col("_dd_sa")) + size(col("_dd_sb"))).as("tot"))
      .select(col("a_id"), col("b_id"),
        (col("ix").cast("double") / (col("tot") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT n-gram Jaccard near-dup pairs (a_id < b_id) via an inverted
    * index on the shingles themselves — no minhash approximation anywhere:
    * with `maxDf = 0` every pair with at least one shared shingle is
    * scored, so the output is complete for any threshold > 0 (the
    * guarantee [[nearDupPairs]] trades away for banding: LSH misses a
    * pair whenever no band collides, this cannot miss).
    *
    * Shape: one pass builds each document's distinct-shingle set; the
    * posting list (shingle, id) self-joins on the shingle and a
    * partial+final count per (a, b) IS the intersection size — the
    * shingle sets themselves never meet in a per-pair array operation.
    * Set sizes then join back and Jaccard = ix / (|A| + |B| − ix).
    * Shuffle cost: one exchange keyed by shingle (posting list), one
    * keyed by the pair. Candidate volume is Σ_s df(s)², so the honest
    * 100-TB run sets `maxDf`: shingles appearing in more than `maxDf`
    * documents (boilerplate, headers) are dropped from the posting list
    * BEFORE the self-join — the df gate is a window count keyed exactly
    * like the join, riding the same exchange. A dropped shingle removes
    * itself from intersections only (set sizes stay full), so capped
    * Jaccard is a LOWER bound — capping never creates a false positive
    * above the threshold, it can only miss pairs whose overlap is
    * carried by ubiquitous shingles (which near-dup detection should
    * ignore anyway). `maxDf = 0` = uncapped exact contract (d35).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleLen: Int = 3, maxDf: Long = 0): DataFrame =
    shinglePairStats(df, idCol, textCol, shingleLen, maxDf)
      .select(col("a_id"), col("b_id"),
        (col("_nj_ix").cast("double")
          / (col("_nj_na") + col("_nj_nb") - col("_nj_ix"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** [[ngramJaccardPairs]]'s pair set through PREFIX FILTERING (the
    * SSJoin/All-Pairs/PPJoin candidate-pruning family: Chaudhuri et
    * al. ICDE'06, Bayardo et al. WWW'07) — exact, like d35, but the
    * shingle-keyed self-join consumes only each document's PREFIX
    * instead of its full posting list.
    *
    * Order the universe of shingles globally by rarity (df asc, then
    * shingle — any fixed total order works; rare-first minimizes
    * candidates) and sort each document's set in that order. If
    * J(A,B) ≥ t then |A∩B| ≥ ⌈t·|A|⌉, so A's matches cannot all hide
    * in A's last ⌈t·|A|⌉−1 shingles: any qualifying pair MUST share a
    * shingle within the first p = |A| − ⌈t·|A|⌉ + 1 of each side.
    * Candidates = prefix⋈prefix on the shingle; the exact Jaccard is
    * then verified per candidate with a row-local array intersection
    * after two id-keyed joins back to the full sets. Completeness is
    * a theorem, not a tuning outcome — unlike the `maxDf` cap (lower
    * bound) or MinHash banding (probabilistic recall), the output
    * equals the naive join's EXACTLY at every threshold (DedupSpec
    * pins ≡ on the corpus fixture).
    *
    * 100-TB shape: the join-side posting volume drops from Σ|doc| to
    * Σ(|doc|−⌈t·|doc|⌉+1) ≈ (1−t)·Σ|doc|, and because prefixes take
    * the RAREST shingles first, the candidate volume Σ_s df_pref(s)²
    * collapses — boilerplate shingles (the df² blowup d36 caps away
    * lossily) land in suffixes and never generate candidates at all.
    * The per-doc prefix pick is a row_number over doc-keyed windows
    * (partitions bounded by document length); the verify step's array
    * intersection is row-local on candidate pairs only. Threshold is
    * taken in exact micro units so ⌈t·n⌉ is integer arithmetic.
    */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleLen: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefix filtering needs a threshold in (0, 1], got $threshold")
    val tMicro = math.round(threshold * 1e6)
    // Materialized once (r21): the posting explode and both verify-side
    // joins read this frame (was three tokenize+shingle corpus passes —
    // the nearDupPairs measurement; same fix).
    val sets = df.select(col(idCol).as("_pf_id"),
      array_distinct(TF.shingles(TF.tokens(col(textCol)), shingleLen))
        .as("_pf_ss"))
      .localCheckpoint()
    // Set size rides through the explode (one long per posting row) so
    // the prefix cut needs only the row_number window, not a second
    // count-over-doc window.
    val posting = sets
      .select(col("_pf_id"), size(col("_pf_ss")).as("_pf_n"),
        explode(col("_pf_ss")).as("_pf_sh"))
    val dfreq = posting.groupBy(col("_pf_sh"))
      .agg(count(lit(1)).as("_pf_df"))
    val wDoc = Window.partitionBy(col("_pf_id"))
      .orderBy(col("_pf_df"), col("_pf_sh"))
    val prefix = posting.join(dfreq, "_pf_sh")
      .withColumn("_pf_pos", row_number().over(wDoc))
      // p = n − ⌈t·n⌉ + 1, with ⌈t·n⌉ = (T·n + 999999) div 1e6 exact.
      .filter(col("_pf_pos") <=
        col("_pf_n") - expr(s"(${tMicro}L * _pf_n + 999999) div 1000000")
          + lit(1))
      .select(col("_pf_id"), col("_pf_sh"))
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x._pf_sh") === col("y._pf_sh") &&
          col("x._pf_id") < col("y._pf_id"))
      .select(col("x._pf_id").as("a_id"), col("y._pf_id").as("b_id"))
      .distinct()
    cand
      .join(sets.select(col("_pf_id").as("a_id"), col("_pf_ss").as("_pf_sa")),
        "a_id")
      .join(sets.select(col("_pf_id").as("b_id"), col("_pf_ss").as("_pf_sb")),
        "b_id")
      .withColumn("_pf_ix",
        size(array_intersect(col("_pf_sa"), col("_pf_sb"))).cast("long"))
      .select(col("a_id"), col("b_id"),
        (col("_pf_ix").cast("double")
          / (size(col("_pf_sa")) + size(col("_pf_sb")) - col("_pf_ix")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SORTED-NEIGHBORHOOD blocking (Hernández & Stolfo's merge/purge,
    * SIGMOD 1995): sort the corpus by a caller-derived blocking KEY
    * and emit exactly the record pairs within `window` consecutive
    * positions of the sorted order — the third classic blocking
    * family next to LSH bands (probabilistic) and inverted-index
    * prefixes (set-overlap): KEY-LOCALITY blocking, the one that
    * catches near-dups whose similarity lives in a sort key (shared
    * prefixes, near-identical titles/URLs, adjacent timestamps)
    * without any set machinery. Candidate volume is EXACTLY
    * n·(window−1) − C(window, 2) pairs — linear in n by construction,
    * the SN guarantee; feed them to an exact verifier (equality, edit
    * distance, Jaccard) downstream.
    *
    * Distributed shape: NO unpartitioned Window anywhere — the sorted
    * positions come from [[graft.operators.Ranks.globalRowNumber]]'s
    * two-pass rank over the (id, key) PROJECTION (two narrow columns;
    * the range sort is the dominant distributed cost, and only
    * partition counts reach the driver), and neighbors meet by
    * RANK-SPACE bucketing: each row lands in buckets ⌊r/B⌋ and
    * ⌊r/B⌋+1 for B = window−1, so every pair with rank distance ≤ B
    * co-occurs in the larger rank's home bucket (where it is counted
    * exactly once) and each bucket holds ≤ 2B rows. Rank-space
    * buckets are PERFECTLY balanced whatever the key skew — a million
    * records tied on one hot key spread across buckets by position,
    * the failure mode that melts key-equality blocking. Ties sort by
    * (key, id), so the order is total and the output deterministic.
    *
    * Returns (a_id, b_id, a_key, b_key, rank_dist) with a_id's row
    * ranked before b_id's and 1 ≤ rank_dist ≤ window−1.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String,
      key: org.apache.spark.sql.Column, window: Int): DataFrame = {
    require(window >= 2, s"a sliding window needs window >= 2, got $window")
    val b = (window - 1).toLong
    val base = df.select(col(idCol).cast("long").as("_sn_id"), key.as("_sn_k"))
    val ranked = graft.operators.Ranks.globalRowNumber(base,
      Seq(col("_sn_k"), col("_sn_id")), "_sn_r")
    val emitted = ranked.select(col("_sn_id"), col("_sn_k"), col("_sn_r"),
      explode(array(expr(s"_sn_r div $b"), expr(s"_sn_r div $b + 1")))
        .as("_sn_bkt"))
    val left = emitted.select(col("_sn_bkt"), col("_sn_id").as("a_id"),
      col("_sn_k").as("a_key"), col("_sn_r").as("_sn_ra"))
    val right = emitted.select(col("_sn_bkt"), col("_sn_id").as("b_id"),
      col("_sn_k").as("b_key"), col("_sn_r").as("_sn_rb"))
    left.join(right, Seq("_sn_bkt"))
      .filter(col("_sn_ra") < col("_sn_rb") &&
        col("_sn_rb") - col("_sn_ra") <= b &&
        // count each pair once: only in the larger rank's home bucket
        col("_sn_bkt") === expr(s"_sn_rb div $b"))
      .select(col("a_id"), col("b_id"), col("a_key"), col("b_key"),
        (col("_sn_rb") - col("_sn_ra")).as("rank_dist"))
  }

  /** Asymmetric near-dup: CONTAINMENT — intersection over the SMALLER
    * shingle set, C = |A∩B| / min(|A|,|B|). Catches the duplications
    * Jaccard structurally cannot: a short document quoted or excerpted
    * inside a much longer one scores near 1.0 here while its Jaccard
    * (intersection over the UNION, dominated by the long doc's size)
    * stays arbitrarily low. The standard second gate in training-data
    * dedup, where quote/excerpt containment is a top duplication mode.
    * Jaccard rides along as a witness column: rows where it falls
    * under the containment threshold are exactly the asymmetric
    * catches. Same inverted-index join, same df-cap skew lever, same
    * scale shape as [[ngramJaccardPairs]] (the cap makes capped
    * containment a lower bound, as with d36).
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleLen: Int = 3, maxDf: Long = 0): DataFrame =
    shinglePairStats(df, idCol, textCol, shingleLen, maxDf)
      .select(col("a_id"), col("b_id"),
        (col("_nj_ix").cast("double")
          / least(col("_nj_na"), col("_nj_nb"))).as("containment"),
        (col("_nj_ix").cast("double")
          / (col("_nj_na") + col("_nj_nb") - col("_nj_ix"))).as("jaccard"))
      .filter(col("containment") >= threshold)

  /** Shared candidate machinery for the exact set-similarity faces:
    * (a_id, b_id, |A∩B|, |A|, |B|) for every doc pair sharing at least
    * one (df-capped) shingle. Set sizes are always UNCAPPED — the cap
    * shrinks intersections only, keeping capped scores lower bounds.
    */
  private def shinglePairStats(df: DataFrame, idCol: String,
      textCol: String, shingleLen: Int, maxDf: Long): DataFrame = {
    // Materialized once (r21): the posting explode and both size joins
    // read this frame — lazily it was three tokenize+shingle corpus
    // passes (the nearDupPairs measurement; same fix).
    val sets = df.select(col(idCol).as("_nj_id"),
      array_distinct(TF.shingles(TF.tokens(col(textCol)), shingleLen))
        .as("_nj_ss"))
      .localCheckpoint()
    val posting0 = sets.select(col("_nj_id"), explode(col("_nj_ss")).as("_nj_sh"))
    val posting =
      if (maxDf <= 0) posting0
      else posting0
        .withColumn("_nj_df",
          count(lit(1)).over(Window.partitionBy(col("_nj_sh"))))
        .filter(col("_nj_df") <= maxDf)
        .drop("_nj_df")
    val inter = posting.as("x")
      .join(posting.as("y"),
        col("x._nj_sh") === col("y._nj_sh") &&
          col("x._nj_id") < col("y._nj_id"))
      .groupBy(col("x._nj_id").as("a_id"), col("y._nj_id").as("b_id"))
      .agg(count(lit(1)).as("_nj_ix"))
    val sizes = sets.select(col("_nj_id"), size(col("_nj_ss")).as("_nj_n"))
    inter
      .join(sizes.select(col("_nj_id").as("a_id"), col("_nj_n").as("_nj_na")), "a_id")
      .join(sizes.select(col("_nj_id").as("b_id"), col("_nj_n").as("_nj_nb")), "b_id")
  }

  /** CROSS-corpus near-dup candidates: (left doc, right doc) pairs
    * sharing a minhash band bucket, scored with exact shingle Jaccard >=
    * threshold — [[nearDupPairs]]'s banded-LSH shape with the self-join
    * replaced by a left×right join. The decontamination primitive d30's
    * exact 8-gram overlap cannot express: an eval document that leaked
    * into the training corpus WITH small edits shares few exact 8-grams
    * but most of its 3-shingle set, and lands in the same band buckets.
    *
    * Scale shape: identical to [[nearDupPairs]] — one band-keyed
    * exchange for candidates (the eval side is tiny, so candidate volume
    * is driven by the eval corpus, not the training corpus), one
    * shingle-set shuffle per side for the exact rescore. `maxBucket`
    * caps degenerate buckets counting BOTH sides through one combined
    * window — same exchange, no driver state.
    */
  def crossNearDupPairs(left: DataFrame, right: DataFrame, idCol: String,
      textCol: String, threshold: Double, shingleLen: Int = 3,
      bands: Int = 4, maxBucket: Long = 0): DataFrame = {
    val (ls, lsets) = nearDupPrepare(left, idCol, textCol, shingleLen, bands)
    val (rs, rsets) = nearDupPrepare(right, idCol, textCol, shingleLen, bands)
    crossNearDupPairsPrepared(ls, lsets, rs, rsets, threshold, maxBucket)
  }

  /** One side's derived artifacts for the banded cross-corpus join:
    * `(signatures (_dd_id, band, mh), distinct shingle sets (_dd_id,
    * _dd_ss))`. Exposed so a caller that probes MANY batches against
    * one slowly-changing corpus (the streaming ingest near-dup gate)
    * can compute the corpus side ONCE, persist both frames, and pay
    * only the batch side per probe — re-deriving signatures from text
    * every probe is an O(corpus) shingle+minhash pass per batch.
    */
  def nearDupPrepare(df: DataFrame, idCol: String, textCol: String,
      shingleLen: Int = 3, bands: Int = 4): (DataFrame, DataFrame) = {
    val sh = df
      .select(col(idCol).as("_dd_id"), TF.tokens(col(textCol)).as("_dd_toks"))
      .select(col("_dd_id"), TF.shingles(col("_dd_toks"), shingleLen).as("_dd_sh"))
    val sig = sh.select(col("_dd_id"),
      posexplode(graft.functions.text.minhashSlices(col("_dd_sh"), bands))
        .as(Seq("band", "mh")))
    val sets = sh.select(col("_dd_id"), array_distinct(col("_dd_sh")).as("_dd_ss"))
    (sig, sets)
  }

  /** [[crossNearDupPairs]] over pre-derived sides (see
    * [[nearDupPrepare]]): band-bucket candidates between left and right
    * signatures, exact shingle Jaccard >= threshold over the set
    * frames. `maxBucket` still counts BOTH sides through one combined
    * window so a degenerate bucket is judged by its total population.
    */
  def crossNearDupPairsPrepared(leftSig: DataFrame, leftSets: DataFrame,
      rightSig: DataFrame, rightSets: DataFrame, threshold: Double,
      maxBucket: Long = 0): DataFrame = {
    val sig0 = leftSig.withColumn("_dd_side", lit("l"))
      .unionByName(rightSig.withColumn("_dd_side", lit("r")))
    val sigs =
      if (maxBucket <= 0) sig0
      else sig0
        .withColumn("_dd_bn",
          count(lit(1)).over(Window.partitionBy(col("band"), col("mh"))))
        .filter(col("_dd_bn") <= maxBucket)
        .drop("_dd_bn")
    val cand = sigs.filter(col("_dd_side") === "l").as("x")
      .join(sigs.filter(col("_dd_side") === "r").as("y"),
        col("x.band") === col("y.band") && col("x.mh") === col("y.mh"))
      .select(col("x._dd_id").as("a_id"), col("y._dd_id").as("b_id"))
      .distinct()
    cand
      .join(leftSets.select(col("_dd_id").as("a_id"), col("_dd_ss").as("_dd_sa")),
        "a_id")
      .join(rightSets.select(col("_dd_id").as("b_id"), col("_dd_ss").as("_dd_sb")),
        "b_id")
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("_dd_sa"), col("_dd_sb"))).as("ix"),
        (size(col("_dd_sa")) + size(col("_dd_sb"))).as("tot"))
      .select(col("a_id"), col("b_id"),
        (col("ix").cast("double") / (col("tot") - col("ix"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Drop every row that has a smaller near-duplicate partner. */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleLen: Int = 3, bands: Int = 4,
      maxBucket: Long = 0): DataFrame = {
    val doomed = nearDupPairs(df, idCol, textCol, threshold, shingleLen,
      bands, maxBucket)
      .select(col("b_id"))
      .distinct()
    df.join(doomed, col(idCol) === col("b_id"), "left_anti")
  }

  /** 32-bit SimHash fingerprints: per token-hash bit a ±1 balance, bit b
    * of the fingerprint set iff balance b is positive — one shuffle (the
    * per-doc aggregate), no bit-level explode (the d13 shape as a
    * reusable operator). Returns (id, simhash).
    */
  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val balances = (0 until 32).map(b =>
      sum(when(shiftright(col("_sh_h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"_sh_b$b"))
    val fp = (0 until 32).map(b =>
      when(col(s"_sh_b$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
    df.select(col(idCol).as("_sh_id"), explode(TF.tokens(col(textCol))).as("_sh_tok"))
      .select(col("_sh_id"), TF.hash32(col("_sh_tok")).as("_sh_h"))
      .groupBy(col("_sh_id"))
      .agg(balances.head, balances.tail: _*)
      .select(col("_sh_id").as("id"), fp.as("simhash"))
  }

  /** SimHash near-duplicate pairs with Hamming distance <= `maxHamming`
    * — the BITWISE near-dup detector (order-insensitive like minhash,
    * but radius-bounded in bit space; catches small token-level edits
    * that leave most of the weighted bit profile intact).
    *
    * Banded pigeonhole: the 32-bit fingerprint splits into 4 disjoint
    * 8-bit bands; two fingerprints within Hamming distance 3 MUST agree
    * exactly on at least one band, so candidates = pairs sharing any
    * (band, key) — a shuffle on the band key, never all-pairs, the same
    * scale shape as the minhash bands. Exact `bit_count(xor)` then
    * filters candidates. maxHamming must stay < 4 for the 4-band
    * completeness guarantee (k+1 bands catch Hamming k).
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 4,
      "4 bands guarantee completeness only for Hamming distance <= 3")
    val banded = simhashFingerprints(df, idCol, textCol)
      .select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), 8 * b).bitwiseAND(255)): _*))
          .as(Seq("band", "key")))
    // fingerprints ride the distinct (they are functions of the id, so
    // pair-distinctness is unchanged) — no re-join to fetch them.
    val cand = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a_id"), col("y.id").as("b_id"),
        col("x.simhash").as("_sh_afp"), col("y.simhash").as("_sh_bfp"))
      .distinct()
    cand
      .withColumn("hamming",
        bit_count(col("_sh_afp").bitwiseXOR(col("_sh_bfp"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a_id"), col("b_id"), col("hamming"))
  }

  /** Connected components over a duplicate-pair edge list: every node
    * in `pairs` labeled (id, component = the smallest id it can reach)
    * — the exact keeper assignment (the greedy [[dropNearDuplicates]]
    * policy can keep >1 representative of a long chain; this cannot).
    * A node that appears only in self-pairs (a = b) is its own
    * singleton component.
    *
    * Rounds: ALTERNATING large-star/small-star contraction (Kiveris et
    * al. 2014, "Connected Components in MapReduce and Beyond"), which
    * converges in O(log n) rounds on ANY topology by rewiring whole
    * neighborhoods to their minimum each round — min-label propagation
    * needs one round per unit of component DIAMETER, and a near-dup
    * chain (reposts of reposts) can be arbitrarily long.
    *   - large-star(u): every neighbor v > u re-attaches to
    *     m = min(N(u) ∪ u);
    *   - small-star(u): every neighbor v ≤ u, and u itself,
    *     attaches to m.
    * Each half-round is one node-keyed min aggregate + one node-keyed
    * join over the CURRENT edge set (which only shrinks toward one star
    * per component), then a canonical-pair distinct, checkpointed on
    * one [[graft.operators.LineageCheckpoint]] rotation — RELIABLE
    * under `checkpointDir`, `localCheckpoint` otherwise (see its doc
    * for the trade and the per-round GC). At the fixed point every
    * edge is (component min, member): the labels read straight off the
    * terminal edges.
    *
    * Convergence is CHECKED in ONE aggregate job per round: a (count,
    * Σ xxhash64, ⊕ xxhash64) triple over the just-checkpointed edge
    * frame, compared to the previous round's triple held driver-side.
    * Both frames are DISTINCT canonical pair sets, so set equality
    * implies triple equality (sum and xor are order-independent, the
    * decimal sum is exact); two DIFFERENT equal-sized sets pass only by
    * colliding on both the 64-bit hash sum and the hash xor at once —
    * ~2⁻¹²⁸-grade for ids that derive from content similarity, and a
    * false stop would fail the oracle hash check every sweep runs.
    * Fail-loud: a loop that neither converged nor handed over within
    * `maxIter` rounds throws.
    *
    * Hand-over: the triple's count is the edge-set size, known at entry
    * and after every round. Once it is at most `DriverFinishEdges`
    * (2¹⁶ pairs, ≈1 MB) the edges are collected ONCE — with the
    * self-pairs, which register singleton nodes — and finished by
    * union-find on the driver. The labels stay exact: union-find over
    * the remaining edges reaches the same min-label fixed point. The
    * reason is the per-round floor: a distributed round costs several
    * jobs whatever the graph's size, so a small graph (a typical
    * near-dup graph, a few hundred pairs) finishes in one collect,
    * while a graph bigger than driver memory still runs the rounds.
    * The constant is not a setting: which side a graph lands on
    * depends only on its size.
    *
    * The result is always a checkpointed frame on the same rotation, so
    * branching consumers (d69 reads it three times) scan materialized
    * labels instead of re-deriving them, and a caller that writes the
    * labels never reads `pairs`' sources during the write
    * ([[labelStoreBatch]] relies on it).
    */
  def dupComponents(pairs: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    val ckpt = new graft.operators.LineageCheckpoint(spark, checkpointDir)
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val adj = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val joined = adj.join(mins, "u")
      val out =
        if (large)
          joined.filter(col("v") > col("u"))
            .select(col("v").as("a"), col("m").as("b"))
        else
          joined.filter(col("v") <= col("u"))
            .select(col("v").as("a"), col("m").as("b"))
            .unionByName(mins.select(col("u").as("a"), col("m").as("b")))
      canon(out)
    }
    // Canonicalize BEFORE dropping self-loops: a self-pair (a = b)
    // carries no edge, but it still labels its node.
    val all = ckpt(
      pairs.select(least(col("a_id"), col("b_id")).as("a"),
        greatest(col("a_id"), col("b_id")).as("b")).distinct())
    // The one-job fixed-point detector (see the docstring's equality
    // argument): count + exact decimal sum + xor of xxhash64(a, b),
    // all in a single scan of a materialized frame. Nulls (empty edge
    // set) resolve driver-side.
    def edgeStats(df: DataFrame): (Long, java.math.BigDecimal, Long) = {
      val r = df.agg(
        count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")),
        expr("bit_xor(xxhash64(a, b))")).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    }
    var edges = all.filter(col("a") =!= col("b"))
    var stats = edgeStats(edges) // one scan of the `all` checkpoint
    // The rounds drop a self-pair-only node, and their first call frees
    // `all`: a graph that enters them holds its self-pairs on a rotation
    // of their own (read off the materialized frame, never by
    // rescanning the caller's pair pipeline), released once the labels
    // land.
    val selfCkpt = new graft.operators.LineageCheckpoint(spark, checkpointDir)
    val selfPairs = all.filter(col("a") === col("b"))
    val selfs =
      if (stats._1 > DriverFinishEdges) selfCkpt(selfPairs) else selfPairs
    var converged = false
    var i = 0
    while (!converged && stats._1 > DriverFinishEdges && i < maxIter) {
      // The INNER (large) star materializes before the outer (small)
      // star consumes it: left lazy, the outer star's plan references
      // the inner subtree several times (both adj projections, the
      // mins aggregate, both join sides — 14 SMJ / 22 exchanges in the
      // fused round), and exchange reuse does not cover all of them.
      // Rotation safety holds per-call: apply() materializes the new
      // frame BEFORE freeing the previous one, and once a round's
      // inner frame lands nothing reads the previous round's `edges`
      // again (its stats triple is already driver-held).
      val inner = ckpt(star(edges, large = true))
      val next = ckpt(star(inner, large = false))
      val nextStats = edgeStats(next)
      converged = nextStats._1 == stats._1 &&
        nextStats._2.compareTo(stats._2) == 0 &&
        nextStats._3 == stats._3
      stats = nextStats
      edges = next
      i += 1
    }
    val labels =
      if (stats._1 <= DriverFinishEdges)
        driverComponents(edges.unionByName(selfs))
      else {
        require(converged,
          s"star contraction did not converge in $maxIter rounds")
        // terminal stars: (member → min) per edge, (min → min) per
        // center and per self-pair; a self-paired member keeps its min
        edges.select(col("b").as("id"), col("a").as("component"))
          .unionByName(edges.unionByName(selfs)
            .select(col("a").as("id"), col("a").as("component")))
          .groupBy(col("id")).agg(min(col("component")).as("component"))
      }
    // Safe on the loop rotation: the last edge frame is read while the
    // label frame materializes, then superseded.
    val out = ckpt(labels)
    selfCkpt.release()
    out
  }

  /** Edge-set size at or below which [[dupComponents]] collects the
    * edges and finishes on the driver: 2¹⁶ id pairs, ≈1 MB.
    */
  private val DriverFinishEdges = 1L << 16

  /** [[dupComponents]]'s driver finish: union-find over the collected
    * (a, b) pairs, a self-pair registering a singleton node. Roots link
    * by min, so every root IS its set's smallest id; `find` is
    * iterative with path compression, because min-linking can build a
    * tree as deep as the edge set — too deep for a recursive find.
    * Returns (id, component) for every node, typed like the input ids.
    */
  private def driverComponents(pairs: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    pairs.collect().foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra.asInstanceOf[Comparable[Any]].compareTo(rb) < 0) parent(rb) = ra
      else parent(ra) = rb // equal roots: a no-op
    }
    val rows = parent.keys.toSeq.map(k => org.apache.spark.sql.Row(k, find(k)))
    pairs.sparkSession.createDataFrame(rows.asJava, pairs.schema)
      .toDF("id", "component")
  }

  /** INCREMENTAL connected-components maintenance: fold a DELTA pair
    * batch into an existing labeling WITHOUT replaying the edge
    * history — the maintenance-identity family (e14's compacted
    * changelog, q36's shard-merged profile, v20's index append)
    * applied to dedup clusters, where continuous ingest grows the
    * near-dup graph every batch and a full recompute would rescan
    * every candidate pair ever found. The identity is a QUOTIENT
    * argument: a labeling (id → component min) is a lossless summary
    * of old connectivity — its star edges (id, label) reconnect
    * exactly the old components — and since every label IS its
    * component's minimum id, components over (star edges ∪ delta)
    * equal components over (full old edge set ∪ delta), minima
    * included. Cost per batch: |labels| + |delta| edges through
    * [[dupComponents]]; the historical edge set is never stored or
    * read again. Singleton components ride through as self-pairs.
    * Output contract = [[dupComponents]]: (id, component).
    */
  def dupComponentsIncremental(labels: DataFrame, deltaPairs: DataFrame,
      maxIter: Int = 50, checkpointDir: Option[String] = None): DataFrame =
    dupComponents(
      labels.select(col("id").as("a_id"), col("component").as("b_id"))
        .unionByName(deltaPairs.select(col("a_id"), col("b_id"))),
      maxIter, checkpointDir)

  /** [[dupComponentsIncremental]] run CONTINUOUSLY — the micro-batch
    * body of [[graft.streaming.EventStreams.dupLabelsSink]], the
    * production ingest shape: the label frame lives ON DISK at
    * `<path>/labels` and each delta pair batch folds in through the
    * quotient identity, so per batch the cost is |labels| + |delta|
    * edges through [[dupComponents]] and the pair history is never
    * stored or replayed. Replay-idempotent at two levels:
    *   - a `batch_markers/<id>` marker skips a fully-processed batch
    *     wholesale (foreachBatch is at-least-once);
    *   - WITHOUT the marker a replay is STILL exact, because the fold
    *     itself is idempotent — re-folding a delta already reflected
    *     in the labels adds edges between already-co-labeled nodes,
    *     which the quotient absorbs (labels unchanged, minima
    *     included) — so the marker is a work-skip, not a correctness
    *     crutch, and no crash point between the label swap and the
    *     marker can corrupt the store.
    * The marker is [[graft.store.Commit.once]]'s. The fold lands by
    * [[graft.store.Commit.swap]] via `labels_next` and `labels_old`:
    * the label frame is always present under some name, and a crash
    * between the renames is healed by the next non-empty batch or by
    * [[labelStore]].
    * An empty FIRST batch creates nothing (no store of zero labels);
    * an empty later batch just lands its marker. StreamingSpec pins
    * stream labels ≡ batch [[dupComponents]] over the concatenated
    * pair history on every closed batch.
    *
    * Single-writer, like every maintenance face here: the swap is not
    * atomic for a CONCURRENT reader (it can catch the instant between
    * the renames; [[labelStore]] heals by restoring the aside copy,
    * which would then fail the writer's rename-in loudly, never
    * silently) — production readers snapshot the labels dir or read
    * between batches, the [[graft.store.Commit.swap]] caveat.
    */
  def labelStoreBatch(deltaPairs: DataFrame, path: String, batchId: Long,
      maxIter: Int = 50, checkpointDir: Option[String] = None): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = deltaPairs.sparkSession
    val fs = Commit.fs(spark, path)
    val labelsP = new Path(s"$path/labels")
    val tmpP = new Path(s"$path/labels_next")
    Commit.once(fs, path, "l", batchId) {
      // nothing to fold on an empty delta — and an empty FIRST batch
      // must not create an empty store (the appendBatch empty-first-batch
      // rule).
      if (deltaPairs.head(1).nonEmpty)
        Commit.swap(fs, labelsP, tmpP, new Path(s"$path/labels_old")) {
          val next =
            if (!fs.exists(labelsP))
              dupComponents(deltaPairs, maxIter, checkpointDir)
            else dupComponentsIncremental(
              spark.read.schema(LabelsSchema).parquet(labelsP.toString),
              deltaPairs, maxIter, checkpointDir)
          // `next` is checkpointed by dupComponents, so this write reads
          // materialized blocks, never the `labels` dir being swapped out.
          next.select(col("id").cast(LongType).as("id"),
              col("component").cast(LongType).as("component"))
            .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
            .parquet(tmpP.toString)
        }
    }
  }

  /** `labels/` of a [[labelStoreBatch]] store: (id, component). The
    * writer casts to the pinned types, so both reads pass this schema
    * instead of paying a footer-inference job.
    */
  private[graft] val LabelsSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("component", LongType)))

  /** The current label frame of a [[labelStoreBatch]] store — (id,
    * component), healing a crashed swap if one is pending (the same
    * restore [[labelStoreBatch]]'s swap runs first, so a reader after a
    * crash sees the last committed labeling, never nothing). A path
    * where every batch so far was empty has no `labels` dir (the
    * empty-first-batch rule above) — that reads as the empty labeling,
    * not an error: a consumer polling the store before the first
    * non-empty batch closes must see "no duplicates yet".
    */
  def labelStore(spark: org.apache.spark.sql.SparkSession, path: String)
      : DataFrame = {
    import org.apache.hadoop.fs.Path
    val fs = Commit.fs(spark, path)
    val labelsP = new Path(s"$path/labels")
    Commit.heal(fs, labelsP, new Path(s"$path/labels_old"))
    if (!fs.exists(labelsP)) {
      import spark.implicits._
      return Seq.empty[(Long, Long)].toDF("id", "component")
    }
    spark.read.schema(LabelsSchema).parquet(labelsP.toString)
  }
}
