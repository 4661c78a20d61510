package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.vectors

/** Product quantization (PQ) — the memory side of large-scale ANN
  * (pairs with [[graft.store.IvfIndex]] as the standard IVF-PQ combo):
  * each vector is split into `blocks` sub-vectors, each sub-vector
  * replaced by the index of its nearest codeword in a per-block
  * codebook, so a d-dim float vector stores as `blocks` small ints —
  * 64-dim × 4 B ≈ 256 B becomes 8 codes. Search never touches the
  * original vectors: per block, the query precomputes a
  * code → inner-product table (driver-side, blocks × codes doubles) and
  * scoring is `blocks` array lookups per row (asymmetric distance
  * computation) — a pure projection over the tiny codes column.
  *
  * Scale shapes: training is `iters` passes of one assignment
  * projection + one (block, code, dim) sum shuffle, with driver state
  * exactly the codebook (blocks × codes × blockDim floats); train on a
  * sample at corpus scale. Encoding is one projection. Search is one
  * projection + TakeOrderedAndProject.
  *
  * Approximation contract: recall < 1 by construction (quantization
  * error); raise `codes`/`blocks` for accuracy, lower them for memory.
  * Pinned by a recall-vs-exact property test, not an oracle row.
  */
object ProductQuantizer {

  /** Per-block codebooks: codewords(b)(c) is the c-th codeword of block
    * b, each of length `blockDim`.
    */
  final case class Codebooks(blocks: Int, blockDim: Int,
      codewords: Array[Array[Array[Float]]]) {
    require(codewords.length == blocks)
    def dim: Int = blocks * blockDim
    def codes: Int = codewords.head.length
  }

  private def blockSlice(vecCol: Column, b: Int, blockDim: Int): Column =
    slice(vecCol, b * blockDim + 1, blockDim)

  /** Nearest-codeword id (0-based) for block `b`, ties to the smaller
    * id (array_position returns the FIRST max).
    */
  private def assignCode(vecCol: Column, cb: Codebooks, b: Int): Column = {
    val scores = array(cb.codewords(b).toIndexedSeq.map(cw =>
      vectors.dotProduct(blockSlice(vecCol, b, cb.blockDim), lit(cw))): _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Train per-block codebooks by blockwise spherical-ish k-means on
    * inner product: init from the `codes` smallest-id vectors, then
    * `iters` rounds of assign (projection) + per-(block, code, dim)
    * mean (one shuffle, codebook-sized collect). Empty codes keep their
    * previous codeword.
    */
  def train(df: DataFrame, idCol: String, vecCol: String,
      blocks: Int, codes: Int, iters: Int = 3): Codebooks = {
    require(blocks >= 1 && codes >= 2 && iters >= 0)
    val first = df.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(codes).collect()
      .map(_.getSeq[Float](1).toArray)
    require(first.length == codes, s"corpus smaller than $codes codewords")
    val dim = first.head.length
    require(dim % blocks == 0, s"dim $dim not divisible into $blocks blocks")
    val bd = dim / blocks
    var cb = Codebooks(blocks, bd,
      Array.tabulate(blocks, codes)((b, c) => first(c).slice(b * bd, (b + 1) * bd)))

    for (_ <- 0 until iters) {
      val enc = df.select(col(vecCol).as("_pq_v"),
        array((0 until blocks).map(b => assignCode(col(vecCol), cb, b)): _*)
          .as("_pq_codes"))
      val sums = enc
        .select(col("_pq_v"), posexplode(col("_pq_codes")).as(Seq("block", "code")))
        .select(col("block"), col("code"),
          posexplode(slice(col("_pq_v"), col("block") * bd + 1, lit(bd)))
            .as(Seq("d", "x")))
        .groupBy(col("block"), col("code"), col("d"))
        .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("cnt"))
        .collect() // ≤ blocks × codes × blockDim rows — the codebook
      val next = Array.tabulate(blocks, codes)((b, c) => cb.codewords(b)(c).clone())
      sums.foreach { r =>
        val (b, c, d) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(b)(c)(d) = (r.getDouble(3) / r.getLong(4)).toFloat
      }
      cb = cb.copy(codewords = next)
    }
    cb
  }

  /** Codes array column for an arbitrary vector column — composes with
    * other projections (e.g. IVF cell assignment in
    * [[graft.store.IvfIndex.buildPq]]) without a join.
    */
  def codesCol(vecCol: Column, cb: Codebooks): Column =
    array((0 until cb.blocks).map(b => assignCode(vecCol, cb, b)): _*)

  /** Encode: (id, codes array<int>) — the compressed index. */
  def encode(df: DataFrame, idCol: String, vecCol: String,
      cb: Codebooks): DataFrame =
    df.select(col(idCol).as("id"), codesCol(col(vecCol), cb).as("codes"))

  /** Per-block query→codeword inner-product tables (driver-side,
    * blocks × codes doubles; double accumulation left-to-right — the
    * native expression's order, so baked literals and engine-computed
    * dots agree bit-for-bit).
    */
  private def adcTables(cb: Codebooks,
      query: Array[Float]): Array[Array[Double]] = {
    require(query.length == cb.dim)
    Array.tabulate(cb.blocks) { b =>
      val qb = query.slice(b * cb.blockDim, (b + 1) * cb.blockDim)
      cb.codewords(b).map { cw =>
        var s = 0.0
        var i = 0
        while (i < qb.length) { s += qb(i).toDouble * cw(i); i += 1 }
        s
      }
    }
  }

  /** ADC score column: Σ_b table_b(code_b) with the per-block
    * query→codeword inner-product tables baked in as literals
    * (driver-side, blocks × codes doubles).
    */
  def adcScoreCol(codesColumn: Column, cb: Codebooks,
      query: Array[Float]): Column = {
    val tables = adcTables(cb, query)
    (0 until cb.blocks).map { b =>
      element_at(lit(tables(b)), element_at(codesColumn, b + 1) + 1)
    }.reduce(_ + _)
  }

  /** Residual column (`array<float>`): v − coarse(cell), elementwise in
    * FLOAT. Float subtraction is IEEE-deterministic, so an oracle that
    * forms the same float residual agrees bit-for-bit before any
    * (double) dot runs. `coarse` is the cell → centroid codebook baked
    * as a literal (codebook-sized — the IVF seeds table). Callers must
    * NAME the result before fanning it into per-block probes (the
    * CollapseProject duplication guard then keeps it materialized);
    * left symbolic it re-evaluates per codeword.
    */
  def residualCol(vecCol: Column, cellCol: Column,
      coarse: Array[Array[Float]]): Column =
    zip_with(vecCol,
      element_at(array(coarse.toIndexedSeq.map(c => lit(c)): _*),
        cellCol + 1),
      (a, b) => a - b)

  /** IVF-PQ-with-residuals ADC score (Jégou/Douze/Schmid 2011, §IV):
    * score(q, v) ≈ q·centroid(cell) + Σ_b table_b(code_b), where the
    * codes quantize the RESIDUAL v − centroid(cell). Quantizing the
    * residual spends the codebook's resolution on the within-cell
    * displacement instead of re-describing the coarse structure, which
    * is why production IVF-PQ encodes residuals. Both the coarse term
    * (cells doubles) and the tables (blocks × codes doubles) are baked
    * literals; the chain folds LEFT-ASSOCIATIVELY from the coarse term
    * so the double-addition order is pinned cross-engine.
    */
  def adcResidualScoreCol(cellCol: Column, codesColumn: Column,
      cb: Codebooks, coarse: Array[Array[Float]],
      query: Array[Float]): Column = {
    val cellScores: Array[Double] = coarse.map { c =>
      var s = 0.0
      var i = 0
      while (i < query.length) { s += query(i).toDouble * c(i); i += 1 }
      s
    }
    val tables = adcTables(cb, query)
    (0 until cb.blocks).foldLeft(
      element_at(lit(cellScores), cellCol + 1)) { (acc, b) =>
      acc + element_at(lit(tables(b)), element_at(codesColumn, b + 1) + 1)
    }
  }

  /** ADC search over an encoded index: score = Σ_b table_b(code_b),
    * where table_b = the query block's inner products with block b's
    * codewords (computed once, driver-side). One projection over the
    * codes column + a top-k heap; the original vectors are never read.
    */
  def search(encoded: DataFrame, cb: Codebooks, query: Array[Float],
      k: Int): DataFrame =
    encoded
      .withColumn("score", adcScoreCol(col("codes"), cb, query))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .select(col("id"), col("score"))
}
