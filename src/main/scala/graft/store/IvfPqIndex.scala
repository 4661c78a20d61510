package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{ProductQuantizer, Similarity}
import graft.operators.ProductQuantizer.Codebooks

/** On-disk IVF-PQ: the two-level large-scale ANN index — IVF partition
  * pruning ([[IvfIndex]]) composed with product-quantized storage
  * ([[ProductQuantizer]]). Vectors are assigned to their nearest seed
  * cell and stored as PQ CODES ONLY, partitioned by cell:
  *
  *   - a probe prunes to `nProbe` cell partitions before any IO
  *     (`PartitionFilters` on `cell`, same contract as [[IvfIndex]]);
  *   - inside the probed cells the scan reads (id, codes) — `blocks`
  *     small ints per vector instead of the d×4-byte embedding, ~30×
  *     less IO at 64 dims — and scores by ADC table lookups;
  *   - the float vectors are NEVER stored here: at 100 TB the raw
  *     embeddings stay in the corpus table, and this index is the
  *     compressed search structure beside it (rescoring reads the few
  *     top candidates from the corpus by id, outside this class).
  *
  * Driver state is seeds + codebooks (both tiny by contract); build is
  * one assignment+encode projection and one partitioned write.
  *
  * Approximation contract: IVF recall (probe misses) × PQ recall
  * (quantization error) — pinned by a recall-floor property test like
  * the in-memory PQ, not an oracle row.
  */
object IvfPqIndex {

  /** Assign each vector to its nearest seed, PQ-encode, and write
    * `(id, codes)` partitioned by cell; seeds and codebooks persist
    * beside the codes so search and build can't drift.
    */
  def build(df: DataFrame, idCol: String, vecCol: String,
      seeds: DataFrame, seedIdCol: String, seedVecCol: String,
      cb: Codebooks, path: String): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    writeCodes(Similarity.ivfAssign(df, idCol, vecCol, seeds, seedIdCol,
      seedVecCol), idCol, vecCol, cb, path, SaveMode.Overwrite)
    IvfIndex.writeSeeds(seeds, seedIdCol, seedVecCol, path)
    cb.codewords.iterator.zipWithIndex.flatMap { case (cws, b) =>
      cws.iterator.zipWithIndex.map { case (cw, c) => (b, c, cw.toSeq) }
    }.toSeq.toDF("block", "code", "codeword")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codebooks")
  }

  /** `codes/`: (id, PQ codes) partitioned by cell — the layout
    * [[writeCodes]] writes for [[build]] and [[append]].
    */
  private[store] val CodesSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("codes", ArrayType(IntegerType)),
    IvfIndex.CellField))

  /** `codebooks/`: one (block, code, codeword) row per PQ codeword. */
  private[store] val CodebooksSchema = StructType(Seq(
    StructField("block", IntegerType),
    StructField("code", IntegerType),
    StructField("codeword", ArrayType(FloatType))))

  /** Encode assigned rows against `cb` and write them to `codes`. */
  private def writeCodes(assigned: DataFrame, idCol: String, vecCol: String,
      cb: Codebooks, path: String, mode: SaveMode): Unit =
    assigned
      .select(col(idCol).cast("long").as("id"),
        ProductQuantizer.codesCol(col(vecCol), cb).as("codes"),
        col("cell"))
      .write.mode(mode)
      .partitionBy("cell")
      .parquet(s"$path/codes")

  /** Reconstruct the per-block codebooks persisted by [[build]]. */
  def loadCodebooks(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.schema(CodebooksSchema)
      .parquet(s"$path/codebooks").collect()
    require(rows.nonEmpty, s"no codebooks at $path/codebooks")
    val blocks = rows.iterator.map(_.getInt(0)).max + 1
    val codes = rows.iterator.map(_.getInt(1)).max + 1
    val byKey = rows.map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2).toArray).toMap
    Codebooks(blocks, byKey((0, 0)).length,
      Array.tabulate(blocks, codes)((b, c) => byKey((b, c))))
  }

  /** INCREMENTAL maintenance, [[IvfIndex.append]]'s PQ twin: assign a
    * delta batch against the index's OWN frozen seeds, encode it with
    * the index's OWN frozen codebooks, and append into the existing
    * cell-partitioned layout — appended codes are indistinguishable
    * from built ones to [[search]] (same assignment argmax, same
    * codeword tables), so the daily-ingest shape holds for the
    * compressed index too. Codebook drift is the retrain signal, not
    * an append-time concern: encoding against frozen codebooks is
    * exactly what keeps ADC scoring consistent across the whole index.
    */
  def append(df: DataFrame, idCol: String, vecCol: String,
      path: String): Unit = {
    val spark = df.sparkSession
    writeCodes(Similarity.ivfAssign(df, idCol, vecCol,
        IvfIndex.readSeeds(spark, path), "cell", "seed_vec"),
      idCol, vecCol, loadCodebooks(spark, path), path, SaveMode.Append)
  }

  /** Per-document delete, [[IvfIndex.delete]]'s PQ twin — the PQ
    * layout always stores its id as `id`, so the tombstone machinery
    * needs no build-time marker here.
    */
  def delete(spark: SparkSession, path: String, ids: Seq[Long]): Unit =
    IvfIndex.delete(spark, path, ids)

  /** Fold appended small files back to one per cell and drop
    * tombstoned rows physically — delegates to the shared compact core
    * ([[IvfIndex.compactLayout]]: cell-keyed repartition, then
    * [[Commit.swap]]), applied to the `codes` directory.
    */
  def compact(spark: SparkSession, path: String): (Long, Long) =
    IvfIndex.compactLayout(spark, path, "codes", CodesSchema, "id")

  /** Merge two cold cells — [[IvfIndex.mergeCells]]'s PQ twin, SOUND
    * for this layout precisely because [[build]] quantizes the RAW
    * vector (codes carry no dependence on the owning cell's centroid),
    * so moving a code row to another cell changes nothing it encodes.
    * A residual-encoded layout (v27's form) could NOT do this without
    * re-encoding every row against the new centroid — which is the
    * maintenance trade-off between the two encodings, stated here so
    * nobody ports this method there blindly. Same commit protocol and
    * crash contract as the float index: append both cells' code rows
    * under the collision-proof next id (invisible — not in seeds),
    * flip the codebook in one write (the commit point; the merged seed
    * is the elementwise mean), best-effort drop of the retired dirs —
    * every crash point leaves at worst dead extra bytes for
    * [[compact]]. Returns the merged cell id.
    */
  def mergeCells(spark: SparkSession, path: String, a: Long,
      b: Long): Long =
    IvfIndex.mergeCellsIn(spark, path, "codes", CodesSchema, a, b)

  /** Probe the `nProbe` nearest cells (partition-pruned) and ADC-score
    * their codes; `(cell, id, score)` top-k. Cells rank and the probed
    * cells' top-k is taken by [[Similarity.probeSearch]], the probe
    * path every IVF face shares; only the score is PQ's own. The scan
    * touches codes only — no vector column exists on disk to read.
    * Tombstoned ids are anti-joined out before scoring ([[delete]]).
    */
  def search(spark: SparkSession, path: String, query: Array[Float],
      k: Int, nProbe: Int = 1): DataFrame =
    Similarity.probeSearch(
      IvfIndex.dropTombstoned(
        spark.read.schema(CodesSchema).parquet(s"$path/codes"), "id", spark,
        path),
      "id", IvfIndex.readSeeds(spark, path), "cell", "seed_vec", query,
      nProbe, k, ProductQuantizer.adcScoreCol(
        col("codes"), loadCodebooks(spark, path), query))
}
