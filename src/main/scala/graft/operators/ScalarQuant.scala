package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Symmetric per-vector int8 scalar quantization — the embedding STORAGE
  * lever at corpus scale: a float32 embedding column is 4 bytes/dim; the
  * int8 codes plus one double scale per vector cut that ~4× (a 100-TB
  * float corpus becomes ~25 TB on disk and, more importantly, ~4× fewer
  * scan bytes for every ANN probe that can score on dequantized codes —
  * the standard faiss/SQ8 trade, error bounded by scale/2 per
  * component).
  *
  * Quantization: scale = max|x|/127 (symmetric, zero-preserving);
  * code_i = round-half-up(x_i/scale) ∈ [-127, 127], stored as tinyint.
  * round = floor(v + 0.5) is used deliberately — it is the same IEEE
  * multiply/add/floor in every engine (oracle row v10), unlike
  * round-half-even whose tie behavior engines disagree on. An all-zero
  * vector has scale 0 and codes 0 (no division). Everything is a
  * row-local projection — no shuffle, no UDF, full codegen.
  */
object ScalarQuant {

  /** Adds `scale` (double) and `codes` (array<tinyint>) next to the
    * vector column. The output names are fixed, so a frame already
    * carrying either column is rejected loudly — withColumn would
    * silently overwrite it (the IntervalJoin rightPayload rule).
    */
  def quantize(df: DataFrame, vecCol: String): DataFrame = {
    Seq("scale", "codes").foreach(c => require(!df.columns.contains(c),
      s"quantize emits a '$c' column but the input already has one — " +
        "rename it first"))
    df
    .withColumn("scale",
      array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
    .withColumn("codes",
      transform(col(vecCol), x =>
        when(col("scale") === lit(0.0), lit(0.0))
          .otherwise(floor(x.cast("double") / col("scale") + lit(0.5)))
          .cast("byte")))
  }

  /** Reconstructs a double-array approximation (`outCol`) from codes +
    * scale; each component is within scale/2 of the original.
    */
  def dequantize(df: DataFrame, codesCol: String, scaleCol: String,
      outCol: String): DataFrame =
    df.withColumn(outCol, decode(col(codesCol), col(scaleCol)))

  /** The vector a quantized row SCORES as: [[quantize]]'s `codes` ·
    * `scale` in double, cast back to float32 — v11's arithmetic, the
    * one form every quantized scan feeds the cosine expression, so the
    * coarse scores stay oracle-reproducible.
    */
  private[operators] def scoringVec: Column =
    decode(col("codes"), col("scale")).cast(ArrayType(FloatType))

  private def decode(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)
}
