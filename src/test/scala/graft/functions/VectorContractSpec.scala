package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

/** Pins the edge contracts of the native vector expressions (VERDICT r3:
  * "mismatched-length and zero-norm edge contracts are unasserted").
  */
class VectorContractSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private def cos(a: Seq[Float], b: Seq[Float]): Double =
    Seq((a, b)).toDF("a", "b")
      .select(vectors.cosineSimilarity(col("a"), col("b"))).head().getDouble(0)

  test("self-similarity is exactly 1.0 (clamped)") {
    assert(cos(Seq(0.1f, 0.2f, 0.3f), Seq(0.1f, 0.2f, 0.3f)) == 1.0)
  }

  test("zero-norm vector scores 0.0, not NaN") {
    assert(cos(Seq(0f, 0f), Seq(1f, 2f)) == 0.0)
    assert(cos(Seq(0f, 0f), Seq(0f, 0f)) == 0.0)
  }

  test("length mismatch fails loud (matches DuckDB, no silent truncation)") {
    val ex = intercept[Exception] {
      cos(Seq(1f, 2f, 3f), Seq(1f, 2f))
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("vector length mismatch")),
      s"unexpected failure: $ex")
  }

  test("CosineSimilarity.cosine equals the expression on the codegen and interpreted paths") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val expr = CosineSimilarity(BoundReference(0, ArrayType(FloatType), true),
      BoundReference(1, ArrayType(FloatType), true))
    val generated = GenerateUnsafeProjection.generate(Seq(expr))
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    /** cosine(a, b), after asserting both paths give the same bits. */
    def all3(a: Array[Float], b: Array[Float]): Double = {
      val (x, y) = (ArrayData.toArrayData(a), ArrayData.toArrayData(b))
      val row = InternalRow(x, y)
      val direct = CosineSimilarity.cosine(x, y)
      assert(bits(direct) == bits(expr.eval(row).asInstanceOf[Double]),
        s"interpreted path differs on ${a.toSeq} ${b.toSeq}")
      assert(bits(direct) == bits(generated(row).getDouble(0)),
        s"codegen path differs on ${a.toSeq} ${b.toSeq}")
      direct
    }
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { i =>
      val n = 1 + i % 37
      all3(Array.fill(n)(rnd.nextGaussian().toFloat),
        Array.fill(n)(rnd.nextGaussian().toFloat))
    }
    val v = Array.fill(64)(rnd.nextFloat() - 0.5f)
    all3(v, v)
    assert(all3(Array(0.1f, 0.2f, 0.3f), Array(0.1f, 0.2f, 0.3f)) == 1.0)
    assert(all3(Array(0f, 0f), Array(1f, 2f)) == 0.0)
    assert(all3(Array(0f, 0f), Array(0f, 0f)) == 0.0)
    val (a, b) = (ArrayData.toArrayData(Array(1f, 2f, 3f)),
      ArrayData.toArrayData(Array(1f, 2f)))
    Seq(() => CosineSimilarity.cosine(a, b),
      () => expr.eval(InternalRow(a, b)),
      () => generated(InternalRow(a, b))).foreach { f =>
      val ex = intercept[IllegalArgumentException](f())
      assert(ex.getMessage.contains("vector length mismatch"), ex.getMessage)
    }
  }

  test("null input yields null, not a crash") {
    val r = Seq((Some(Seq(1f, 2f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
      .select(vectors.cosineSimilarity(col("a"), col("b"))).head()
    assert(r.isNullAt(0))
  }

  test("native minhash_slices equals the composed md5-slice form") {
    import graft.text.{TextFunctions => TF}
    val df = Seq(
      Seq("alpha beta", "beta gamma", "gamma delta"),
      Seq("solo")).toDF("sh")
    val native = df.select(text.minhashSlices(col("sh"), 4)).as[Seq[Long]].collect()
    val composed = df.select(
      array((0 until 4).map(b => TF.minhash(col("sh"), b)): _*))
      .as[Seq[Long]].collect()
    assert(native.toSeq == composed.toSeq)
    // empty input → null (array_min-of-empty contract)
    val empty = Seq(Seq.empty[String]).toDF("sh")
      .select(text.minhashSlices(col("sh"), 4)).head()
    assert(empty.isNullAt(0))
  }

  test("nearDupPairs maxBucket drops degenerate buckets") {
    import graft.operators.Similarity
    // One plane: bucket = sign of first component. Three +x vectors and
    // two -x vectors → buckets of 3 and 2.
    val plane = Array(1.0f, 0.0f)
    val df = Seq(
      (1L, Seq(1.0f, 0.1f)), (2L, Seq(1.0f, 0.2f)), (3L, Seq(1.0f, 0.3f)),
      (4L, Seq(-1.0f, 0.1f)), (5L, Seq(-1.0f, 0.2f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding"))
    def pairs(cap: Long) = Similarity.nearDupPairs(
      df, "vec_id", "embedding", Seq(plane), threshold = -1.0,
      maxBucket = cap).count()
    assert(pairs(0) == 3 + 1) // uncapped: C(3,2) + C(2,2)
    assert(pairs(2) == 1) // cap 2: only the small bucket's pair remains
  }

  test("hash32 column matches the JVM-side implementation") {
    val got = Seq("abc", "", "big").toDF("s")
      .select(graft.text.TextFunctions.hash32(col("s"))).as[Long].collect()
    assert(got.toSeq == Seq("abc", "", "big")
      .map(graft.embed.HashingEmbedder.hash32))
  }
}
