package graft.store

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSession}
import graft.operators.ProductQuantizer

/** Every layout a store writes is read back with a pinned schema, never
  * inferred — so each pin must equal what footer inference sees on the
  * files the writers actually produce, after build, append, delete and
  * compact. A writer drifting from its pin fails here instead of
  * reading nulls in a serving face.
  */
class LayoutSchemaSpec extends AnyFunSuite {
  import TestSession.{sf, spark}
  import spark.implicits._

  /** Checks each existing `<root>/<layout>` against its pin; returns the
    * layouts it found.
    */
  private def check(root: String, pins: Map[String, StructType]): Set[String] = {
    val fs = Commit.fs(spark, root)
    pins.filter { case (layout, _) =>
      Commit.parquetFiles(fs, new Path(s"$root/$layout")).nonEmpty
    }.map { case (layout, pin) =>
      val inferred = spark.read.parquet(s"$root/$layout").schema
      assert(inferred == pin,
        s"$layout drifted from its pin:\n inferred: $inferred\n   pinned: $pin")
      layout
    }.toSet
  }

  test("TextIndex layouts equal their pins across build, append, delete and compact") {
    val docs = Tables.documents(spark, sf)
    val p = Files.createTempDirectory("graft-pin-text").toString
    val pins = Map(
      "postings" -> TextIndex.PostingsSchema,
      "postings_top" -> TextIndex.PostingsTopSchema,
      "postings_pos" -> TextIndex.PositionsSchema,
      "meta" -> TextIndex.MetaSchema,
      "stats" -> TextIndex.StatsSchema,
      "tombstone_stats" -> TextIndex.StatsSchema,
      "tombstones" -> IvfIndex.TombstonesSchema,
      "doclens" -> TextIndex.DoclensSchema,
      "top_meta" -> TextIndex.TopMetaSchema)
    TextIndex.appendBatch(docs.filter(col("doc_id") < 200), "doc_id", "text",
      p, 16, batchId = 0L, withPositions = true)
    TextIndex.appendBatch(docs.filter(col("doc_id") >= 200), "doc_id", "text",
      p, 16, batchId = 1L, withPositions = true)
    TextIndex.buildTopTier(spark, p, topN = 50)
    TextIndex.delete(spark, p, Seq(3L, 5L))
    TextIndex.deleteBatch(Seq(7L).toDF("doc_id"), "doc_id", p, batchId = 2L)
    val seen = check(p, pins)
    TextIndex.compact(spark, p)
    val afterCompact = check(p, pins)
    assert(!afterCompact.contains("tombstones"), "compact clears tombstones")
    val q = Files.createTempDirectory("graft-pin-text-batch").toString
    TextIndex.build(docs.filter(col("doc_id") < 100), "doc_id", "text", q,
      nBuckets = 8)
    TextIndex.append(docs.filter(col("doc_id") >= 100), "doc_id", "text", q)
    TextIndex.buildPositions(docs, "doc_id", "text", q)
    assert(seen ++ afterCompact ++ check(q, pins) == pins.keySet)
  }

  test("IvfIndex, IvfPqIndex and store layouts equal their pins") {
    import IvfIndex.Encoding
    val e = Tables.embeddings(spark, sf)
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("seed_id"),
        col("embedding").as("seed_vec"))
    val shared = Map(
      "seeds" -> IvfIndex.SeedsSchema,
      "tombstones" -> IvfIndex.TombstonesSchema)
    // the caller's payload columns (here `label`) ride along; int8 and
    // PQ store their codes in place of the vector column
    val stored = Map(
      Encoding.Float -> Seq("vec_id", "embedding", "label", "cell"),
      Encoding.Int8 -> Seq("vec_id", "label", "scale", "codes", "cell"),
      Encoding.Pq -> Seq("vec_id", "label", "codes", "cell"))
    Seq(Encoding.Float, Encoding.Int8, Encoding.Pq).foreach { enc =>
      val p = Files.createTempDirectory(s"graft-pin-ivf-$enc").toString
      val base = e.filter(col("vec_id") % 2 === 0)
      val delta = e.filter(col("vec_id") % 2 === 1)
      enc match {
        case Encoding.Float => IvfIndex.build(base, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec", p)
        case Encoding.Int8 => IvfIndex.buildQuantized(base, "vec_id",
          "embedding", seeds, "seed_id", "seed_vec", p)
        case Encoding.Pq => IvfIndex.buildPq(base, "vec_id", "embedding",
          seeds, "seed_id", "seed_vec", ProductQuantizer.train(e, "vec_id",
            "embedding", blocks = 4, codes = 8, iters = 2), p)
      }
      IvfIndex.append(delta, "vec_id", "embedding", p)
      IvfIndex.delete(spark, p, Seq(2L, 4L))
      val rec = IvfIndex.record(spark, p)
      assert((rec.encoding, rec.idCol, rec.vecCol) ==
        ((enc, "vec_id", "embedding")), rec)
      val pins = shared + ("vectors" -> rec.schema) ++
        (if (enc == Encoding.Pq) Map("codebooks" -> IvfIndex.CodebooksSchema)
         else Map.empty)
      assert(rec.schema.fieldNames.toSeq == stored(enc), rec.schema)
      assert(check(p, pins) == pins.keySet)
      IvfIndex.compact(spark, p)
      val cells = spark.read.parquet(s"$p/seeds").select("cell").as[Long]
        .collect().sorted
      IvfIndex.mergeCells(spark, p, cells(0), cells(1))
      if (enc == Encoding.Float)
        IvfIndex.splitCell(spark, p, "vec_id", "embedding", cells(2))
      assert(check(p, pins) == pins.keySet - "tombstones")
      assert(!Commit.fs(spark, p).exists(new Path(s"$p/idcol")))
    }

    val root = Files.createTempDirectory("graft-pin-store").toString
    val store = new ParquetVectorStore(spark, root)
    store.append("docs", Seq(("a", Map("source" -> "s1"), Map.empty[String, String],
      Seq(1f, 0f))).toDF("page_content", "metadata", "headers", "embedding"))
    store.deleteDocuments("docs", Seq("s1"))
    assert(check(s"$root/docs", Map(
      "_tombstones" -> ParquetVectorStore.TombstonesSchema)) ==
      Set("_tombstones"))
  }

  test("the Dedup label store layout equals its pin") {
    val p = Files.createTempDirectory("graft-pin-labels").toString
    graft.text.Dedup.labelStoreBatch(
      Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id"), p, batchId = 0L)
    graft.text.Dedup.labelStoreBatch(
      Seq((2L, 3L), (5L, 5L)).toDF("a_id", "b_id"), p, batchId = 1L)
    assert(check(p, Map("labels" -> graft.text.Dedup.LabelsSchema)) ==
      Set("labels"))
  }
}
