package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSession}
import graft.text.{Bm25, TextFunctions => TF}

/** On-disk inverted-index contract: term-bucket partition pruning
  * visible in the plan, the driver-side bucket hash pinned to the
  * column expression, and search ≡ the scan-scoring path BIT FOR BIT
  * on the candidate set.
  */
class TextIndexSpec extends AnyFunSuite {
  import TestSession.{sf, spark}
  import spark.implicits._

  private val query = Seq("table", "scan", "query")

  private lazy val path = {
    val p = Files.createTempDirectory("graft-textindex").toString
    TextIndex.build(Tables.documents(spark, sf), "doc_id", "text", p,
      nBuckets = 16)
    p
  }

  test("hash32Of mirrors the TF.hash32 column expression") {
    val terms = Seq("table", "scan", "query", "a", "zz never", "spark")
    val want = terms.toDF("t").select(TF.hash32(col("t")))
      .collect().map(_.getLong(0)).toSeq
    assert(terms.map(TextIndex.hash32Of) == want)
  }

  test("search equals Bm25.score's top-k exactly — scores bit for bit") {
    val got = TextIndex.search(spark, path, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Bm25.score(Tables.documents(spark, sf), "doc_id", "text",
        query)
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"\n got: $got\nwant: $want")
  }

  test("search plan prunes to the query terms' bucket partitions") {
    val df = TextIndex.search(spark, path, query, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    assert("bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(plan).isDefined,
      "expected a bucket partition filter in:\n" + plan.take(800))
    // No corpus-scale join: dl rides the posting row.
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
  }

  test("append ≡ one-shot rebuild bit for bit; delete ≡ rebuild without the doc; compact folds files") {
    val docs = Tables.documents(spark, sf)
    def searchAll(p: String) = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // append: base(first 80%) + delta(rest) must equal one-shot.
    val pInc = Files.createTempDirectory("graft-ti-inc").toString
    val cut = 400L
    TextIndex.build(docs.filter(col("doc_id") < cut), "doc_id", "text",
      pInc, nBuckets = 16)
    TextIndex.append(docs.filter(col("doc_id") >= cut), "doc_id", "text",
      pInc)
    val oneShot = searchAll(path)
    assert(searchAll(pInc) == oneShot,
      "append must reproduce the one-shot index bit for bit")
    // delete: scores must equal a REBUILD without the docs (df, n and
    // avgdl all corrected), not just hide the rows.
    val dead = oneShot.take(2).map(_._1)
    TextIndex.delete(spark, pInc, dead)
    TextIndex.delete(spark, pInc, dead) // double delete: no double-correction
    val pWithout = Files.createTempDirectory("graft-ti-wo").toString
    TextIndex.build(docs.filter(!col("doc_id").isin(dead: _*)),
      "doc_id", "text", pWithout, nBuckets = 16)
    assert(searchAll(pInc) == searchAll(pWithout),
      "a tombstoned index must score exactly like a rebuild without the docs")
    // compact: files fold, tombstoned postings reclaimed, search unchanged.
    val want = searchAll(pInc)
    val (before, after) = TextIndex.compact(spark, pInc)
    assert(after < before, s"compact must fold files: $before -> $after")
    assert(spark.read.parquet(s"$pInc/postings")
      .filter(col("doc_id").isin(dead: _*)).count() == 0L,
      "tombstoned postings must be physically gone")
    assert(searchAll(pInc) == want,
      "post-compact search must equal the tombstone-filtered search")
  }

  test("appendBatch: staged commit survives partial stages, staged-unpublished and mid-publish crashes") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.SaveMode
    val docs = Tables.documents(spark, sf)
    def searchAll(p: String) = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pRef = Files.createTempDirectory("graft-ti-cref").toString
    TextIndex.build(docs.filter(col("doc_id") < 200), "doc_id", "text",
      pRef, nBuckets = 16)
    val p = Files.createTempDirectory("graft-ti-crash").toString
    val fs = Commit.fs(spark, p)
    // batch 0 creates the index (build is Overwrite — replay-safe).
    TextIndex.appendBatch(docs.filter(col("doc_id") < 100),
      "doc_id", "text", p, 16, batchId = 0L)
    // batch 1 — crash BEFORE staging completed: a partial staging dir
    // with no STAGED marker must be wiped and redone, never published.
    fs.mkdirs(new Path(s"$p/staging/a1/postings"))
    docs.filter(col("doc_id") < 5).select(col("doc_id").as("junk"))
      .write.parquet(s"$p/staging/a1/doclens")
    TextIndex.appendBatch(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 150),
      "doc_id", "text", p, 16, batchId = 1L)
    // batch 2 — crash AFTER the stage, BEFORE any publish: the replay
    // must resume from the staged files (no recompute, no doubles).
    val b2 = docs.filter(col("doc_id") >= 150 && col("doc_id") < 180)
    TextIndex.writeParts(b2, "doc_id", "text", s"$p/staging/a2", 16,
      SaveMode.Overwrite)
    Commit.touch(fs, new Path(s"$p/staging/a2/STAGED"))
    TextIndex.appendBatch(b2, "doc_id", "text", p, 16, batchId = 2L)
    // batch 3 — crash MID-publish: one staged file already moved; the
    // resumed publish must move the rest and not re-move (or lose) it.
    val b3 = docs.filter(col("doc_id") >= 180 && col("doc_id") < 200)
    val stg3 = s"$p/staging/a3"
    TextIndex.writeParts(b3, "doc_id", "text", stg3, 16, SaveMode.Overwrite)
    Commit.touch(fs, new Path(s"$stg3/STAGED"))
    val it = fs.listFiles(new Path(stg3), true)
    var moved = false
    while (it.hasNext && !moved) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = fs.makeQualified(f).toString
          .stripPrefix(fs.makeQualified(new Path(stg3)).toString)
          .stripPrefix("/")
        val cut = rel.lastIndexOf('/')
        val destDir =
          if (cut < 0) new Path(p) else new Path(s"$p/${rel.take(cut)}")
        fs.mkdirs(destDir)
        assert(fs.rename(f, new Path(destDir, s"a3-${f.getName}")))
        moved = true
      }
    }
    assert(moved, "fixture must simulate a half-done publish")
    TextIndex.appendBatch(b3, "doc_id", "text", p, 16, batchId = 3L)
    // replay of a fully-published batch: wholesale skip, still equal.
    TextIndex.appendBatch(b3, "doc_id", "text", p, 16, batchId = 3L)
    assert(searchAll(p) == searchAll(pRef),
      "every crash-replay path must reproduce the one-shot build bit for bit")
    Seq("a1", "a2", "a3").foreach { t =>
      assert(!fs.exists(new Path(s"$p/staging/$t")),
        s"staging/$t must be cleaned after publish")
    }
  }

  test("appendBatch: a within-batch duplicate doc cannot double-count — dup batch ≡ single-copy build") {
    // The r19/r20 verdicts' top ask: a micro-batch carrying the SAME
    // doc_id twice must not write two doclens rows, count n_docs += 2,
    // merge tf across the copies, or fold both copies' positions into
    // one array (inflating phraseSearch n_occ). The guard dedups the
    // batch on the id at entry; this pins every layout piece against a
    // store fed the same docs once.
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 120)
    val dup = docs.unionByName(docs.filter(col("doc_id") < 60)) // 0–59 twice
    val pDup = Files.createTempDirectory("graft-ti-dup").toString
    val pRef = Files.createTempDirectory("graft-ti-dupref").toString
    // batch 0 exercises the first-batch (Overwrite build) path with
    // intra-batch dups; batch 1 the incremental staged path.
    TextIndex.appendBatch(dup.filter(col("doc_id") < 80), "doc_id",
      "text", pDup, 16, batchId = 0L, withPositions = true)
    TextIndex.appendBatch(dup.filter(col("doc_id") >= 80), "doc_id",
      "text", pDup, 16, batchId = 1L, withPositions = true)
    TextIndex.appendBatch(docs.filter(col("doc_id") < 80), "doc_id",
      "text", pRef, 16, batchId = 0L, withPositions = true)
    TextIndex.appendBatch(docs.filter(col("doc_id") >= 80), "doc_id",
      "text", pRef, 16, batchId = 1L, withPositions = true)
    def rows(p: String, part: String, cols: Seq[String]) =
      spark.read.parquet(s"$p/$part")
        .select(cols.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(rows(pDup, "doclens", Seq("doc_id", "dl"))
      == rows(pRef, "doclens", Seq("doc_id", "dl")),
      "a duplicated doc must land exactly one doclens row")
    assert(rows(pDup, "postings", Seq("term", "doc_id", "dl", "tf"))
      == rows(pRef, "postings", Seq("term", "doc_id", "dl", "tf")),
      "postings tf must not merge across the batch's copies")
    val statsOf = (p: String) => spark.read.parquet(s"$p/stats")
      .agg(sum(col("n_docs")), sum(col("sum_dl"))).head()
    assert(statsOf(pDup) == statsOf(pRef),
      "the stats pair must count the duplicated doc once")
    val phr = (p: String) => TextIndex.phraseSearch(spark, p,
      Seq("big", "data")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(phr(pDup) == phr(pRef),
      "positions must not fold two copies into one array (n_occ inflation)")
    val s = (p: String) => TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(s(pDup) == s(pRef), "scores must equal the single-copy build")
  }

  test("appendBatch: duplicate ids with DIFFERENT texts keep the max text, whatever the arrival order") {
    // r22 (VERDICT r21 #7): the dup-batch keeper is deterministic — the
    // lexicographically largest text per id wins — so a replay/debug
    // run rebuilds the same index bit for bit regardless of partition
    // or arrival order (dropDuplicates kept an arbitrary copy).
    val a = Seq((1L, "alpha beta"), (1L, "zeta omega"), (2L, "gamma delta"))
    val b = Seq(a(1), a(2), a(0)) // same rows, different arrival order
    val ref = Seq((1L, "zeta omega"), (2L, "gamma delta")) // max text per id
    val ps = Seq(a, b).map { rows =>
      val p = Files.createTempDirectory("graft-ti-det").toString
      TextIndex.appendBatch(rows.toDF("doc_id", "text"), "doc_id", "text",
        p, 16, batchId = 0L)
      p
    }
    val pRef = Files.createTempDirectory("graft-ti-detref").toString
    TextIndex.build(ref.toDF("doc_id", "text"), "doc_id", "text", pRef,
      nBuckets = 16)
    def postings(p: String) = spark.read.parquet(s"$p/postings")
      .select(col("term"), col("doc_id"), col("dl"), col("tf")).collect()
      .map(_.toSeq).sortBy(_.mkString("|")).toSeq
    ps.foreach { p =>
      assert(postings(p) == postings(pRef),
        "the keeper must be the max text per id, independent of order")
    }
  }

  test("batch markers fold into a high-water file; covered ids still read done") {
    import org.apache.hadoop.fs.Path
    // r22 (the r19/r20 robustness ask): markers older than the
    // retention window are replaced by a `_hwm_<prefix>_<N>` file.
    // Crash-safety = creation order (new high water lands before any
    // delete), and the skip rule (marker OR id ≤ high water) must hold
    // at every point.
    val p = Files.createTempDirectory("graft-ti-markers").toString
    val fs = Commit.fs(spark, p)
    (4340L to 4352L).foreach(i =>
      Commit.touch(fs, Commit.marker(p, s"a$i")))
    Commit.touch(fs, Commit.marker(p, "a10"))
    Commit.touch(fs, Commit.marker(p, "d10")) // other prefix
    Commit.pruneMarkers(fs, p, "a", 4351L) // off-cadence: no-op
    assert(fs.exists(Commit.marker(p, "a10")))
    Commit.pruneMarkers(fs, p, "a", 4352L) // 17·256 → high water 256
    assert(!fs.exists(Commit.marker(p, "a10")),
      "a marker under the water line must be pruned")
    assert(fs.exists(Commit.marker(p, "d10")),
      "pruning one prefix must not touch another's markers")
    assert(Commit.batchDone(fs, p, "a", 10L),
      "a pruned batch must still read as done (the replay hazard)")
    assert(Commit.batchDone(fs, p, "a", 4350L), "marker still present")
    assert(!Commit.batchDone(fs, p, "a", 257L),
      "an unprocessed id above the water line must not read done")
    // advancing the water replaces the old hwm file and prunes more.
    Commit.pruneMarkers(fs, p, "a", 8448L) // high water 4352
    assert(!fs.exists(Commit.marker(p, "a4350")))
    assert(Commit.batchDone(fs, p, "a", 4350L))
    assert(Commit.batchDone(fs, p, "a", 10L))
    val hwms = fs.listStatus(new Path(s"$p/batch_markers"))
      .map(_.getPath.getName).filter(_.startsWith("_hwm_a_")).toSeq
    assert(hwms == Seq("_hwm_a_4352"),
      s"exactly one high-water file must survive, got $hwms")
  }

  test("a delete batch with no ids still prunes its markers") {
    // Most batches of a delete stream carry no ids; their markers must
    // fold into the high water like any other committed batch's.
    val p = Files.createTempDirectory("graft-ti-emptydel").toString
    TextIndex.build(Seq((1L, "one two")).toDF("doc_id", "text"),
      "doc_id", "text", p, nBuckets = 4)
    val none = Seq.empty[Long].toDF("doc_id")
    TextIndex.deleteBatch(none, "doc_id", p, batchId = 10L)
    TextIndex.deleteBatch(none, "doc_id", p, batchId = 4352L)
    val fs = Commit.fs(spark, p)
    assert(fs.exists(Commit.marker(p, "_hwm_d_256")),
      "the 4352nd batch must advance the high water to 256")
    assert(!fs.exists(Commit.marker(p, "d10")),
      "a marker under the water line must be pruned")
    assert(Commit.batchDone(fs, p, "d", 10L))
  }

  test("searchBatch refuses a batch past MaxBatchQueries, loudly") {
    val big = (0L until (TextIndex.MaxBatchQueries + 1L))
      .map(i => i -> Seq("table")).toSeq
    val e = intercept[IllegalArgumentException](
      TextIndex.searchBatch(spark, path, big, k = 1))
    assert(e.getMessage.contains("MaxBatchQueries"))
  }

  test("deleteBatch ≡ batch delete bit for bit; replays and cross-batch doubles cannot double-subtract") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 150)
    def searchAll(p: String) = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pStream = Files.createTempDirectory("graft-ti-dstream").toString
    val pBatch = Files.createTempDirectory("graft-ti-dbatch").toString
    TextIndex.build(docs, "doc_id", "text", pStream, nBuckets = 16)
    TextIndex.build(docs, "doc_id", "text", pBatch, nBuckets = 16)
    val dead = searchAll(pStream).take(2).map(_._1)
    val deadDf = dead.toDF("doc_id")
    // crash sim: a partial delete staging dir with no STAGED marker.
    val fs = Commit.fs(spark, pStream)
    fs.mkdirs(new Path(s"$pStream/staging/d7"))
    deadDf.write.parquet(s"$pStream/staging/d7/tombstones")
    TextIndex.deleteBatch(deadDf, "doc_id", pStream, batchId = 7L)
    TextIndex.deleteBatch(deadDf, "doc_id", pStream, batchId = 7L) // replay
    TextIndex.deleteBatch(deadDf, "doc_id", pStream, batchId = 8L) // double delete
    TextIndex.delete(spark, pBatch, dead)
    assert(searchAll(pStream) == searchAll(pBatch),
      "a streamed delete must equal the batch delete bit for bit")
    val pWo = Files.createTempDirectory("graft-ti-dwo").toString
    TextIndex.build(docs.filter(!col("doc_id").isin(dead: _*)),
      "doc_id", "text", pWo, nBuckets = 16)
    assert(searchAll(pStream) == searchAll(pWo),
      "…and therefore a rebuild without the docs")
    // compact reclaims the streamed tombstones too.
    TextIndex.compact(spark, pStream)
    assert(spark.read.parquet(s"$pStream/postings")
      .filter(col("doc_id").isin(dead: _*)).count() == 0L)
    assert(searchAll(pStream) == searchAll(pWo),
      "post-compact scores must be unchanged")
  }

  test("searchBatch ≡ per-query solo search bit for bit, off one materialized read") {
    val batch = Seq(1L -> Seq("table", "scan"), 2L -> Seq("query"),
      3L -> Seq("scan", "zz", "query"))
    val df = TextIndex.searchBatch(spark, path, batch, k = 7)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val want = batch.flatMap { case (qid, terms) =>
      TextIndex.search(spark, path, terms, k = 7)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getDouble(1)) }
    }
    assert(got == want, s"\n got: $got\nwant: $want")
    // under the cap the batch is driver-finished; the past-cap plan pins
    // sit in the driver-finish cap test.
    assert(df.queryExecution.executedPlan.toString.contains("CommandResult"),
      "the batch's candidates fit: its queries score on the driver")
  }

  test("top tier ≡ exact search when every query term's list fits; reads stay tier-bounded") {
    TextIndex.buildTopTier(spark, path, topN = 2000)
    // theorem precondition: every query term's full posting list is in
    // the tier (df ≤ topN) — holds at test scale by construction.
    val dfs = spark.read.parquet(s"$path/postings")
      .filter(col("term").isin(query: _*))
      .groupBy(col("term")).count().collect().map(_.getLong(1))
    assert(dfs.nonEmpty && dfs.forall(_ <= 2000L), dfs.toSeq)
    val got = TextIndex.searchTop(spark, path, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextIndex.search(spark, path, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want,
      s"df ≤ topN must make the tier exact:\n got: $got\nwant: $want")
    // the stored df is the TRUE df, not the tier-capped count.
    val storedDf = spark.read.parquet(s"$path/postings_top")
      .filter(col("term") === query.head).select(col("df_full"))
      .head().getLong(0)
    val trueDf = spark.read.parquet(s"$path/postings")
      .filter(col("term") === query.head).count()
    assert(storedDf == trueDf)
    // the serving read bound: ≤ topN rows per term, bucket-pruned plan.
    val perTerm = spark.read.parquet(s"$path/postings_top")
      .groupBy(col("term")).count().agg(max(col("count"))).head().getLong(0)
    assert(perTerm <= 2000L)
    val plan = TextIndex.searchTop(spark, path, query, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      "bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(plan).isDefined,
      "the tier scan must prune on the term buckets:\n" + plan.take(800))
  }

  test("compact rebuilds the tier: reclaimed docs cannot resurface once tombstones clear") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val p = Files.createTempDirectory("graft-ti-tiercompact").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    TextIndex.buildTopTier(spark, p, topN = 2000)
    val dead = TextIndex.searchTop(spark, p, query, k = 2)
      .collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, p, dead)
    // pre-compact: the anti-join hides the tombstoned docs — on the
    // batch face too (searchTopBatch reads the same dropTombstoned
    // tier; a deleted doc must not serve from EITHER face).
    val before = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(before.forall(r => !dead.contains(r._1)))
    assert(TextIndex.searchTopBatch(spark, p, Seq(1L -> query), k = 10)
      .collect().forall(r => !dead.contains(r.getLong(2))),
      "the batch tier face must hide tombstoned docs pre-compact")
    TextIndex.compact(spark, p)
    // post-compact: the tier was REBUILT — dead docs gone physically
    // and df REFRESHED. Scores legitimately shift here (the
    // pre-compact tier served its snapshot's stale-high df — the
    // documented freshness lag); what must hold is candidate
    // stability and exactness against the live path.
    val after = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after.map(_._1) == before.map(_._1),
      "the refreshed tier must keep serving the same candidates here " +
        "(df ≤ topN: nothing was cut)")
    assert(spark.read.parquet(s"$p/postings_top")
      .filter(col("doc_id").isin(dead: _*)).count() == 0L,
      "a reclaimed doc must be physically gone from the tier")
    val want = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == want, "the rebuilt tier must equal the exact path")
  }

  test("TopKPostings is layout-invariant: any partitioning yields the sorted top-N") {
    // deterministic pseudo-random postings: impacts collide on purpose
    // (same (tf, dl) pairs recur) so the doc_id tiebreak is exercised.
    val rows = (0 until 400).map { i =>
      val tf = 1.0 + (i * 2654435761L % 7)
      val dl = 10.0 + (i * 40503L % 11)
      (tf / (tf + 1.2 * (0.25 + 0.75 * dl / 30.0)), i.toLong,
        dl.toLong, tf.toLong)
    }
    def ahead(a: (Double, Long, Long, Long), b: (Double, Long, Long, Long)) =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    val want = rows.sortWith(ahead).take(16)
    val agg = udaf(new TextIndex.TopKPostings(16),
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[(Double, Long, Long, Long)]())
    Seq(1, 3, 32).foreach { parts =>
      val got = rows.toDF("imp", "doc_id", "dl", "tf").repartition(parts)
        .agg(agg(col("imp"), col("doc_id"), col("dl"), col("tf")))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got == want, s"parts=$parts")
    }
  }

  test("top tier under-recall witness: a hot term's below-cut posting loses its contribution") {
    val docs = Seq((1L, "hot hot hot hot"), (2L, "hot hot hot hot"),
      (3L, "hot hot hot hot"), (4L, "hot rare"), (5L, "rare zz"))
      .toDF("doc_id", "text")
    val p = Files.createTempDirectory("graft-ti-hot").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 8)
    TextIndex.buildTopTier(spark, p, topN = 3)
    // df(hot) = 4 > 3: the tier keeps the three tf-4 docs; doc 4's
    // low-impact "hot" posting falls below the cut.
    val full = TextIndex.search(spark, p, Seq("hot", "rare"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val top = TextIndex.searchTop(spark, p, Seq("hot", "rare"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(top(4L) < full(4L),
      s"doc 4 must lose its below-cut hot contribution: $top vs $full")
    assert(top.keySet.contains(4L),
      "doc 4 stays a candidate through the rare tier")
    // a query of only df ≤ topN terms is exact even on this index.
    val wantRare = TextIndex.search(spark, p, Seq("rare"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val gotRare = TextIndex.searchTop(spark, p, Seq("rare"), k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotRare == wantRare)
  }

  test("an index with every live doc tombstoned returns empty instead of NaN-poisoned scores") {
    val docs = Seq((1L, "one two"), (2L, "two three"), (3L, "three four"))
      .toDF("doc_id", "text")
    val p = Files.createTempDirectory("graft-ti-empty").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 4)
    TextIndex.delete(spark, p, Seq(1L, 2L, 3L))
    val res = TextIndex.search(spark, p, Seq("two"), k = 5)
    assert(res.columns.toSeq == Seq("doc_id", "score"))
    assert(res.count() == 0L,
      "n = 0 must short-circuit to an empty frame, never divide by zero")
    // and an EMPTY first streaming batch must not create an n = 0
    // index at all — the marker lands, the layout doesn't.
    val p2 = Files.createTempDirectory("graft-ti-emptyfirst").toString
    TextIndex.appendBatch(docs.filter(col("doc_id") < 0), "doc_id",
      "text", p2, 4, batchId = 0L)
    val fs = Commit.fs(spark, p2)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p2/meta")),
      "an empty first batch must not create the index")
    assert(fs.exists(Commit.marker(p2, "a0")),
      "…but the batch must still be marked processed")
  }

  test("only candidate documents appear; absent terms contribute df 0 without poisoning idf") {
    // 'zz' appears in no document: the query must still score the
    // other term's candidates (df 0 term folds in as part 0).
    val got = TextIndex.search(spark, path, Seq("table", "zz"), k = 5)
      .collect().map(_.getLong(0)).toSeq
    val want = Bm25.score(Tables.documents(spark, sf), "doc_id", "text",
        Seq("table", "zz"))
      .orderBy(col("score").desc, col("doc_id")).limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(got == want)
    val hits = TextIndex.search(spark, path, Seq("zz"), k = 5).count()
    assert(hits == 0L, "a query of absent terms must return no rows")
  }

  test("phraseSearch: adjacency, overlaps, repeated tokens, delete and physical reclamation") {
    val docs = Seq(
      (1L, "hash join hash join fast"), // two separate occurrences
      (2L, "window window window"),     // repeated-token overlap case
      (3L, "hash fast join"),           // both terms, never adjacent
      (4L, "join hash"),                // reversed order
      (5L, "hash join"),
      (6L, "other text entirely")
    ).toDF("doc_id", "text")
    val p = Files.createTempDirectory("graft-ti-pos").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 4)
    TextIndex.buildPositions(docs, "doc_id", "text", p)
    def run(ph: Seq[String]) = TextIndex.phraseSearch(spark, p, ph)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(run(Seq("hash", "join")) == Seq((1L, 2L), (5L, 1L)),
      "adjacency must exclude non-adjacent and reversed coincidence")
    // "window window" inside "window window window": overlapping
    // occurrences at p=0 and p=1 — the repeated token resolves both
    // offsets against the SAME positions array.
    assert(run(Seq("window", "window")) == Seq((2L, 2L)))
    assert(run(Seq("window", "window", "window")) == Seq((2L, 1L)))
    // single-token phrase degenerates to tf, ranked (n_occ DESC, doc).
    assert(run(Seq("hash")) == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
    assert(run(Seq("zz", "join")).isEmpty, "absent term: no candidates")
    // delete hides immediately (tombstone anti-join)…
    TextIndex.delete(spark, p, Seq(1L))
    assert(run(Seq("hash", "join")) == Seq((5L, 1L)))
    // …and compact reclaims the positional rows physically.
    TextIndex.compact(spark, p)
    assert(spark.read.parquet(s"$p/postings_pos")
      .filter(col("doc_id") === 1L).count() == 0L,
      "compact must reclaim tombstoned positional rows")
    assert(run(Seq("hash", "join")) == Seq((5L, 1L)),
      "post-compact phrase results must be unchanged")
  }

  test("phraseSearch fuzz: ≡ naive sliding-window counts on pseudo-random corpora") {
    // tiny vocabulary forces repeats, overlaps and coincidences; the
    // naive arm slides a window over the raw token list.
    val rng = new scala.util.Random(1234)
    val vocab = Vector("a", "b", "c", "d")
    val docs = (0L until 40L).map { id =>
      (id, Seq.fill(3 + rng.nextInt(12))(vocab(rng.nextInt(4)))
        .mkString(" "))
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val p = Files.createTempDirectory("graft-ti-fuzz").toString
    val df = docs.toDF("doc_id", "text")
    TextIndex.build(df, "doc_id", "text", p, nBuckets = 4)
    TextIndex.buildPositions(df, "doc_id", "text", p)
    for (_ <- 0 until 25) {
      val phrase = Seq.fill(1 + rng.nextInt(3))(vocab(rng.nextInt(4)))
      val want = toks.flatMap { case (id, ts) =>
        val n = ts.sliding(phrase.length)
          .count(w => w.length == phrase.length && w == phrase)
        if (n > 0) Some((id, n.toLong)) else None
      }.toSeq.sortBy { case (id, n) => (-n, id) }
      val got = TextIndex.phraseSearch(spark, p, phrase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, s"phrase $phrase:\n got: $got\nwant: $want")
    }
  }

  test("appendPositions ≡ one-shot buildPositions; phrase plan prunes buckets, joins nothing") {
    val docs = Tables.documents(spark, sf)
    val phrase = Seq("hash", "join")
    def run(p: String) = TextIndex.phraseSearch(spark, p, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pOne = Files.createTempDirectory("graft-ti-pos1").toString
    TextIndex.build(docs, "doc_id", "text", pOne, nBuckets = 16)
    TextIndex.buildPositions(docs, "doc_id", "text", pOne)
    val pInc = Files.createTempDirectory("graft-ti-pos2").toString
    val cut = 400L
    TextIndex.build(docs.filter(col("doc_id") < cut), "doc_id", "text",
      pInc, nBuckets = 16)
    TextIndex.buildPositions(docs.filter(col("doc_id") < cut), "doc_id",
      "text", pInc)
    TextIndex.append(docs.filter(col("doc_id") >= cut), "doc_id", "text",
      pInc)
    TextIndex.appendPositions(docs.filter(col("doc_id") >= cut),
      "doc_id", "text", pInc)
    assert(run(pInc) == run(pOne),
      "incremental positional maintenance must equal the one-shot build")
    val plan = TextIndex.phraseSearch(spark, pOne, phrase)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(400))
    assert("bucket#\\d+ IN|bucket#\\d+ =".r.findFirstIn(plan).isDefined,
      "expected a bucket partition filter in:\n" + plan.take(800))
    // the ONLY join is the rarest-term gate's broadcast semi-join;
    // matching itself stays one doc-keyed aggregate — no shuffle join,
    // no window.
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "a multi-term phrase read must be gated on the rarest term's " +
        s"doc set:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"),
      "phrase matching is one doc-keyed aggregate over the gated " +
        s"positional read:\n${plan.take(800)}")
  }

  test("gate safety valve: min-df above gateMaxDf runs ungated (no broadcast), result identical") {
    val docs = Tables.documents(spark, sf)
    val phrase = Seq("hash", "join")
    val p = Files.createTempDirectory("graft-ti-ungated").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    TextIndex.buildPositions(docs, "doc_id", "text", p)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gated = TextIndex.phraseSearch(spark, p, phrase)
    val ungated = TextIndex.phraseSearch(spark, p, phrase, gateMaxDf = 0L)
    assert(rows(ungated) == rows(gated),
      "the gate is a read-bound optimization, never a semantic switch")
    // an all-stopword phrase must not broadcast a corpus-scale doc set:
    // the fallback plans NO join at all — just the pruned scan and the
    // doc-keyed aggregate.
    val plan = ungated.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("Join"),
      s"ungated phrase read must plan no join:\n${plan.take(800)}")
    assert(plan.contains("PartitionFilters"),
      s"bucket pruning must survive the fallback:\n${plan.take(400)}")
  }

  test("appendBatch(withPositions): both tiers commit atomically under one marker across the crash matrix") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.SaveMode
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 200)
    val phrase = Seq("hash", "join")
    def phr(p: String) = TextIndex.phraseSearch(spark, p, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def top(p: String) = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pRef = Files.createTempDirectory("graft-ti-wpref").toString
    TextIndex.build(docs, "doc_id", "text", pRef, nBuckets = 16)
    TextIndex.buildPositions(docs, "doc_id", "text", pRef)
    val p = Files.createTempDirectory("graft-ti-wp").toString
    val fs = Commit.fs(spark, p)
    // batch 0 creates BOTH tiers; meta lands last, so a crash between
    // them replays as a clean rebuild — simulate by pre-writing the
    // postings half only (no meta) and replaying.
    val b0 = docs.filter(col("doc_id") < 80)
    TextIndex.writeParts(b0, "doc_id", "text", p, 16, SaveMode.Overwrite)
    TextIndex.appendBatch(b0, "doc_id", "text", p, 16, batchId = 0L,
      withPositions = true)
    // batch 1 — crash AFTER the dual-tier stage, BEFORE any publish.
    val b1 = docs.filter(col("doc_id") >= 80 && col("doc_id") < 140)
    val stg1 = s"$p/staging/a1"
    TextIndex.writeParts(b1, "doc_id", "text", stg1, 16, SaveMode.Overwrite)
    TextIndex.writePositions(b1, "doc_id", "text", stg1, 16,
      SaveMode.Overwrite)
    Commit.touch(fs, new Path(s"$stg1/STAGED"))
    TextIndex.appendBatch(b1, "doc_id", "text", p, 16, batchId = 1L,
      withPositions = true)
    // batch 2 — crash MID-publish with one POSITIONAL file already
    // moved: the resumed publish must complete both tiers exactly once.
    val b2 = docs.filter(col("doc_id") >= 140 && col("doc_id") < 170)
    val stg2 = s"$p/staging/a2"
    TextIndex.writeParts(b2, "doc_id", "text", stg2, 16, SaveMode.Overwrite)
    TextIndex.writePositions(b2, "doc_id", "text", stg2, 16,
      SaveMode.Overwrite)
    Commit.touch(fs, new Path(s"$stg2/STAGED"))
    val it = fs.listFiles(new Path(s"$stg2/postings_pos"), true)
    var moved = false
    while (it.hasNext && !moved) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet")) {
        val rel = fs.makeQualified(f).toString
          .stripPrefix(fs.makeQualified(new Path(stg2)).toString)
          .stripPrefix("/")
        val destDir = new Path(s"$p/${rel.take(rel.lastIndexOf('/'))}")
        fs.mkdirs(destDir)
        assert(fs.rename(f, new Path(destDir, s"a2-${f.getName}")))
        moved = true
      }
    }
    assert(moved, "fixture must simulate a half-done positional publish")
    TextIndex.appendBatch(b2, "doc_id", "text", p, 16, batchId = 2L,
      withPositions = true)
    // batch 3 — cross-batch duplicate docs: the doclens anti-join must
    // gate BOTH tiers (a dup doc appending positions again would give
    // phraseSearch duplicate map keys).
    val b3 = docs.filter(col("doc_id") >= 150) // overlaps b2 by 20 docs
    TextIndex.appendBatch(b3, "doc_id", "text", p, 16, batchId = 3L,
      withPositions = true)
    // replay of a fully-published batch: wholesale skip.
    TextIndex.appendBatch(b3, "doc_id", "text", p, 16, batchId = 3L,
      withPositions = true)
    assert(spark.read.parquet(s"$p/postings_pos")
      .groupBy(col("term"), col("doc_id")).count()
      .filter(col("count") > 1).count() == 0L,
      "no (term, doc) may ever appear twice in the positional tier")
    assert(top(p) == top(pRef),
      "every crash-replay path must reproduce the one-shot build")
    assert(phr(p) == phr(pRef),
      "…and the one-shot positional build, bit for bit")
  }

  test("compact crash window: the tier holds no reclaimed doc even before its rebuild lands") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 100)
    val p = Files.createTempDirectory("graft-ti-tierwin").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    TextIndex.buildTopTier(spark, p, topN = 2000)
    val dead = TextIndex.searchTop(spark, p, query, k = 2)
      .collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, p, dead)
    // Replay compact's steps (3c) + (4) and CRASH before the tier
    // rebuild (5): the tier was reclaimed against the tombstones
    // BEFORE they cleared, so searchTop must not serve a deleted doc
    // even though no tombstone is left to mask it (the r18 ADVICE
    // hole: rebuilding only at (5) left this window serving them).
    IvfIndex.compactLayout(spark, p, "postings_top",
      TextIndex.PostingsTopSchema, "doc_id",
      partCol = "bucket", clearTombstones = false)
    IvfIndex.compactLayout(spark, p, "postings", TextIndex.PostingsSchema,
      "doc_id", partCol = "bucket")
    assert(!Commit.fs(spark, p)
      .exists(new org.apache.hadoop.fs.Path(s"$p/tombstones")),
      "fixture: tombstones must be cleared to open the window")
    val got = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty && dead.forall(d => !got.contains(d)),
      s"a reclaimed doc resurfaced from the un-rebuilt tier: $got")
    // the next compact completes the rebuild and restores exactness.
    TextIndex.compact(spark, p)
    val want = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val after = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(after == want)
  }

  test("compact of a fully-deleted index tears the tier down instead of throwing") {
    val docs = Seq((1L, "one two"), (2L, "two three"), (3L, "three one"))
      .toDF("doc_id", "text")
    val p = Files.createTempDirectory("graft-ti-alldead").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 4)
    TextIndex.buildTopTier(spark, p, topN = 8)
    TextIndex.buildPositions(docs, "doc_id", "text", p)
    TextIndex.delete(spark, p, Seq(1L, 2L, 3L))
    TextIndex.compact(spark, p) // r18 ADVICE: this threw in buildTopTier
    val fs = Commit.fs(spark, p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/postings_top")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$p/top_meta")),
      "an empty corpus must not keep a serving tier")
    assert(TextIndex.search(spark, p, Seq("two"), k = 5).count() == 0L)
    assert(TextIndex.searchTop(spark, p, Seq("two"), k = 5).count() == 0L)
    assert(TextIndex.phraseSearch(spark, p, Seq("one", "two")).count() == 0L,
      "phraseSearch must answer empty without touching the reclaimed layout")
    // an emptied index stays MAINTAINABLE: the reclaimed layout dirs
    // are schema-less (no parquet files), and a re-compact must skip
    // them instead of failing schema inference off _SUCCESS droppings…
    TextIndex.compact(spark, p)
    // …and fresh appends bring the index back to life.
    TextIndex.append(Seq((4L, "two four")).toDF("doc_id", "text"),
      "doc_id", "text", p)
    assert(TextIndex.search(spark, p, Seq("two"), k = 5)
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
  }

  test("appendBatch(withPositions) fails loud when the tier wasn't started at batch 0") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 60)
    val p = Files.createTempDirectory("graft-ti-midpos").toString
    TextIndex.appendBatch(docs.filter(col("doc_id") < 30), "doc_id",
      "text", p, 8, batchId = 0L) // tier NOT started
    val e = intercept[IllegalArgumentException] {
      TextIndex.appendBatch(docs.filter(col("doc_id") >= 30), "doc_id",
        "text", p, 8, batchId = 1L, withPositions = true)
    }
    assert(e.getMessage.contains("positional tier"),
      "mid-stream withPositions over a tierless index would silently " +
        s"under-report phrases — must fail loud, got: ${e.getMessage}")
  }

  test("deleteBatch × compact interleave: ordered publish can never double-subtract the stats") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 120)
    val p = Files.createTempDirectory("graft-ti-interleave").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    val n0 = TextIndex.metaAndLiveStats(spark, p)._2
    def top(path: String) = TextIndex.search(spark, path, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val dead = top(p).take(2).map(_._1)
    // Stage a delete batch by hand and simulate a crash mid-publish at
    // the point the ORDERED publish allows: the stats CORRECTION moved,
    // the tombstones still staged. (The reverse state — tombstones
    // published, correction staged — is unreachable post-fix.)
    val fs = Commit.fs(spark, p)
    val doclens = spark.read.parquet(s"$p/doclens")
    val c = doclens.filter(col("doc_id").isin(dead: _*))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("dl")), lit(0L)).as("s")).head()
    dead.toDF("id").coalesce(1).write
      .parquet(s"$p/staging/d5/tombstones")
    Seq((c.getLong(0), c.getAs[Long]("s")))
      .toDF("n_docs", "sum_dl").coalesce(1)
      .write.parquet(s"$p/staging/d5/tombstone_stats")
    Commit.touch(fs, new Path(s"$p/staging/d5/STAGED"))
    val itc = fs.listFiles(new Path(s"$p/staging/d5/tombstone_stats"), true)
    var moved = false
    while (itc.hasNext && !moved) {
      val f = itc.next().getPath
      if (f.getName.endsWith(".parquet")) {
        fs.mkdirs(new Path(s"$p/tombstone_stats"))
        assert(fs.rename(f,
          new Path(s"$p/tombstone_stats/d5-${f.getName}")))
        moved = true
      }
    }
    assert(moved)
    // window state: correction published without its tombstones —
    // transiently stale-LOW, the benign direction…
    assert(TextIndex.metaAndLiveStats(spark, p)._2 == n0 - dead.length)
    // …and a compact INSIDE the window deletes the orphaned correction
    // while the (un-tombstoned) docs stay counted: exact stats.
    TextIndex.compact(spark, p)
    assert(TextIndex.metaAndLiveStats(spark, p)._2 == n0,
      "compact inside the window must land on exact stats")
    // the replay resumes the publish: docs tombstoned, correction gone
    // — stale-HIGH (the documented lag), NEVER double-subtracted.
    TextIndex.deleteBatch(dead.toDF("doc_id"), "doc_id", p, batchId = 5L)
    assert(top(p).forall(r => !dead.contains(r._1)),
      "resumed delete must hide the docs")
    assert(TextIndex.metaAndLiveStats(spark, p)._2 == n0,
      s"stats must be stale-high here, not double-subtracted to ${n0 - 2 * dead.length}")
    // the next compact heals the lag to exactly a rebuild-without.
    TextIndex.compact(spark, p)
    assert(TextIndex.metaAndLiveStats(spark, p)._2 == n0 - dead.length)
    val pWo = Files.createTempDirectory("graft-ti-interwo").toString
    TextIndex.build(docs.filter(!col("doc_id").isin(dead: _*)),
      "doc_id", "text", pWo, nBuckets = 16)
    assert(top(p) == top(pWo),
      "post-compact scores must equal a rebuild without the docs")
  }

  test("a streamed corpus's tier: stale within contract across appendBatches, exact again after compact") {
    val docs = Tables.documents(spark, sf).filter(col("doc_id") < 150)
    val p = Files.createTempDirectory("graft-ti-tierstream").toString
    TextIndex.appendBatch(docs.filter(col("doc_id") < 60), "doc_id",
      "text", p, 16, batchId = 0L)
    TextIndex.buildTopTier(spark, p, topN = 2000)
    TextIndex.appendBatch(
      docs.filter(col("doc_id") >= 60 && col("doc_id") < 110),
      "doc_id", "text", p, 16, batchId = 1L)
    TextIndex.appendBatch(docs.filter(col("doc_id") >= 110), "doc_id",
      "text", p, 16, batchId = 2L)
    // the tier is a SNAPSHOT: streamed appends leave it stale (docs
    // 60–149 absent) — the documented contract, refreshed on compact.
    val stale = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(stale.forall(_ < 60L),
      s"pre-compact the tier serves its snapshot only: $stale")
    TextIndex.compact(spark, p)
    val got = TextIndex.searchTop(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = TextIndex.search(spark, p, query, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want,
      "post-compact the streamed corpus's tier must be exact (df ≤ topN)")
  }

  test("phraseSearch rarest-term gate: exact where the gate bites, positional read bounded by min-df") {
    // 60 docs all containing the hot term; only two contain the rare
    // one — the gate must bound the positional read by df(rare) = 2
    // docs' rows, and the results must be exactly the ungated answer.
    val docs = ((1L to 58L).map(i => (i, s"the filler number$i end")) ++
      Seq((59L, "the quorum holds the quorum"), (60L, "quorum the")))
      .toDF("doc_id", "text")
    val p = Files.createTempDirectory("graft-ti-gate").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 8)
    TextIndex.buildPositions(docs, "doc_id", "text", p)
    def run(ph: Seq[String]) = TextIndex.phraseSearch(spark, p, ph)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // rare term SECOND in the phrase: the gate picks it by df, not by
    // position.
    assert(run(Seq("the", "quorum")) == Seq((59L, 2L)))
    assert(run(Seq("quorum", "the")) == Seq((60L, 1L)))
    assert(run(Seq("the", "absent")).isEmpty,
      "an absent term gates the whole read down to nothing")
    // the gate is sound under deletes too (tombstones anti-joined on
    // BOTH legs).
    TextIndex.delete(spark, p, Seq(59L))
    assert(run(Seq("the", "quorum")).isEmpty)
  }

  test("searchTopBatch ≡ per-query solo searchTop bit for bit; one plan, tier-bounded read") {
    val p = Files.createTempDirectory("graft-ti-tierbatch").toString
    TextIndex.build(Tables.documents(spark, sf), "doc_id", "text", p,
      nBuckets = 16)
    // topN small enough to BITE on every common term — the batch face
    // must agree with solo searchTop exactly where the tier's
    // under-recall contract is in force, not only in the exact regime.
    TextIndex.buildTopTier(spark, p, topN = 3)
    val batch = Seq(1L -> Seq("table", "scan"), 2L -> Seq("query"),
      3L -> Seq("scan", "zz", "query"))
    val df = TextIndex.searchTopBatch(spark, p, batch, k = 7)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val want = batch.flatMap { case (qid, terms) =>
      TextIndex.searchTop(spark, p, terms, k = 7)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getDouble(1)) }
    }
    assert(got == want, s"\n got: $got\nwant: $want")
    // exact regime: rebuild the tier deep enough for every batch
    // term's full list — the batch face then equals the exact batch.
    TextIndex.buildTopTier(spark, p, topN = 2000)
    val exact = TextIndex.searchBatch(spark, p, batch, k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val tiered = TextIndex.searchTopBatch(spark, p, batch, k = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(tiered == exact,
      "df ≤ topN must make the tier's batch face ≡ the exact batch")
    // driver-finished like searchBatch; the past-cap plan pins sit in
    // the driver-finish cap test.
    assert(df.queryExecution.executedPlan.toString.contains("CommandResult"),
      "the tier batch's candidates fit: its queries score on the driver")
  }

  test("a solo search on an appended, tombstoned index runs at most 3 jobs, exactly") {
    val docs = Tables.documents(spark, sf)
    val p = Files.createTempDirectory("graft-ti-jobs").toString
    TextIndex.build(docs.filter(col("doc_id") < 400), "doc_id", "text", p,
      nBuckets = 16)
    TextIndex.append(docs.filter(col("doc_id") >= 400), "doc_id", "text", p)
    val dead = TextIndex.search(spark, p, query, k = 2)
      .collect().map(_.getLong(0)).toSeq
    TextIndex.delete(spark, p, dead)
    TextIndex.buildTopTier(spark, p, topN = 2000)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the stats scan, the tombstone broadcast, the candidate probe
    val (got, jobs) = graft.JobCount(spark)(rows(TextIndex.search(spark, p, query, k = 10)))
    assert(jobs <= 3, s"solo search ran $jobs jobs")
    val (top, topJobs) =
      graft.JobCount(spark)(rows(TextIndex.searchTop(spark, p, query, k = 10)))
    assert(topJobs <= 3, s"solo searchTop ran $topJobs jobs")
    val want = rows(Bm25.score(docs.filter(!col("doc_id").isin(dead: _*)),
        "doc_id", "text", query)
      .orderBy(col("score").desc, col("doc_id")).limit(10))
    assert(got.nonEmpty && got == want, s"\n got: $got\nwant: $want")
    assert(top == want, "df ≤ topN: the tier face must match too")
    // the batch faces: the same 3 jobs for the union of the batch's
    // terms, and per query the solo face's rows.
    val batch = Seq(1L -> query, 2L -> query.reverse.take(2))
    def batchRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    def perQuery(face: Seq[String] => org.apache.spark.sql.DataFrame) =
      batch.flatMap { case (qid, ts) =>
        rows(face(ts)).zipWithIndex.map { case ((id, s), i) => (qid, i + 1L, id, s) }
      }
    val (gotBatch, batchJobs) = graft.JobCount(spark)(
      batchRows(TextIndex.searchBatch(spark, p, batch, k = 10)))
    assert(batchJobs <= 3, s"searchBatch ran $batchJobs jobs")
    assert(gotBatch.nonEmpty &&
      gotBatch == perQuery(TextIndex.search(spark, p, _, k = 10)))
    val (gotTopBatch, topBatchJobs) = graft.JobCount(spark)(
      batchRows(TextIndex.searchTopBatch(spark, p, batch, k = 10)))
    assert(topBatchJobs <= 3, s"searchTopBatch ran $topBatchJobs jobs")
    assert(gotTopBatch == perQuery(TextIndex.searchTop(spark, p, _, k = 10)))
  }

  // 8 query terms in every doc: 8 candidate rows per doc, so n docs
  // give 8n rows. tf and length vary per doc, so scores spread; they
  // depend on doc_id mod 12 only, so every score is shared by a run of
  // about n / 12 docs.
  private val capTerms = (0 until 8).map(j => s"t$j")
  private def capCorpus(n: Int) = (0 until n).map { i =>
    val words = capTerms.zipWithIndex.flatMap { case (t, j) =>
      Seq.fill(1 + (i * (j + 1)) % 3)(t)
    } ++ Seq.fill(i % 4)(s"f${i % 7}")
    (i.toLong, words.mkString(" "))
  }.toDF("doc_id", "text")

  /** Every physical node of a frame's plan, through a driver-held
    * result's source plan, adaptive plans and query stages.
    */
  private def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    def all(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case c: CommandResultExec => all(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => all(a.executedPlan)
      case q: QueryStageExec => all(q.plan)
      case _ => p.children.flatMap(all)
    })
    all(df.queryExecution.executedPlan)
  }

  /** Past the cap a face's plan is one bucket-pruned `postings` scan
    * under exactly one doc-keyed exchange, and nothing that aggregates,
    * ranks, joins by sort, sorts or unions.
    */
  private def assertPartitionedFinish(df: org.apache.spark.sql.DataFrame,
      what: String): Unit = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = planNodes(df)
    val plan = df.queryExecution.executedPlan.toString
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1 &&
      shuffles.head.outputPartitioning.toString.startsWith("hashpartitioning(doc_id"),
      s"$what: one doc-keyed exchange expected in:\n${plan.take(1200)}")
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    assert(scans.length == 1 &&
      scans.head.relation.location.rootPaths.forall(_.getName == "postings") &&
      scans.head.metadata.getOrElse("PartitionFilters", "").contains("bucket"),
      s"$what: one bucket-pruned postings scan expected in:\n${plan.take(1200)}")
    val names = nodes.map(_.nodeName)
    Seq("Window", "Aggregate", "SortMergeJoin", "TakeOrderedAndProject",
        "Union").foreach { n =>
      assert(!names.exists(_.contains(n)), s"$what: no $n expected in:\n${plan.take(1200)}")
    }
  }

  test("both sides of the driver-finish cap score bit for bit like Bm25.score") {
    val terms = capTerms
    // 8 × 64 rows sit far under the cap whatever the file count; past
    // it, no task can hold its share. 8 × cap/64 rows fit, but nine
    // queries over all 8 terms score nine times that many: the batch
    // takes the doc-partitioned finish while the solo face stays on the
    // driver.
    val cap = TextIndex.DriverFinishRows
    val pair = Seq(1L -> terms, 2L -> terms.take(3).reverse)
    val nine = (0 until 9).map(i => (i + 1L) -> (terms.drop(i % 8) ++ terms.take(i % 8)))
    Seq((64, true, pair, true), (cap / 64, true, nine, false),
        (cap / 8 + 1, false, pair, false)).foreach {
      case (n, onDriver, batch, batchOnDriver) =>
      val docs = capCorpus(n)
      val p = Files.createTempDirectory("graft-ti-cap").toString
      TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
      val df = TextIndex.search(spark, p, terms, k = 25)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("CommandResult") &&
          plan.contains("hashpartitioning(doc_id") != onDriver,
        s"$n docs (${8 * n} rows vs cap $cap): driver finish expected " +
          s"$onDriver in:\n${plan.take(600)}")
      assert(plan.contains("PartitionFilters"), plan.take(600))
      if (!onDriver) assertPartitionedFinish(df, s"$n docs, solo")
      val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = Bm25.score(docs, "doc_id", "text", terms)
        .orderBy(col("score").desc, col("doc_id")).limit(25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"$n docs:\n got: $got\nwant: $want")
      // the batch face, ≡ per-query solo search on either side.
      val bdf = TextIndex.searchBatch(spark, p, batch, k = 25)
      val bplanStr = bdf.queryExecution.executedPlan.toString
      assert(bplanStr.contains("CommandResult") &&
          bplanStr.contains("hashpartitioning(doc_id") != batchOnDriver,
        s"$n docs, ${batch.length} queries: driver finish expected " +
          s"$batchOnDriver in:\n${bplanStr.take(600)}")
      // past the cap: ONE bucket-pruned read and ONE doc-keyed exchange
      // for the whole batch, each query scored per doc partition — never
      // Q unioned per-query plans, an aggregate or a rank window.
      if (!batchOnDriver) assertPartitionedFinish(bdf, s"$n docs, batch")
      val gotBatch = bdf.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val wantBatch = batch.flatMap { case (qid, ts) =>
        TextIndex.search(spark, p, ts, k = 25).collect().zipWithIndex
          .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getDouble(1)) }
      }
      assert(gotBatch.nonEmpty && gotBatch == wantBatch,
        s"$n docs, batch:\n got: $gotBatch\nwant: $wantBatch")
    }
  }

  /** The cap test's past-cap corpus, cap/8 + 1 docs, indexed with two
    * docs tombstoned — one from the top score run — and the live docs.
    */
  private lazy val pastCap = {
    val docs = capCorpus(TextIndex.DriverFinishRows / 8 + 1)
    val p = Files.createTempDirectory("graft-ti-pastcap").toString
    TextIndex.build(docs, "doc_id", "text", p, nBuckets = 16)
    val dead = Seq(TextIndex.search(spark, p, capTerms, k = 1)
      .collect().head.getLong(0), 7L)
    TextIndex.delete(spark, p, dead)
    (p, docs.filter(!col("doc_id").isin(dead: _*)))
  }

  test("past the cap a tombstoned search and searchBatch run at most 4 jobs, scoring like Bm25.score") {
    val (p, live) = pastCap
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (got, jobs) = graft.JobCount(spark)(rows(TextIndex.search(spark, p, capTerms, k = 25)))
    // the stats scan, the tombstone broadcast and the candidate probe,
    // then ONE job for the doc_id exchange and the per-partition scoring:
    // the exchange reads the probe's plan, so the broadcast runs once.
    info(s"past-cap solo search: $jobs jobs")
    assert(jobs <= 4, s"past-cap solo search ran $jobs jobs")
    val want = rows(Bm25.score(live, "doc_id", "text", capTerms)
      .orderBy(col("score").desc, col("doc_id")).limit(25))
    assert(got.nonEmpty && got == want, s"\n got: $got\nwant: $want")
    val batch = Seq(1L -> capTerms, 2L -> capTerms.take(3).reverse)
    val (gotBatch, batchJobs) = graft.JobCount(spark)(
      TextIndex.searchBatch(spark, p, batch, k = 25).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq)
    info(s"past-cap 2-query searchBatch: $batchJobs jobs")
    assert(batchJobs <= 4, s"past-cap searchBatch ran $batchJobs jobs")
    val wantBatch = batch.flatMap { case (qid, ts) =>
      rows(Bm25.score(live, "doc_id", "text", ts)
        .orderBy(col("score").desc, col("doc_id")).limit(25))
        .zipWithIndex.map { case ((id, s), i) => (qid, i + 1L, id, s) }
    }
    assert(gotBatch == wantBatch, s"\n got: $gotBatch\nwant: $wantBatch")
  }

  test("past the cap the rows do not depend on the shuffle partition count") {
    val (p, _) = pastCap
    val k = 25
    // the top score is shared by a run of docs far longer than k, so
    // rank k and k + 1 tie and the doc_id tie-break decides the cut
    // across partitions.
    val scores = TextIndex.search(spark, p, capTerms, k = k + 1).collect()
      .map(_.getDouble(1))
    assert(scores(k - 1) == scores(k), scores.toSeq)
    val batch = Seq(1L -> capTerms, 2L -> capTerms.take(3).reverse)
    val width = "hashpartitioning\\(doc_id#\\d+L?, (\\d+)\\)".r
    def run(w: String) = {
      val solo = TextIndex.search(spark, p, capTerms, k)
      val plan = solo.queryExecution.executedPlan.toString
      assert(width.findFirstMatchIn(plan).map(_.group(1)).contains(w),
        s"a doc-keyed exchange $w wide expected in:\n${plan.take(1200)}")
      (solo.collect().toSeq, TextIndex.searchBatch(spark, p, batch, k).collect().toSeq)
    }
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.getOption(key)
    try {
      val byWidth = Seq("1", "3", spark.conf.get(key)).map { w =>
        spark.conf.set(key, w)
        w -> run(w)
      }
      byWidth.tail.foreach { case (w, got) =>
        assert(got == byWidth.head._2, s"$key=$w differs from ${byWidth.head._1}")
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every TextIndex search face requires k >= 1") {
    Seq(0, -1).foreach { k =>
      val solo = intercept[IllegalArgumentException](
        TextIndex.search(spark, path, query, k))
      assert(solo.getMessage.contains(s"k must be >= 1, got $k"))
      intercept[IllegalArgumentException](
        TextIndex.searchTop(spark, path, query, k))
      intercept[IllegalArgumentException](
        TextIndex.searchBatch(spark, path, Seq(1L -> query), k))
      intercept[IllegalArgumentException](
        TextIndex.searchTopBatch(spark, path, Seq(1L -> query), k))
    }
  }
}
