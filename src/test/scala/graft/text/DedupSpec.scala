package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSession

class DedupSpec extends AnyFunSuite {
  import TestSession.spark
  import spark.implicits._

  private val base = "spark table scan query join filter agg window sort merge"
  private val docs = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base + " extra tail words here"), // near dup of 1/2
    (4L, "completely different content about streams and state stores" +
      " with watermarks and timeouts everywhere"),
    (5L, base)) // exact dup of 1
    .toDF("doc_id", "text")
  // Edges in a chain long enough that dupComponents runs its distributed
  // rounds: above the 2^16-edge driver-finish constant.
  private val longChain = (1L << 16) + 4096

  test("bloomNovelty: every true duplicate is flagged, novels mostly pass") {
    import org.apache.spark.sql.functions.col
    val corpus = (0 until 200).map(i => (i.toLong, s"corpus document number $i"))
      .toDF("doc_id", "text")
    val incoming = ((0 until 50).map(i => (1000L + i, s"corpus document number $i")) ++
      (0 until 100).map(i => (2000L + i, s"brand new never seen text $i")))
      .toDF("doc_id", "text")
    val out = Dedup.bloomNovelty(corpus, incoming, "text",
      expectedItems = 200, fpp = 0.01).cache()
    // No false negatives is the Bloom INVARIANT, not a probability.
    assert(out.filter(col("doc_id") >= 1000 && col("doc_id") < 2000)
      .filter(!col("maybe_dup")).count() == 0)
    val novelPassed = out.filter(col("doc_id") >= 2000)
      .filter(!col("maybe_dup")).count()
    assert(novelPassed >= 90, s"false-positive storm: only $novelPassed/100 novel passed")
    // Spark's BloomFilter hashes with a fixed seed: runs are deterministic.
    val again = Dedup.bloomNovelty(corpus, incoming, "text", 200, 0.01)
      .filter(!col("maybe_dup")).count()
    assert(again == novelPassed)
    out.unpersist()
  }

  test("prefixFilterJaccardPairs equals the naive full-posting join") {
    import org.apache.spark.sql.functions.col
    // A corpus with overlap structure at several levels: clusters of
    // near-identical docs, partial overlaps, and disjoint docs — plus
    // heavy shared boilerplate so rare-first prefix ordering matters.
    val corpus = ((0 until 30).map { i =>
      (i.toLong, s"shared boilerplate header text body word$i word${i % 7} " +
        s"word${i % 3} tail piece number ${i / 10}")
    } ++ Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta mu nu xi omicron pi theta"),
      (101L, "alpha beta gamma delta epsilon zeta eta mu nu xi omicron pi iota"),
      (102L, "alpha beta gamma delta epsilon unrelated totally different"),
      (103L, "nothing in common with anyone else at all whatsoever")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.4, 0.6, 0.8)) {
      val naive = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      val pref = Dedup.prefixFilterJaccardPairs(corpus, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(pref == naive,
        s"t=$t: prefix ${pref.size} vs naive ${naive.size}; " +
          s"diff=${(pref diff naive) ++ (naive diff pref)}")
      assert(naive.nonEmpty, s"t=$t fixture must produce pairs to pin anything")
    }
    // Edge: t = 1.0 ⇒ prefix length exactly 1 (the rarest shingle) —
    // still complete for exact-duplicate sets.
    val dupes = Seq((1L, base), (2L, base), (3L, "other words entirely x y z"))
      .toDF("doc_id", "text")
    val exact = Dedup.prefixFilterJaccardPairs(dupes, "doc_id", "text", 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L)))
  }

  test("dropExactDuplicates keeps the smallest id per identical text") {
    val kept = Dedup.dropExactDuplicates(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 3L, 4L))
  }

  test("nearDupPairs finds exact and near duplicates with jaccard") {
    val pairs = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)))
    assert(pairs.contains((1L, 3L)), s"near dup 1-3 missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // exact dups have jaccard 1.0
    val j12 = Dedup.nearDupPairs(docs, "doc_id", "text", 0.5)
      .filter("a_id = 1 AND b_id = 2").head().getDouble(2)
    assert(j12 == 1.0)
  }

  test("ngramJaccardPairs: exact Jaccard, superset of the LSH pipeline") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // Hand-checked values: 1/2/5 identical (J=1); doc 3 = base + 4 extra
    // tokens → base has 8 3-shingles, doc3 has 12, all 8 shared minus the
    // boundary: shingles of doc3 include base's 8 plus 4 new ⇒ J = 8/12.
    assert(exact((1L, 2L)) == 1.0 && exact((1L, 5L)) == 1.0 && exact((2L, 5L)) == 1.0)
    assert(exact.contains((1L, 3L)) &&
      math.abs(exact((1L, 3L)) - 8.0 / 12.0) < 1e-12, s"got ${exact.get((1L, 3L))}")
    assert(!exact.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // Completeness: LSH candidates at the same threshold must be a subset
    // (banding can only MISS pairs relative to the inverted index).
    val lsh = Dedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact.keySet), s"LSH found a pair the exact index lost")
  }

  test("ngramJaccardPairs maxDf cap only lowers Jaccard, never raises it") {
    // doc 6 shares doc 3's "extra tail" run (those shingles have df=2);
    // the base shingles appear in 5 docs, so maxDf=2 drops them — pairs
    // carried only by the base text vanish, the 3↔6 overlap survives at
    // a REDUCED Jaccard (base contribution gone, sizes still full).
    val docs2 = docs.unionByName(
      Seq((6L, base + " extra tail words here and then some"))
        .toDF("doc_id", "text"))
    val capped = Dedup.ngramJaccardPairs(docs2, "doc_id", "text",
      threshold = 0.0, maxDf = 2)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = Dedup.ngramJaccardPairs(docs2, "doc_id", "text",
      threshold = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet.subsetOf(uncapped.keySet))
    capped.foreach { case (k, j) => assert(j <= uncapped(k) + 1e-12,
      s"cap raised Jaccard for $k: $j > ${uncapped(k)}") }
    assert(!capped.contains((1L, 2L)), "df-capped postings must drop the all-shared pair")
    // 3↔6 share 4 df=2 shingles; |3|=12, |6|=15 → capped J = 4/23,
    // uncapped J = 12/15 (8 base + 4 tail shared).
    assert(math.abs(capped((3L, 6L)) - 4.0 / 23.0) < 1e-12)
    assert(math.abs(uncapped((3L, 6L)) - 12.0 / 15.0) < 1e-12)
  }

  test("crossNearDupPairs: identical cross docs always found, pairs honest vs brute force") {
    import org.apache.spark.sql.functions.col
    val train = docs // ids 1..5
    val eval = Seq(
      (100L, base), // identical to train 1/2/5
      (101L, base + " extra tail words here"), // identical to train 3
      (102L, "entirely unrelated evaluation question about gradients"))
      .toDF("doc_id", "text")
    val got = Dedup.crossNearDupPairs(train, eval, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // An identical doc agrees on EVERY band minhash — candidate
    // generation cannot miss it (LSH completeness for jaccard 1.0).
    Seq(1L, 2L, 5L).foreach { id =>
      assert(got.get((id, 100L)).contains(1.0), s"missed identical pair ($id,100): $got")
    }
    assert(got.get((3L, 101L)).contains(1.0))
    // every reported pair is correct against brute-force exact Jaccard
    // (LSH may MISS sub-identical pairs, it must never over-report)
    val bySide = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tm = bySide(train); val em = bySide(eval)
    def jac(a: String, b: String): Double = {
      def sh(s: String) = s.split("\\s+").sliding(3).map(_.mkString(" ")).toSet
      val (x, y) = (sh(a), sh(b))
      x.intersect(y).size.toDouble / (x.size + y.size - x.intersect(y).size)
    }
    got.foreach { case ((a, b), j) =>
      assert(math.abs(j - jac(tm(a), em(b))) < 1e-12 && j >= 0.5,
        s"pair ($a,$b) score $j disagrees with brute force ${jac(tm(a), em(b))}")
    }
    // direction is fixed: a_id from the left (train) side only
    assert(got.keys.forall { case (a, b) => a < 100 && b >= 100 })
  }

  test("maxBucket skew guard drops degenerate band buckets") {
    // 40 near-identical docs share every band bucket: uncapped that is
    // 40·39/2 = 780 scored pairs; capped at 10, the degenerate buckets are
    // dropped entirely — the quadratic join never happens.
    val n = 40
    val degenerate = (1L to n.toLong)
      .map(i => (i, base + " tail"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.nearDupPairs(degenerate, "doc_id", "text", 0.0)
    assert(uncapped.count() == n.toLong * (n - 1) / 2)
    val capped = Dedup.nearDupPairs(degenerate, "doc_id", "text", 0.0,
      maxBucket = 10)
    assert(capped.count() == 0)
    // A healthy small bucket still passes under the cap.
    val mixed = degenerate.limit(3)
      .unionByName(Seq((100L, "totally different words about stream state"))
        .toDF("doc_id", "text"))
    val cappedMixed = Dedup.nearDupPairs(mixed, "doc_id", "text", 0.0,
      maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedMixed == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("dupComponents labels chains with the component minimum") {
    // Chain 1-5, 5-3 (component min 1) + separate pair 10-12; node 3 has
    // no smaller NEIGHBOR (5 > 3) — the case where greedy keep-first
    // would retain 3 but exact components must not.
    val pairs = Seq((1L, 5L), (5L, 3L), (3L, 5L), (10L, 12L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 5L -> 1L, 3L -> 1L, 10L -> 10L, 12L -> 10L))
  }

  test("dupComponents handles a long chain (diameter > 2)") {
    val chain = (1L to 9L).sliding(2).map(s => (s(1), s(0))).toSeq
    val got = Dedup.dupComponents(chain.toDF("a_id", "b_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 9L).map(_ -> 1L).toMap)
  }

  test("dupComponents reliable-checkpoint mode GCs previous rounds") {
    // Every frame the operator checkpoints (the canonical pairs, the
    // held-aside self-pairs, each round's edges) is a reliable
    // checkpoint. If the GC works, exactly one rdd-* checkpoint dir
    // survives the run (the final label frame's); the r6
    // getCheckpointFile bug left one per round. Run on both sides of
    // the driver-finish constant: a 9-node chain with a self-pair
    // finishes on the driver, a chain longer than the constant runs
    // the contraction rounds.
    for (n <- Seq(9L, longChain)) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.sparkContext.setCheckpointDir(tmp)
      val chain = (1L to n).sliding(2).map(s => (s(1), s(0))).toSeq :+ ((2L, 2L))
      val got = Dedup.dupComponents(chain.toDF("a_id", "b_id"),
        checkpointDir = Some(tmp)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == (1L to n).map(_ -> 1L).toMap)
      val ckptRoot = new java.io.File(
        new java.net.URI(spark.sparkContext.getCheckpointDir.get).getPath)
      val rddDirs = Option(ckptRoot.listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
      assert(rddDirs.length == 1,
        s"expected exactly the final round's checkpoint, got: ${rddDirs.map(_.getName).toSeq}")
    }
  }

  test("dupComponents labels a chain longer than 50 at the default maxIter") {
    // 60 edges: one round per unit of diameter would need 60 rounds.
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.dupComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 60L).map(_ -> 0L).toMap)
  }

  test("dupComponents above the driver-finish constant: a chain runs the rounds, cliques hand over") {
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // A chain's edge count never drops below its node count − 1, so it
    // contracts to one star in distributed rounds. Ids are scrambled
    // (i ↦ (7919 i + 12345) mod p is a permutation) so the min sits
    // mid-chain; a self-paired member and a self-pair-only node ride
    // along.
    val p = longChain + 1
    val ids = (0L until p).map(i => (i * 7919L + 12345L) % p)
    val chain = ids.sliding(2).map(s => (s(0), s(1))).toSeq ++
      Seq((ids(5), ids(5)), (p + 10, p + 10))
    assert(labels(Dedup.dupComponents(chain.toDF("a_id", "b_id"))) ==
      ids.map(_ -> 0L).toMap + ((p + 10) -> (p + 10)))
    // 600 disjoint 16-cliques: 72,000 edges enter the rounds, and the
    // first contraction leaves at most 15 per clique — the driver
    // finishes the rest.
    val cliques = for {
      c <- 0L until 600L; i <- 0L until 16L; j <- i + 1 until 16L
    } yield (c + 600 * j, c + 600 * i)
    assert(cliques.length > (1 << 16))
    assert(labels(Dedup.dupComponents(cliques.toDF("a_id", "b_id"))) ==
      (for (c <- 0L until 600L; i <- 0L until 16L) yield (c + 600 * i) -> c).toMap)
  }

  test("dropNearDuplicates keeps component minima") {
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(1L, 4L))
  }

  test("dropFrequentLines: cross-doc boilerplate drops, order holds, husks stay") {
    val header = "COOKIE BANNER accept all cookies"
    val footer = "copyright 2026 example corp"
    val multi = Seq(
      (1L, s"$header\nunique first body\n$footer"),
      (2L, s"$header\nunique second body\nsecond extra line\n$footer"),
      (3L, s"$header\n$footer"), // pure boilerplate → empty husk
      // within-doc repetition must NOT count toward df: this line
      // repeats 3 times in ONE doc (df = 1) and survives
      (4L, "repeated inside\nrepeated inside\nrepeated inside"))
      .toDF("doc_id", "text")
    val out = Dedup.dropFrequentLines(multi, "doc_id", "text", maxDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique first body",
      s"header/footer (df=3) must drop everywhere: ${out(1L)}")
    assert(out(2L) == "unique second body\nsecond extra line",
      "surviving lines must keep their original order")
    assert(out(3L) == "", "a fully-boilerplate doc keeps an empty husk")
    assert(out(4L) == "repeated inside\nrepeated inside\nrepeated inside",
      "within-doc repetition is df=1 and must survive")
    // raising the gate past the max df disables it
    val loose = Dedup.dropFrequentLines(multi, "doc_id", "text", maxDf = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(3L) == s"$header\n$footer")
  }

  test("dupComponents labels chains, cycles, and pairs with their minima") {
    // a 20-node chain (diameter 19) plus a 4-cycle and an isolated
    // pair (three separate components).
    val chain = (100L until 119L).map(i => (i, i + 1))
    val cycle = Seq((200L, 201L), (201L, 202L), (202L, 203L), (203L, 200L))
    val pair = Seq((300L, 301L))
    val edges = (chain ++ cycle ++ pair).toDF("a_id", "b_id")
    val got = Dedup.dupComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = (100L to 119L).map(_ -> 100L).toMap ++
      (200L to 203L).map(_ -> 200L) ++ Seq(300L -> 300L, 301L -> 300L)
    assert(got == want, s"labels diverge:\n$got\nvs\n$want")
    assert(got(119L) == 100L && got(203L) == 200L && got(301L) == 300L)
  }

  test("dupComponents labels self-pair-only nodes as singleton components") {
    // 500 appears ONLY in a self-pair (a = b) — a self-pair carries no
    // edge, so without its registration the node would vanish; 100 has
    // a self-pair AND a real edge — it must be labeled exactly once, by
    // its component min, not duplicated as a singleton.
    val edges = Seq((100L, 101L), (100L, 100L), (500L, 500L))
      .toDF("a_id", "b_id")
    val got = Dedup.dupComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((100L, 100L), (101L, 100L), (500L, 500L)))
  }

  test("dupComponents fails loudly when maxIter truncates the contraction") {
    // above the driver-finish constant, so the rounds must converge
    val chain = (0L until longChain).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val e = intercept[IllegalArgumentException] {
      Dedup.dupComponents(chain, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dupComponentsIncremental ≡ full recompute: delta merges components, history never re-read") {
    import org.apache.spark.sql.functions.col
    // base: two chains {1-2-3} and {10-11}, a singleton 20 (self-pair)
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("a_id", "b_id")
    val labels = Dedup.dupComponents(base)
    def lbl(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // delta 1: brand-new component {30, 31} plus growth 11-12
    val d1 = Seq((30L, 31L), (11L, 12L)).toDF("a_id", "b_id")
    val inc1 = Dedup.dupComponentsIncremental(labels, d1)
    assert(lbl(inc1) ==
      lbl(Dedup.dupComponents(base.unionByName(d1))),
      "incremental must equal the full recompute")
    // delta 2 MERGES the two old components (3-10) — the quotient
    // identity's interesting case: the bridge crosses old labels.
    val d2 = Seq((3L, 10L)).toDF("a_id", "b_id")
    val inc2 = Dedup.dupComponentsIncremental(inc1, d2)
    assert(lbl(inc2) ==
      lbl(Dedup.dupComponents(
        base.unionByName(d1).unionByName(d2))),
      "a delta bridging two old components must collapse them to one min")
    assert(inc2.filter(col("id").isin(1L, 2L, 3L, 10L, 11L, 12L))
      .select(col("component")).distinct().collect().map(_.getLong(0))
      .toSeq == Seq(1L), "the merged component's label is the global min")
    // singletons survive every fold
    assert(lbl(inc2).contains((20L, 20L)))
    // empty delta: labels are a fixed point of their own star edges
    assert(lbl(Dedup.dupComponentsIncremental(inc2,
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"))) == lbl(inc2))
  }

  test("fuzz: label store over random edge splits ≡ one-shot dupComponents") {
    // Random graphs through the ON-DISK store: whatever the batch
    // split, the fold-of-folds must land the one-shot labeling —
    // the d112 oracle's property, exercised over topologies the fixed
    // fixtures can't enumerate (multi-bridge merges, dense clumps,
    // batches whose every edge is absorbed).
    val rng = new scala.util.Random(20260816L)
    def lbls(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    for (round <- 0 until 3) {
      val n = 24
      val edges = Seq.fill(40)(
          (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val nb = 1 + rng.nextInt(3)
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-cc-fuzz$round").toString
      edges.zipWithIndex.groupMap(_._2 % nb)(_._1).toSeq.sortBy(_._1)
        .foreach { case (i, b) =>
          Dedup.labelStoreBatch(b.toDF("a_id", "b_id"), p,
            batchId = i.toLong)
        }
      val got = lbls(Dedup.labelStore(spark, p))
      val want = lbls(Dedup.dupComponents(edges.toDF("a_id", "b_id")))
      assert(got == want,
        s"round $round (${edges.length} edges, $nb batches):\n" +
          s" got: $got\nwant: $want")
    }
  }

  test("labelStore on a store with no labels yet reads as the empty labeling") {
    // Every batch so far empty (markers only, no `labels` dir) — a
    // consumer polling before the first non-empty batch closes must see
    // "no duplicates yet", not a missing-path crash (round-19 ADVICE).
    val p = java.nio.file.Files
      .createTempDirectory("graft-cc-empty").toString
    Dedup.labelStoreBatch(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id"), p, batchId = 0L)
    val got = Dedup.labelStore(spark, p)
    assert(got.columns.toSeq == Seq("id", "component"),
      "the empty labeling must still carry the store's schema")
    assert(got.count() == 0L)
    // ...and an entirely absent store path reads the same way.
    val p2 = java.nio.file.Files
      .createTempDirectory("graft-cc-absent").toString
    assert(Dedup.labelStore(spark, p2).count() == 0L)
  }

  test("sortedNeighborhoodPairs ≡ naive ranked window — exact count, hot-key ties, any layout") {
    import org.apache.spark.sql.functions.col
    val n = 60
    // a hot blocking key on half the rows: rank-space bucketing must
    // spread it by position, and ties must resolve by id.
    val data = (0 until n).map { i =>
      (i.toLong, if (i % 2 == 0) "hot" else s"k${i % 7}")
    }
    val w = 5
    val sorted = data.sortBy { case (id, k) => (k, id) }
    val want = (for {
      i <- sorted.indices
      j <- (i + 1) until math.min(i + w, sorted.length)
    } yield (sorted(i)._1, sorted(j)._1, (j - i).toLong)).toSet
    assert(want.size == n * (w - 1) - w * (w - 1) / 2,
      "the fixture must exercise the exact SN candidate-volume formula")
    for (parts <- Seq(1, 7)) {
      val got = Dedup.sortedNeighborhoodPairs(
          data.toDF("id", "k").repartition(parts), "id", col("k"), w)
        .collect()
        .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
          r.getAs[Long]("rank_dist"))).toSet
      assert(got == want, s"parts=$parts: ${got.diff(want)} extra, " +
        s"${want.diff(got)} missing")
    }
    intercept[IllegalArgumentException](
      Dedup.sortedNeighborhoodPairs(data.toDF("id", "k"), "id", col("k"), 1))
  }
}
