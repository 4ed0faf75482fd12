package graft.queries


import org.apache.spark.sql.SparkSession

import graft.{SparkEntry, SparkSpec}

/** Behavior tests for the dedup family on planted fixtures: exact dups,
  * heavy-overlap near-dups, and unrelated docs written as a documents/
  * embeddings table pair in a temp dir, then run through the REAL query
  * surface (same code path the driver oracles). */
class DedupQueriesSpec extends SparkSpec {
  import spark.implicits._

  /** Planted corpus: 0 and 1 identical (modulo case/whitespace); 2 and 3
    * near-identical (one token changed in 12); 4 unrelated. */
  private lazy val dir: String = {
    val d = tempDir("graft-dedup").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq(
      (0L, base, "en", "s0", base.length.toLong),
      (1L, "  Alpha beta GAMMA delta epsilon zeta eta theta iota kappa lambda mu ", "en", "s1", 70L),
      (2L, base, "en", "s2", base.length.toLong),
      (3L, base.replace("theta", "CHANGED"), "en", "s3", 70L),
      (4L, "one two three four five six seven eight nine ten eleven twelve", "fr", "s4", 60L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val up = Seq.fill(8)(1.0f) ++ Seq.fill(8)(0.0f)
    val upNear = 0.99f +: Seq.fill(7)(1.0f) ++: 0.1f +: Seq.fill(7)(0.0f)
    val ortho = Seq.fill(8)(0.0f) ++ Seq.fill(8)(1.0f)
    Seq(
      (0L, up, 0), (1L, upNear, 0), (2L, ortho, 0), (3L, up.map(-_), 1)
    ).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def q(name: String) =
    SparkEntry.queries(name)(spark, dir)

  test("q_dedup_clusters: a corpus with zero candidate pairs is all singletons (empty-edge regression)") {
    val d = tempDir("graft-nodups").toString
    // four documents sharing no 3-gram shingles at all
    Seq(
      (0L, "aa bb cc dd ee ff gg hh", "en", "s", 10L),
      (1L, "ii jj kk ll mm nn oo pp", "en", "s", 10L),
      (2L, "qq rr ss tt uu vv ww xx", "en", "s", 10L),
      (3L, "yy zz a1 b2 c3 d4 e5 f6", "en", "s", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val got = SparkEntry.queries("q_dedup_clusters")(spark, d)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("q_dedup_exact: case/whitespace-normalized dups collapse to one group") {
    val groups = q("q_dedup_exact")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    // docs 0, 1, 2 share normalized content → canonical 0, n_copies 3
    assert(groups.map(g => (g._2, g._3)).toSet === Set((0L, 3L), (3L, 1L), (4L, 1L)))
  }

  test("q_dedup_minhash: exact dups and the near-dup pair are candidates; unrelated doc is not") {
    val pairs = q("q_dedup_minhash").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 2L)))             // identical docs always collide
    assert(pairs.contains((0L, 3L)) || pairs.contains((2L, 3L))) // near-dup found
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })  // no shared shingles
  }

  test("q_ngram_jaccard: identical docs score J=1, near-dups score high but < 1") {
    val rows = q("q_ngram_jaccard")
      .as[(Long, Long, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    val (_, _, i02, u02, nd02) = rows((0L, 2L))
    assert(i02 === u02 && nd02 === 1) // identical → intersection == union
    rows.get((0L, 3L)).orElse(rows.get((2L, 3L))).foreach {
      case (_, _, i, u, nd) =>
        assert(i < u)                  // one changed token → not identical
        assert(i * 2 >= u && nd === 1) // but still a near-dup at J >= 0.5
    }
  }

  test("q_dedup_simhash: identical texts hash identically; unrelated text differs") {
    val h = q("q_dedup_simhash")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(h(0L) === h(2L))
    assert(h(0L) !== h(4L))
    assert(h.values.forall { case (lo, hi) =>
      lo >= 0 && lo < (1L << 32) && hi >= 0 && hi < (1L << 32) })
  }

  test("q_simhash_pairs: identical docs pair at hamming 0; pairs stay within threshold") {
    val pairs = q("q_simhash_pairs")
      .as[(Long, Long, Long)].collect()
    assert(pairs.contains((0L, 2L, 0L))) // identical text → identical simhash
    pairs.foreach { case (a, b, h) => assert(a < b && h <= 3) }
  }

  test("q_dedup_clusters: transitively linked near-dups collapse to one canonical id") {
    val clusters = q("q_dedup_clusters")
      .as[(Long, Long)].collect().toMap
    // docs 0/2 are shingle-identical (always candidates) and 3 is a
    // near-dup of the base text — candidate to SOME of them but
    // transitively linked to all → one cluster, canonical min id 0.
    // (Doc 1 is the case-variant: shingles are case-sensitive, so its
    // linkage is probabilistic — covered by the consistency check below.)
    // Doc 4 shares no shingle with anyone → singleton.
    assert(clusters(0L) === 0L && clusters(2L) === 0L && clusters(3L) === 0L)
    assert(clusters(4L) === 4L)
    assert(clusters.size === 5) // one row per doc, singletons included
    // every candidate pair must land in the same cluster (transitivity)
    val pairs = q("q_dedup_minhash").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) => assert(clusters(a) === clusters(b)) }
  }

  test("dedupedCorpus keeps exactly one canonical doc per cluster plus singletons") {
    val kept = DedupQueries.dedupedCorpus(spark, dir)
      .select("doc_id").as[Long].collect().toSet
    // doc 1 is a case/whitespace variant of 0: its RAW shingles evade the
    // LSH bands (q_dedup_clusters keeps it a singleton — pair-stage
    // semantics), but dedupedCorpus unions exact normalized-content
    // pairs, so the whole {0,1,2,3} family collapses onto canonical 0
    assert(kept === Set(0L, 4L))
    // composition removes at least what LSH clustering alone would
    val clusters = q("q_dedup_clusters").as[(Long, Long)].collect()
    assert(kept.subsetOf(clusters.map(_._2).toSet))
    // verified mode: near edges are J >= 0.5 pairs and exact edges are
    // unconditional — same keepers on this corpus
    val keptVerified = DedupQueries.dedupedCorpus(spark, dir, verify = true)
      .select("doc_id").as[Long].collect().toSet
    assert(keptVerified === kept)
  }

  test("q_dedup_report: per-source dupes are exactly dedupedCorpus's deletions") {
    val rep = q("q_dedup_report")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // one doc per source; family {0,1,2,3} collapses on canonical 0, so
    // s1/s2/s3's doc is a dupe, s0's canonical and s4's singleton are not
    assert(rep === Map("s0" -> ((1L, 0L, 0L)), "s1" -> ((1L, 1L, 10000L)),
                       "s2" -> ((1L, 1L, 10000L)), "s3" -> ((1L, 1L, 10000L)),
                       "s4" -> ((1L, 0L, 0L))))
    // the contract: total dupes == docs the dedup composition deletes
    val corpus = spark.read.parquet(s"$dir/documents.parquet").count()
    val kept = DedupQueries.dedupedCorpus(spark, dir).count()
    assert(rep.values.map(_._2).sum === corpus - kept)
  }

  test("boundedBucketStars: components identical to full bucket pairs, including under the skew cap") {
    import org.apache.spark.sql.functions.{col, struct}
    // buckets: b1 = {1,2,3} (kept clique vs star), b2 = {3,9} (chains b1),
    // b3 = {20,21,22,23} (over the cap of 3 — BOTH forms must drop it),
    // b4 = {30} (singleton — no edges from either form)
    val buckets = Seq(
      ("b1", 1L), ("b1", 2L), ("b1", 3L), ("b2", 3L), ("b2", 9L),
      ("b3", 20L), ("b3", 21L), ("b3", 22L), ("b3", 23L), ("b4", 30L)
    ).toDF("k", "id")
    def labelsOf(edges: org.apache.spark.sql.DataFrame) =
      DedupQueries.components(edges)
        .as[(Long, Long)].collect().toMap
    val full = labelsOf(
      DedupQueries.boundedBucketPairs(buckets, Seq("k"), struct(col("id")),
          maxBucket = 3)
        .select(col("a.id").as("a_id"), col("b.id").as("b_id")))
    val star = labelsOf(
      DedupQueries.boundedBucketStars(buckets, Seq("k"), struct(col("id")),
          maxBucket = 3)
        .select(col("a.id").as("a_id"), col("b.id").as("b_id")))
    assert(star === full)
    assert(full === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L))
  }

  test("q_deduped_verified: survivors are a superset of candidate-mode survivors (monotone in the edge set)") {
    // Verified near edges are a SUBSET of candidate edges, so components
    // only split and every candidate-mode component min remains the min
    // of its verified sub-component: candidate survivors ⊆ verified
    // survivors, on any corpus. Checked on the real sf0.001 documents
    // table (organic text, not the planted fixture) through the GATED
    // query surface — the same entries the driver oracles.
    val td = "/root/testdata/sf0.001"
    val cand = SparkEntry.queries("q_deduped_corpus")(spark, td)
      .as[Long].collect().toSet
    val ver = SparkEntry.queries("q_deduped_verified")(spark, td)
      .as[Long].collect().toSet
    assert(cand.subsetOf(ver))
    // and neither mode keeps a doc twice or drops the whole corpus
    val n = graft.sources.Tables.read(spark, td, "documents").count()
    assert(ver.size <= n && cand.nonEmpty)
  }

  test("q_doc_fingerprint: 4 fingerprints per doc with >= 4 shingles; equal docs share all") {
    val fps = q("q_doc_fingerprint")
      .as[(Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
    assert(fps(0L).size === 4)
    assert(fps(0L) === fps(2L))
    assert(fps(0L) !== fps(4L))
  }

  test("q_dedup_embed: near-parallel intra-label pair found; orthogonal and cross-label not") {
    val pairs = q("q_dedup_embed")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs === Set((0L, 1L))) // 0~1 parallel; 2 orthogonal; 3 other label
  }

  /** Split a 64-bit hash value (given as two 32-bit words) into the
    * (doc_id, sim_lo, sim_hi) frame simhashPairs consumes. */
  private def simFrame(rows: Seq[(Long, Long, Long)]) =
    rows.toDF("doc_id", "sim_lo", "sim_hi")

  test("simhashPairs: 3 diffs spread over 3 blocks are found (the old quarter-pair family's miss)") {
    // A/C differ in bits 10 (block 0), 20 (block 1), and 40 (block 2) —
    // three of the four 16-bit blocks touched. The 32-bit quarter-pair
    // family documented exactly this shape as its residual miss; the
    // Manku one-block-per-band family catches it via clean block 3.
    val (lo, hi) = (0x01020304L, 0x05060708L)
    val sim = simFrame(Seq(
      (0L, lo, hi),
      (1L, lo ^ (1L << 10) ^ (1L << 20), hi ^ (1L << 8)), // 40 − 32 = 8
      (2L, lo ^ (1L << 31), hi)                           // 1 diff, block 1
    ))
    val pairs = DedupQueries.simhashPairs(sim)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L, 3L)))
    assert(pairs.contains((0L, 2L, 1L)))
  }

  test("property: simhashPairs ≡ ALL hamming<=3 pairs on random 64-bit hashes (family is exact)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // brute-force reference: every pair at hamming ≤ 3, no band condition —
    // the one-block band family is complete for k ≤ 3 by construction
    def ref(hs: Map[Long, (Long, Long)]): Set[(Long, Long, Long)] = {
      val ids = hs.keys.toSeq.sorted
      (for {
        i <- ids.indices; j <- (i + 1) until ids.length
        ham = java.lang.Long.bitCount(hs(ids(i))._1 ^ hs(ids(j))._1) +
          java.lang.Long.bitCount(hs(ids(i))._2 ^ hs(ids(j))._2)
        if ham <= 3
      } yield (ids(i), ids(j), ham.toLong)).toSet
    }
    val gen = for {
      n <- Gen.choose(2, 30)
      baseLo <- Gen.choose(0L, (1L << 32) - 1)
      baseHi <- Gen.choose(0L, (1L << 32) - 1)
      // cluster hashes around a base so near-pairs actually occur
      hs <- Gen.listOfN(n, for {
        flips <- Gen.choose(0, 5)
        bits <- Gen.listOfN(flips, Gen.choose(0, 63))
      } yield bits.foldLeft((baseLo, baseHi)) { case ((l, h), b) =>
        if (b < 32) (l ^ (1L << b), h) else (l, h ^ (1L << (b - 32)))
      })
    } yield hs.zipWithIndex.map { case ((l, h), i) => i.toLong -> (l, h) }.toMap
    for (seed <- 1L to 4L) {
      val hs = gen(Gen.Parameters.default, Seed(seed)).get
      val got = DedupQueries.simhashPairs(
        simFrame(hs.toSeq.map { case (id, (l, h)) => (id, l, h) }))
        .as[(Long, Long, Long)].collect().toSet
      assert(got === ref(hs), s"seed=$seed")
    }
  }

  test("simhashPairs: a pair whose first clean band is skew-dropped still surfaces via a surviving band") {
    // A and B share an identical hash; C..F share A's block 0 (low 16
    // bits) but differ in upper bits. With maxBucket = 4 the band-0
    // bucket (all 6 docs) is dropped, but bands 1..3's {A,B} buckets
    // survive — the (A,B) pair must still be emitted. (This is the case
    // that killed the canonical-band emission optimization: the first
    // clean band of an identical pair is 0, so filtering on it deleted
    // the surviving later-band rows.)
    val (lo, hi) = (0x01020304L, 0x05060708L)
    val sim = simFrame(Seq(
      (0L, lo, hi), (1L, lo, hi),
      (2L, lo ^ (1L << 16), hi), (3L, lo ^ (1L << 17), hi),
      (4L, lo, hi ^ 1L), (5L, lo, hi ^ 2L)
    ))
    val pairs = DedupQueries.simhashPairs(sim, maxBucket = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L, 0L)))
  }

  // observedMetrics assertions run under SparkSpec.withoutAqe; the
  // skew guard itself is plan-shape-independent — the AQE-on path is
  // exercised by every other test in this suite.

  test("q_decontaminate: exactly the candidate pairs straddling the train boundary, oriented") {
    val cands = q("q_dedup_minhash").as[(Long, Long)].collect().toSet
    val splits = SparkEntry.queries("q_split_assign")(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = cands.flatMap { case (a, b) =>
      (splits(a) == "train", splits(b) == "train") match {
        case (true, false) => Some((a, b, splits(b)))
        case (false, true) => Some((b, a, splits(a)))
        case _ => None // both train, or neither: not a leak
      }
    }
    val rows = q("q_decontaminate")
      .select("train_id", "eval_id", "eval_split")
      .as[(Long, Long, String)].collect().toSet
    assert(rows === expected)
    rows.foreach { case (t, e, _) =>
      assert(splits(t) === "train")
      assert(splits(e) !== "train")
    }
  }

  test("components: driver union-find and both loop regimes produce identical labels") {
    // chain 1-2-3-5 plus separate pair 10-11: transitivity across regimes
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L)).toDF("a_id", "b_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
                       10L -> 10L, 11L -> 10L)
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    assert(labelsOf(DedupQueries.components(pairs)) === expected)
    assert(DedupQueries.CcObservability.last.startsWith("regime=driver"))
    assert(labelsOf(DedupQueries.components(pairs, driverEdgeLimit = 0))
             === expected) // broadcast fused-hop loop
    assert(DedupQueries.CcObservability.last.startsWith("regime=broadcast-loop"))
    assert(labelsOf(DedupQueries.components(pairs, driverEdgeLimit = 0,
                                            broadcastEdgeLimit = 0))
             === expected) // shuffle agg-per-hop loop
    // the observability record (the soak's regime evidence) must name the
    // regime that actually ran and report a converged round count
    assert(DedupQueries.CcObservability.last.startsWith("regime=shuffle-loop"))
    assert("rounds=(\\d+)".r.findFirstMatchIn(DedupQueries.CcObservability.last)
             .exists(_.group(1).toInt >= 1))
  }

  test("boundedBucketPairs: oversized bucket is dropped before expansion and accounted") {
    import org.apache.spark.sql.functions.{col, struct}
    val rows = (0 until 1000).map(i => (1L, 100L + i)) ++ Seq((2L, 1L), (2L, 2L))
    withoutAqe {
      val pairs = DedupQueries.boundedBucketPairs(
        rows.toDF("bkey", "doc_id"), Seq("bkey"), struct(col("doc_id")),
        maxBucket = 16, guard = "g")
        .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      // collect() on pairs ITSELF: metrics live on the executed plan's
      // QueryExecution (an .as[...] view would execute a different one)
      assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
      val m = pairs.queryExecution.observedMetrics("g")
      assert(m.getAs[Long]("skewed_rows") === 1000L)
      assert(m.getAs[Long]("max_bucket") === 1000L)
    }
  }

  test("q_simhash_pairs: a degenerate corpus of 1000 identical docs completes via the skew guard") {
    val d = tempDir("graft-skew").toString
    val text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    (0L until 1000L).map(i => (i, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // 1000 identical docs → one 1000-doc bucket per band, all above
    // MaxBucket → dropped with accounting instead of ~2x10^6 exploded
    // pairs (the convention: exact-dedup removes byte-identical mass first)
    assert(SparkEntry.queries("q_simhash_pairs")(spark, d).collect().isEmpty)
    withoutAqe {
      val pairs = SparkEntry.queries("q_simhash_pairs")(spark, d)
      assert(pairs.collect().isEmpty)
      val m = pairs.queryExecution.observedMetrics("graft_simhash_skew")
      assert(m.getAs[Long]("skewed_rows") === 4000L) // 1000 docs × 4 bands
      assert(m.getAs[Long]("max_bucket") === 1000L)
    }
  }

  test("q_sim_search: nearest neighbor of the query is the near-parallel vector") {
    // vec 0 is the only query (vec_id % 100 == 0)
    val top = SparkEntry.queries("q_sim_search")(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .filter(_._4 === 1L)
    assert(top.map(t => (t._1, t._2)).toSet === Set((0L, 1L)))
  }

  test("q_sim_search_lsh results are a subset of brute-force with matching dots") {
    val brute = SparkEntry.queries("q_sim_search")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = SparkEntry.queries("q_sim_search_lsh")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long)].collect()
    assert(lsh.nonEmpty)
    // LSH restricts candidates; it must never invent a pair, mis-score a
    // dot, or mis-order ranks
    lsh.foreach { case (q, v, dot, _) =>
      assert(q != v)
      brute.get((q, v)).foreach(bd => assert(bd === dot))
    }
    for ((_, rows) <- lsh.groupBy(_._1)) {
      val byRank = rows.sortBy(_._4).map(_._3)
      byRank.zip(byRank.tail).foreach { case (d1, d2) => assert(d1 >= d2) }
    }
  }
}
