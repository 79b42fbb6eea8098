package graft

import org.apache.spark.sql.functions._
import graft.dedup.DedupOps

/** Planted-duplicate recall for the non-SQL-expressible dedup operators
  * (SURVEY.md §2.C rows-only contracts). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Doc ids of 5 long documents (>= 50 words) — near-dup thresholds are
    * only meaningful when one mutated word leaves shingle-Jaccard high. */
  private lazy val longIds: Seq[Long] =
    Tables.documents(spark, SfDir)
      .filter(size(split(trim(col("text")), "\\s+")) >= 50)
      .orderBy("doc_id").select("doc_id").as[Long].take(5).toSeq

  /** Corpus with planted near-dups: the 5 long docs copied with id+9000 and
    * exactly one middle word replaced (shingle-Jaccard >= ~0.88, so banded
    * LSH at 16x4 detects with probability ~1). */
  private lazy val planted = {
    val base = Tables.documents(spark, SfDir).select("doc_id", "text")
    val mutated = base.filter(col("doc_id").isin(longIds: _*))
      .select((col("doc_id") + 9000).as("doc_id"),
        concat_ws(" ",
          expr("transform(split(trim(text), '\\\\s+'), (w, i) -> IF(i = 25, 'zzyzx', w))"))
          .as("text"))
    base.unionByName(mutated)
  }

  test("minhash LSH finds every planted near-duplicate pair") {
    val docs = planted
      .select(col("doc_id"), DedupOps.hashedShingles(DedupOps.shingles(col("text"), 3)).as("sh"))
      .withColumn("sig", DedupOps.minhashSignature(col("sh"), 64))
    val cands = DedupOps.lshCandidates(docs, "doc_id", "sig", 4)
      .filter(col("doc_b") >= 9000 && col("doc_a") === col("doc_b") - 9000)
      .as[(Long, Long)].collect().toSet
    assert(longIds.forall(i => cands.contains((i, i + 9000))),
      s"missing planted pairs; got $cands")
  }

  test("simhash fingerprints of planted near-dups stay within hamming 16") {
    val sh = planted
      .select(col("doc_id"), DedupOps.simhash64(split(trim(lower(col("text"))), "\\s+")).as("sh"))
      .as[(Long, Long)].collect().toMap
    longIds.foreach { i =>
      val d = java.lang.Long.bitCount(sh(i) ^ sh(i + 9000))
      assert(d <= 16, s"doc $i vs planted copy: hamming $d")
    }
    // and unrelated docs are far apart on average
    val unrelated = java.lang.Long.bitCount(sh(longIds.head) ^ sh(50))
    assert(unrelated > 8, s"unrelated docs suspiciously close: $unrelated")
  }

  test("native simhash64 expression matches the column-algebra fold bit-for-bit") {
    val hs = Tables.documents(spark, SfDir)
      .select(col("doc_id"),
        transform(split(trim(lower(col("text"))), "\\s+"), t => xxhash64(t)).as("hs"))
    val diffs = hs.select(
      DedupOps.simhashFromHashes(col("hs")).as("native"),
      DedupOps.simhashAlgebra(col("hs")).as("algebra"))
      .filter(col("native") =!= col("algebra")).count()
    assert(diffs == 0)
  }

  test("native shingle_hash64 matches the algebra pipeline as a set incl. edge cases") {
    // same distinct hash VALUES; the native kernel emits them sorted
    // (no consumer depends on shingle order), so compare sorted arrays
    def diffs(df: org.apache.spark.sql.DataFrame) = df.select(
        array_sort(DedupOps.shingleHashes(col("words"), 3)).as("native"),
        array_sort(DedupOps.hashedShingles(
          DedupOps.shinglesFromWords(col("words"), 3))).as("algebra"))
      .filter(not(col("native") <=> col("algebra"))).count()
    val docs = Tables.documents(spark, SfDir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
    assert(diffs(docs) == 0)
    // edge cases the slice/greatest algebra defines: empty array (one ""
    // shingle), single word, exactly n words, repeated words (de-dup)
    val edge = Seq(
      Seq.empty[String], Seq("a"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("a", "a", "a", "a"), Seq("x", "y", "x", "y", "x", "y"))
      .toDF("words")
    assert(diffs(edge) == 0)
    // and the native output really is sorted distinct
    val sortedOk = edge.unionByName(docs.select("words")).select(
        (DedupOps.shingleHashes(col("words"), 3) ===
          array_sort(array_distinct(DedupOps.shingleHashes(col("words"), 3)))).as("ok"))
      .filter(not(col("ok"))).count()
    assert(sortedOk == 0)
  }

  test("native sorted_intersect_count matches array_intersect and rejects unsorted input") {
    // corpus pairs: every adjacent doc pair's shingle sets, both forms
    val docs = Tables.documents(spark, SfDir)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .select(col("doc_id"), DedupOps.shingleHashes(col("words"), 3).as("sh"))
    val pairs = docs.select(col("doc_id"), col("sh").as("sh_a"))
      .join(docs.select((col("doc_id") - 1).as("doc_id"), col("sh").as("sh_b")), "doc_id")
    val (ni, nu) = DedupOps.jaccardCounts(col("sh_a"), col("sh_b"))
    val (ai, au) = DedupOps.jaccardCountsAlgebra(col("sh_a"), col("sh_b"))
    val diffs = pairs.select(ni.as("ni"), nu.as("nu"), ai.as("ai"), au.as("au"))
      .filter(col("ni") =!= col("ai") || col("nu") =!= col("au")).count()
    assert(diffs == 0)
    // constructed edges: disjoint, identical, empty, one-sided empty, subset
    val edge = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(7L)),
      (Seq(2L, 9L), Seq(-5L, 2L, 9L, 11L))).toDF("sh_a", "sh_b")
    val (ei, _) = DedupOps.jaccardCounts(col("sh_a"), col("sh_b"))
    assert(edge.select(ei).as[Int].collect().toSeq == Seq(0, 3, 0, 0, 2))
    // unsorted (or duplicate-carrying) input must raise loudly, not
    // return a plausible count — the violation must be one the merge
    // actually walks (the guard rides the merge's own comparisons, so a
    // descent after the other side exhausts goes unvisited by design)
    val bad = Seq((Seq(3L, 1L, 2L), Seq(1L, 2L, 5L, 9L))).toDF("sh_a", "sh_b")
    val (bi, _) = DedupOps.jaccardCounts(col("sh_a"), col("sh_b"))
    val e = intercept[Exception] { bad.select(bi).collect() }
    assert(e.getMessage != null)
  }

  test("bloom probe: no false negatives, bounded fps, planted replays flagged") {
    // direct round-trip of the registered functions: every member of the
    // build set must hit (a bloom has NO false negatives), and probes of
    // a disjoint id range must mostly miss (1%-fpp sizing, slack 10x)
    val bits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(1000L, 0.01)
    spark.range(0, 1000).createOrReplaceTempView("__bloom_members")
    spark.range(500000, 500100).createOrReplaceTempView("__bloom_outside")
    def probe(view: String) = spark.sql(
      s"""SELECT bloom_might_contain(
         |  (SELECT bloom_filter_agg(xxhash64(id), CAST(1000 AS BIGINT),
         |                           CAST($bits AS BIGINT)) FROM __bloom_members),
         |  xxhash64(id)) AS hit FROM $view""".stripMargin)
    assert(probe("__bloom_members").filter(!col("hit")).count() == 0)
    assert(probe("__bloom_outside").filter(col("hit")).count() <= 10)
    // the registered query's contract columns, from the actual output
    val rows = DedupOps.qDedupBloomProbe(spark, SfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "bloom false negative — impossible by construction")
    assert(rows.forall(_.getBoolean(3)), "false-positive bound broken")
    // planted re-ingested replays (re-keyed +10000000) must all flag dup,
    // and the fresh-batch leg must contribute non-dup traffic too
    val replays = rows.filter(_.getLong(0) >= 10000000L)
    assert(replays.nonEmpty && replays.forall(_.getLong(1) == 1L),
      "a planted replay was not flagged as a duplicate")
    assert(rows.exists(_.getLong(1) == 0L), "no clean rows — fp leg vacuous")
  }

  test("simhash is deterministic across partitionings") {
    val a = DedupOps.qDedupSimhash(spark, SfDir).collect().toSeq
    val b = DedupOps.qDedupSimhash(spark, SfDir).collect().toSeq
    assert(a == b)
  }

  test("dup clusters: paired docs share a cluster, singletons keep their id") {
    val clusters = DedupOps.qDedupClusters(spark, SfDir)
      .as[(Long, Long)].collect().toMap
    val pairs = DedupOps.qNgramJaccard(spark, SfDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.filterNot { case (id, _) => paired(id) }.foreach { case (id, c) =>
      assert(c == id, s"singleton $id got cluster $c")
    }
    // cluster representative is the component minimum
    pairs.foreach { case (a, b) => assert(clusters(a) <= math.min(a, b)) }
  }

  test("cluster propagation reaches a fixpoint on a diameter-5 chain") {
    // 1-2-3-4-5-6 needs 5 propagation rounds; a fixed small iteration count
    // would leave the tail labelled > 1
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.dedupClusters(docs, pairs)
      .as[(Long, Long)].collect().toMap
    (1L to 6L).foreach(id => assert(out(id) == 1L, s"doc $id got ${out(id)}"))
    // and a second isolated component keeps its own minimum
    val docs2 = (1L to 7L).toDF("doc_id")
    val pairs2 = Seq((1L, 2L), (6L, 7L)).toDF("doc_a", "doc_b")
    val out2 = DedupOps.dedupClusters(docs2, pairs2).as[(Long, Long)].collect().toMap
    assert(out2(6L) == 6L && out2(7L) == 6L && out2(3L) == 3L)
  }

  test("md5Hash64 packs the first 8 digest bytes big-endian (oracle parity)") {
    // md5('abc') = 900150983cd24fb0...; 0x900150983cd24fb0 as signed =
    // -8070080442485551184. DuckDB computes the same value via
    // ('0x' || substr(md5(t),1,16))::UBIGINT — same bits, so the oracle's
    // simhash fingerprints match Spark's exactly.
    val got = Seq("abc").toDF("t")
      .select(DedupOps.md5Hash64(col("t")).as("h")).as[Long].head()
    assert(got == -8070080442485551184L, f"got $got%x")
  }

  test("LSH-routed minhash pairs equal the exact Jaccard>=0.5 pair list") {
    // the oracle-gate contract: banding only routes candidate generation,
    // verification is exact — so the verified output must equal the full
    // inverted-index answer (this also certifies LSH recall on the corpus)
    val lsh = DedupOps.qDedupMinhashLsh(spark, SfDir)
    val exact = DedupOps.qNgramJaccard(spark, SfDir)
    assert(lsh.count() > 0)
    assert(lsh.exceptAll(exact).count() == 0 && exact.exceptAll(lsh).count() == 0)
    // PRECONDITION the equality gate rests on: 16x4 banding has ~recall 1
    // only for pairs well above the 0.5 threshold (P(miss J) =
    // (1-J^4)^16: 2e-4 at J=0.8, but 35% at J=0.5). The corpus's true
    // pairs are all planted high-J near-dups; if the data generator ever
    // introduces organic mid-band pairs, fail HERE with the cause instead
    // of a mysterious oracle hash mismatch.
    val midBand = exact
      .filter(col("inter_n") * 4 < col("union_n") * 3) // J < 0.75
      .count()
    assert(midBand == 0,
      s"$midBand exact pairs with J in [0.5, 0.75): 16x4 banding recall is not ~1 there — " +
        "retune bands/rows or drop the minhash oracle to spec-only")
  }

  test("containment dedup finds the planted truncations Jaccard misses, non-vacuously") {
    val out = DedupOps.qDedupContainment(spark, SfDir).collect()
    assert(out.nonEmpty)
    // every planted truncation (re-keyed +1e7) must pair with its source
    // at containment exactly 1 (a prefix's shingles are a subset)
    val planted = out.filter(_.getAs[Long]("doc_b") >= 10000000L)
    assert(planted.nonEmpty, "no planted truncation pairs found")
    planted.filter(r => r.getAs[Long]("doc_b") - 10000000L == r.getAs[Long]("doc_a"))
      .foreach { r =>
        assert(r.getAs[Long]("inter_n") ==
          math.min(r.getAs[Long]("n_a"), r.getAs[Long]("n_b")),
          s"truncation pair not fully contained: $r")
      }
    // NON-VACUITY of the asymmetric cut: some pairs must sit BELOW the
    // symmetric Jaccard 0.5 gate (inter*2 < union) — otherwise this
    // query would be indistinguishable from ngram_jaccard
    val containOnly = out.count { r =>
      val (i, a, b) = (r.getAs[Long]("inter_n"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
      i * 2 < a + b - i
    }
    assert(containOnly > 0, "containment gate is vacuous vs Jaccard on this corpus")
  }

  test("incremental dedup classifies exact dup / near dup / novel (planted)") {
    import spark.implicits._
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight nine ten")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),    // exact dup of 1
      (11L, "one two three four five six seven eight nine XX"),  // near dup of 2
      (12L, "totally different words with zero shared shingles here")) // novel
      .toDF("doc_id", "text")
    val out = DedupOps.incrementalDedup(batch, base).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(10L)._1 == 1L, "exact dup not flagged")
    assert(out(11L)._1 == 0L && out(11L)._2 > 0L, "near dup not counted")
    assert(out(12L) == ((0L, 0L, 1L)), "novel doc misclassified")
    // corpus-level non-vacuity: the %7 split crosses planted near-dup pairs
    val corpus = DedupOps.qDedupIncremental(spark, SfDir)
    assert(corpus.filter(col("n_near_dups") > 0).count() > 0)
    assert(corpus.filter(col("is_novel") === 1).count() > 0)
  }

  test("nodes appearing only in pairs still converge (and get labels)") {
    // 7 and 8 are pair endpoints absent from docs: before the node-union
    // fix they had no self-loop, so __prev stayed null and the changed
    // count never hit 0 — labels correct, but every call burned all
    // maxIters rounds. A 3-node star converges in <= 3 rounds.
    val docs = Seq(1L, 2L).toDF("doc_id")
    val pairs = Seq((1L, 7L), (7L, 8L)).toDF("doc_a", "doc_b")
    val (out, iters) = DedupOps.dedupClustersWithIters(docs, pairs)
    val labels = out.as[(Long, Long)].collect().toMap
    assert(labels.keySet == Set(1L, 2L, 7L, 8L))
    Seq(1L, 7L, 8L).foreach(id => assert(labels(id) == 1L, s"doc $id got ${labels(id)}"))
    assert(labels(2L) == 2L)
    assert(iters <= 4, s"expected fixpoint in <=4 rounds, burned $iters")
  }

  test("pointer doubling converges a 1000-node chain in O(log diameter) rounds") {
    // plain min-propagation needs ~999 rounds here (one hop per round,
    // each paying a localCheckpoint barrier); the per-round pointer jump
    // doubles the covered distance, so convergence must be logarithmic.
    val docs = (1L to 1000L).toDF("doc_id")
    val pairs = (1L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (out, iters) = DedupOps.dedupClustersWithIters(docs, pairs)
    val labels = out.as[(Long, Long)].collect().toMap
    assert(labels.size == 1000 && labels.values.forall(_ == 1L))
    assert(iters <= 14, s"expected O(log 1000) ~ <=14 rounds, burned $iters")
  }

  test("lsh band count follows the signature width (no hard-coded 16)") {
    // k = 8, rowsPerBand = 4 -> 2 bands; identical docs must still pair up
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
      .select(col("doc_id"),
        DedupOps.hashedShingles(DedupOps.shingles(col("text"), 3)).as("sh"))
      .withColumn("sig", DedupOps.minhashSignature(col("sh"), 8))
    val cands = DedupOps.lshCandidates(docs, "doc_id", "sig", 4)
      .as[(Long, Long)].collect().toSet
    assert(cands == Set((1L, 2L)))
  }

  test("cluster propagation converges for STRING doc ids (type-agnostic fixpoint)") {
    // a numeric label-sum convergence test returns null on strings and
    // would falsely converge after one round, leaving the chain unmerged
    val docs = Seq("a", "b", "c", "d", "e", "f").toDF("doc_id")
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"))
      .toDF("doc_a", "doc_b")
    val out = DedupOps.dedupClusters(docs, pairs)
      .as[(String, String)].collect().toMap
    Seq("a", "b", "c", "d", "e", "f").foreach(id =>
      assert(out(id) == "a", s"doc $id got ${out(id)}"))
  }

  test("signatures shorter than one band emit no spurious candidates") {
    // sequence(0, -1) is DESCENDING [0, -1]; unguarded, every
    // short-signature doc would land in one shared bogus band and pair up
    val docs = Seq(
      (1L, Array(11L, 12L)), // 2 < rowsPerBand = 4
      (2L, Array(99L, 98L)),
      (3L, Array.empty[Long]))
      .toDF("doc_id", "sig")
    val cands = DedupOps.lshCandidates(docs, "doc_id", "sig", 4)
    assert(cands.count() == 0, s"short signatures paired: ${cands.collect().toSeq}")
  }

  test("prefix-filtered jaccard equals the count-aggregation path exactly") {
    // qNgramJaccard delegates to the prefix form (the r8 scale-safe
    // default); the count-agg branch must produce the identical pair list
    val fast = DedupOps.ngramJaccardCountAgg(spark, SfDir)
    val pref = DedupOps.qNgramJaccard(spark, SfDir)
    assert(pref.count() > 0)
    assert(fast.count() == pref.count())
    assert(fast.exceptAll(pref).count() == 0)
    assert(pref.exceptAll(fast).count() == 0)
  }

  test("prefix-filtered containment equals the count-aggregation path exactly") {
    // the asymmetric bound (short-side prefix x full postings) must produce
    // the identical pair list, including the planted truncations whose
    // containment-only pairs sit below the symmetric Jaccard gate;
    // qDedupContainment delegates to the prefix form since r8
    val fast = DedupOps.dedupContainmentCountAgg(spark, SfDir)
    val pref = DedupOps.qDedupContainment(spark, SfDir)
    assert(fast.count() > 0)
    assert(fast.count() == pref.count())
    assert(fast.exceptAll(pref).count() == 0, "prefix path disagrees on some pairs")
    assert(pref.exceptAll(fast).count() == 0, "prefix path produced extra pairs")
  }

  test("graft.dedup.broadcastCands=false degrades both verifies to shuffle joins, same pairs") {
    // the documented 100 TB escape hatch for driver-hostile pair lists:
    // flipping the conf must change ONLY the physical join strategy
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    val on = DedupOps.qNgramJaccard(spark, SfDir).collect().toSeq
    val onC = DedupOps.qDedupContainment(spark, SfDir).collect().toSeq
    try {
      spark.conf.set("graft.dedup.broadcastCands", "false")
      val offDf = DedupOps.qNgramJaccard(spark, SfDir)
      val off = offDf.collect().toSeq
      assert(off == on, "shuffle-join verify changed the jaccard pair list")
      assert(DedupOps.qDedupContainment(spark, SfDir).collect().toSeq == onC,
        "shuffle-join verify changed the containment pair list")
      // and the hint is really gone: no broadcast exchange feeds the
      // verify join's candidate side (AQE may still SMALL-side broadcast
      // the df table elsewhere; assert on the cands schema width instead
      // — the pair frame is exactly (doc_a, doc_b))
      val bcasts = flatten(offDf.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeLike => b.output.map(_.name).toSet }
      assert(!bcasts.contains(Set("doc_a", "doc_b")),
        "candidate pair frame still broadcast with the conf off")
    } finally spark.conf.unset("graft.dedup.broadcastCands")
  }

  test("exact dedup collapses planted copies to one keeper each") {
    val out = DedupOps.qDedupExact(spark, SfDir)
    val copies = out.filter(col("n_copies") === 2).count()
    val total = Tables.documents(spark, SfDir).count()
    assert(out.count() == total) // every original text survives exactly once
    assert(copies == (total + 9) / 10) // every 10th doc was planted
  }

  test("dedup_decision golden plan: no window, no nested-loop join (VERDICT r9 ask #7)") {
    // the load-bearing plan facts at 100 TB: the verdict frame is a hash
    // groupBy (map-side partial min per content hash) plus two key joins
    // over the session-cached components — a row_number window over the
    // corpus or a nested-loop/cartesian join anywhere would be the
    // silent scale-killer this contract pins against
    val df = DedupOps.qDedupDecision(spark, SfDir)
    df.collect() // AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"dedup_decision plans a window:\n${plan.take(400)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"dedup_decision plans an all-pairs join:\n${plan.take(400)}")
  }

  test("dedup decision: one keeper per component, copies always exact_dup") {
    val rows = DedupOps.qDedupDecision(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // every planted replay (id >= 1e6) must fall to the exact rule
    val copies = rows.filter(_._1 >= 1000000L)
    assert(copies.nonEmpty && copies.forall(_._3 == "exact_dup"))
    // exactly one keeper per near-dup component: the component min is
    // also its text-group's min (copy edges put the group inside the
    // component), so precedence can never orphan a component
    rows.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.count(_._3 == "keep") == 1, s"component $c keeper count != 1")
      assert(ms.exists(m => m._1 == c && m._3 == "keep"),
        s"component $c keeper is not its representative")
    }
    // the near rule carries real traffic beyond the planted copies
    assert(rows.count(_._3 == "near_dup") > 0)
  }
}
