package graft

import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Text-analysis contracts (SURVEY.md §2.D) beyond the DuckDB oracles. */
class TextOpsSpec extends SparkSpec {

  test("doc fingerprint is deterministic and collision-free on the corpus") {
    val a = TextOps.qDocFingerprint(spark, SfDir).collect().toSeq
    val b = TextOps.qDocFingerprint(spark, SfDir).collect().toSeq
    assert(a == b)
    val n = Tables.documents(spark, SfDir).select("text").distinct().count()
    val fps = TextOps.qDocFingerprint(spark, SfDir).select("fingerprint").distinct().count()
    assert(fps == n, s"fingerprint collisions: $fps distinct for $n texts")
  }

  test("weighted sample replays the A-ES formula exactly and favors heavy docs") {
    val sel = TextOps.qWeightedSample(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sel == TextOps.qWeightedSample(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    assert(sel.size == 100)
    // driver-side replay of the exact key formula: same md5-derived
    // uniform, same ln(u)/w key, same top-100 — the distributed
    // TakeOrdered must select the identical id set
    val docs = Tables.documents(spark, SfDir).select("doc_id", "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(1))).filter(_._2 > 0)
    val expect = docs.map { case (id, w) =>
      val h = graft.functions.Md5Hash64Array.hash64(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString))
      (id, w, math.log(((h >>> 11) + 1).toDouble / 9007199254740992.0) / w)
    }.sortBy(-_._3).take(100).map(t => (t._1, t._2)).sortBy(_._1).toSeq
    assert(sel == expect)
    // weight-proportionality: the sample's mean token mass must exceed the
    // corpus mean (that is what "weighted by n_chars" buys)
    val meanSel = sel.map(_._2).sum.toDouble / sel.size
    val meanAll = docs.map(_._2.toDouble).sum / docs.size
    assert(meanSel > meanAll,
      s"sample mean $meanSel not above corpus mean $meanAll — weighting vacuous")
  }

  test("native rolling_hash_fp matches the split/ascii fold incl. non-ASCII") {
    import spark.implicits._
    def diffs(df: org.apache.spark.sql.DataFrame) = df.select(
        graft.functions.GraftFunctions.rollingHashFp(col("text")).as("native"),
        TextOps.docFingerprintAlgebra(col("text")).as("algebra"))
      .filter(col("native") =!= col("algebra")).count()
    assert(diffs(Tables.documents(spark, SfDir).select("text")) == 0)
    // edges: empty text (split('') gives one "" element, ascii 0 — hash
    // 0), 1 char, 2-byte (u-umlaut) / 3-byte (CJK) sequences, an astral
    // pair (surrogates stay one code point), and mixes
    val edge = Seq("", "a", "ü", "中文 text", "a😀b",
      "mixed é中😀 tail", " leading and trailing ")
      .toDF("text")
    assert(diffs(edge) == 0)
  }

  test("bigrams of sub-2-token docs are empty, not a runtime error") {
    import spark.implicits._
    val out = Seq("solo", "", "  ", "two words", "a b c")
      .toDF("text")
      .select(explode_outer(TextOps.bigrams(TextOps.wsTokens(col("text")))).as("bigram"))
      .filter(col("bigram").isNotNull)
      .as[String].collect().toSeq.sorted
    assert(out == Seq("a b", "b c", "two words"))
  }

  test("lang-id argmax policy is deterministic: same hits → same prediction") {
    val out = TextOps.qLangId(spark, SfDir)
    // prediction is a pure function of the text → equal texts equal preds
    assert(out.count() == Tables.documents(spark, SfDir).count())
    val preds = out.select("pred_lang").distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "fr", "es", "zh", "und")))
  }

  test("stratified sample is deterministic and rate-faithful per stratum") {
    val a = TextOps.qStratifiedSample(spark, SfDir).collect()
    val b = TextOpsSpecHelper.rerun(spark, SfDir)
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq, "sample not reproducible")
    assert(a.forall { r =>
      val cap = if (r.getString(1) == "en") 32 else 64
      r.getAs[Long]("bucket") < cap
    })
    // keep rates land near the configured 32/128 and 64/128 (±50% slack on
    // a small corpus: the buckets are hash-uniform, not exact quotas)
    val total = Tables.documents(spark, SfDir)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    kept.foreach { case (lang, n) =>
      val expect = total(lang) * (if (lang == "en") 32.0 else 64.0) / 128.0
      assert(n > expect * 0.5 && n < expect * 1.5, s"$lang kept $n, expected ~$expect")
    }
  }

  test("r11 plan contracts: domain stats prunes to 3 columns, windows on the hash; bpe reads only text") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.window.WindowExec
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    def docScanCols(df: org.apache.spark.sql.DataFrame): Seq[Set[String]] =
      walk(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
            if s.relation.location.inputFiles.exists(_.contains("documents")) =>
          s.requiredSchema.fieldNames.toSet
      }
    // domain stats: the scan must carry ONLY the three consumed columns —
    // a scan dragging all columns through the string pipeline is wrong
    val dom = graft.text.TextOps.qDomainStats(spark, SfDir)
    assert(docScanCols(dom).forall(_ == Set("doc_id", "text", "source")),
      s"domain-stats scan over-reads: ${docScanCols(dom)}")
    // and its one window partitions by the content hash (distributed),
    // never unpartitioned over the corpus
    val domWins = walk(dom.queryExecution.executedPlan).collect { case w: WindowExec => w }
    assert(domWins.nonEmpty && domWins.forall(_.partitionSpec.nonEmpty),
      "domain-stats window lost its hash partitioning")
    // bpe encode: the corpus scan reads ONLY text (vocab collapse first);
    // its id-ranking window is unpartitioned BY DESIGN but runs over the
    // vocabulary-sized frame, never the corpus
    val bpe = graft.text.TextOps.qBpeEncode(spark, SfDir)
    assert(docScanCols(bpe).forall(_ == Set("text")),
      s"bpe-encode scan over-reads: ${docScanCols(bpe)}")
  }

  test("bpe encode: cascading merges land, every word round-trips, ids positive") {
    val rows = TextOps.qBpeEncode(spark, SfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (w, (f, nc, ns, ck, rt)) =>
      assert(rt, s"'$w' did not round-trip through its subwords")
      assert(f > 0 && ns >= 1 && ns <= nc, s"'$w' counts")
      assert(ck > 0, s"'$w' checksum")
    }
    // hand-derived applications of the planted table pin the semantics:
    // 'the' exercises the CASCADE (t+h -> th, then th+e -> the -> one
    // subword); 'customer' takes two independent merges (st, er);
    // 'batch' takes one (at); 'stream' must NOT merge (e,r) backwards
    // (its adjacency is r-e, not e-r)
    for ((w, expected) <- Seq("the" -> 1L, "customer" -> 6L,
        "batch" -> 4L, "stream" -> 5L) if rows.contains(w))
      assert(rows(w)._3 == expected,
        s"'$w' encoded to ${rows(w)._3} subwords, expected $expected")
    assert(rows.contains("the"), "corpus lost its cascade witness word")
  }

  test("quality classifier: planted classes separate; hashing-trick bookkeeping exact") {
    val rows = TextOps.qQualityClassifier(spark, SfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(rows.nonEmpty)
    val spam = rows.filter(_._1 % 5 == 0).values
    val prose = rows.filter(_._1 % 5 == 1).values
    assert(spam.nonEmpty && prose.nonEmpty)
    // every planted spam doc drops, every planted prose doc keeps, and
    // the margin between the classes is model-scale wide (≥ 13M: spam
    // suffix sums to -7.4M, prose to +5.85M; base text can only add the
    // small `the` weight on both sides)
    spam.foreach { case (_, hits, logit, label) =>
      assert(label == "drop" && logit < -7000000L, s"spam doc scored $logit")
      assert(hits >= 7, "spam suffix features missed the weight table") // 5 uni + 2 bi
    }
    prose.foreach { case (_, hits, logit, label) =>
      assert(label == "keep" && logit > 5000000L, s"prose doc scored $logit")
      assert(hits >= 8, "prose suffix features missed the weight table")
    }
    assert(prose.map(_._3).min - spam.map(_._3).max > 12000000L,
      "planted class margin collapsed")
    // feature bookkeeping: unigrams + bigrams of an n-token doc = 2n-1
    // features; recompute one doc's count from its raw text
    val probe = rows.keys.min
    val text = Tables.documents(spark, SfDir)
      .filter(col("doc_id") === probe).select("text").head().getString(0)
    val nTok = text.trim.split("\\s+").length +
      (if (probe % 5 == 0 || probe % 5 == 1) 7 else 0) // planted suffixes add 7 words
    assert(rows(probe)._1 == 2L * nTok - 1L,
      s"doc $probe: ${rows(probe)._1} features for $nTok tokens")
    // base-text participation: a neutral doc containing `the` must score
    // positive (the base weight), one without must score exactly 0
    val neutral = rows.filter(_._1 % 5 >= 2)
    assert(neutral.values.exists(_._3 > 0) ,
      "no neutral doc picked up the base-text weight — base scoring dead")
    neutral.foreach { case (id, (_, hits, logit, label)) =>
      if (hits == 0) assert(logit == 0L && label == "drop",
        s"neutral doc $id with zero hits scored $logit")
    }
  }

  test("BpeMerges satisfies the single-pass-per-rank table contract") {
    // qBpeEncode applies each rank exactly once in order; that equals
    // full iterative BPE only while no merge's OUTPUT is a component of
    // an earlier-or-equal-rank pair (its application could re-create a
    // pair whose pass already ran). A violating edit to the planted
    // table must fail HERE, not silently diverge from real-tokenizer
    // semantics while both engines still agree (ADVICE r11).
    def violations(t: Seq[(String, String)]): Seq[String] =
      t.zipWithIndex.flatMap { case ((l, r), i) =>
        val out = l + r
        t.take(i + 1).zipWithIndex.collect {
          case ((pl, pr), j) if out == pl || out == pr =>
            s"merge #$i ($l+$r -> '$out') re-creates pair #$j ($pl,$pr) " +
              "after that rank's single pass has already run"
        }
      }
    assert(violations(TextOps.BpeMerges).isEmpty,
      s"BpeMerges violates the single-pass contract: ${violations(TextOps.BpeMerges)}")
    // controls: the legitimate cascade (earlier output feeding a LATER
    // pair, th->the in the real table) must pass; a later output that
    // equals an EARLIER pair's component must fire
    assert(violations(Seq("a" -> "b", "ab" -> "c")).isEmpty,
      "checker wrongly flags the legitimate cascade shape")
    assert(violations(Seq("ab" -> "c", "a" -> "b")).nonEmpty,
      "checker is blind: rank-1 output 'ab' enables rank-0's pair only " +
        "after rank-0's pass already ran — it must be flagged")
  }

  test("domain stats: canonicalization clean, registrable domains, dup share only where planted") {
    val rows = TextOps.qDomainStats(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // registrable-domain extraction survived the raw URLs' case noise,
    // www/cdn subdomains, explicit :443, utm params, and fragments
    rows.foreach { case (d, nDocs, nUrls, mass, dups, share) =>
      assert(d.matches("^src\\d+\\.(co\\.uk|com|org)$"), s"malformed domain $d")
      assert(nUrls >= 1 && nUrls <= nDocs, s"$d: $nUrls urls for $nDocs docs")
      assert(mass > 0 && dups >= 0 && dups <= nDocs)
      assert(share == dups * 1000000L / nDocs, s"$d dup-share arithmetic")
    }
    // token mass conservation: rollup total == corpus + planted copies
    val docs = Tables.documents(spark, SfDir)
    val baseMass = docs
      .select(org.apache.spark.sql.functions.size(
        TextOps.wsTokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    val plantedMass = docs.filter(col("doc_id") % 10 === 0)
      .select(org.apache.spark.sql.functions.size(
        TextOps.wsTokens(col("text"))).cast("long").as("n"))
      .agg(sum("n")).head().getLong(0)
    assert(rows.map(_._4).sum == baseMass + plantedMass, "token mass not conserved")
    // dups exist exactly where the planted copies land (src0/src10
    // families: every doc_id there is divisible by 10)
    assert(rows.exists(_._5 > 0), "planted dup share never materialized")
  }

  test("domain mix: rates bounded, under-share sources kept whole, math exact") {
    val rows = TextOps.qDomainMix(spark, SfDir).collect()
    assert(rows.length >= 2, "corpus has a single source — mixture test vacuous")
    val total = rows.map(_.getLong(2)).sum
    val target = total / rows.length
    rows.foreach { r =>
      val (nTok, tgt, rate, exp) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tgt == target, s"${r.getString(0)} target $tgt != $target")
      assert(rate >= 1 && rate <= 1000000L, s"${r.getString(0)} rate $rate")
      // under-represented sources are kept whole; over-represented ones
      // land at/under the target after reweighting
      if (nTok <= target) assert(rate == 1000000L, s"${r.getString(0)} downsampled an under-share source")
      else assert(exp <= target, s"${r.getString(0)} expected $exp > target $target")
      assert(exp == nTok * rate / 1000000L)
    }
  }

  test("domain-mix rate arithmetic is overflow-safe and exact at petabyte token counts") {
    import spark.implicits._
    // the quotient/remainder decomposition must equal BigInt truth right
    // up to its documented ~9.2e15-token domain (t*1e6 would overflow
    // Long past ~9.2e12 — the review finding the decomposition fixes)
    val cases = Seq(
      (9200000000000000L, 9100000000000000L), // ~9.2e15: near the domain edge
      (12345678901234L, 98765432109876L),     // ~1e13/1e14: past the naive overflow
      (98765432109876L, 12345678901234L),     // over-share: must cap at 1e6
      (1L, 3L), (500L, 499L), (7L, 7L))
    cases.foreach { case (t, n) =>
      val rate = Seq((t, n)).toDF("target_tokens", "n_tokens")
        .selectExpr("least(1000000, (target_tokens * 1000 div n_tokens) * 1000" +
          " + ((target_tokens * 1000 % n_tokens) * 1000) div n_tokens) AS rate")
        .head().getLong(0)
      val wantRate = (BigInt(t) * 1000000 / BigInt(n)).min(BigInt(1000000))
      assert(BigInt(rate) == wantRate, s"rate t=$t n=$n: $rate != $wantRate")
      val exp = Seq((n, rate)).toDF("n_tokens", "rate")
        .selectExpr("(n_tokens div 1000000) * rate" +
          " + ((n_tokens % 1000000) * rate) div 1000000 AS e")
        .head().getLong(0)
      assert(BigInt(exp) == BigInt(n) * BigInt(rate) / 1000000,
        s"expected_tokens t=$t n=$n")
    }
  }

  test("repetition ratio: hand-built docs get exact basis points; corpus is non-vacuous") {
    import spark.implicits._
    val out = TextOps.qRepetitionRatio(spark, SfDir)
    assertNonEmpty(out, "text_repetition_ratio")
    assert(out.filter(col("dup_word_bp") > 0).count() > 0,
      "corpus has no repeated words — vacuous")
    // exact checks on a tiny literal frame routed through the same algebra
    val lit = Seq((1L, "a a a a"), (2L, "a b c d"), (3L, "a b a b"), (4L, "solo"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.wsTokens(col("text")).as("words"))
      .select(col("doc_id"),
        round((size(col("words")) - size(array_distinct(col("words")))) * 10000.0
          / size(col("words"))).cast("long").as("dup_word_bp"),
        round((size(TextOps.bigrams(col("words"))) - size(array_distinct(TextOps.bigrams(col("words")))))
          * 10000.0 / size(TextOps.bigrams(col("words")))).cast("long").as("dup_bigram_bp"))
      .orderBy("doc_id").collect()
    assert(lit(0).getLong(1) == 7500L)   // a a a a: 3/4 words dup
    assert(lit(0).getLong(2) == 6667L)   // bigrams [a a, a a, a a]: 2/3 dup
    assert(lit(1).getLong(1) == 0L)      // all distinct
    assert(lit(2).getLong(2) == 3333L)   // [a b, b a, a b]: 1/3 dup
    assert(lit(3).isNullAt(2))           // <2 tokens → null bigram ratio
  }

  test("boilerplate spans: planted shared span is found; singleton docs report zero") {
    val out = TextOps.qBoilerplateSpans(spark, SfDir)
    assert(out.count() == Tables.documents(spark, SfDir).count(),
      "every doc must get a row (zero-share docs included)")
    assert(out.filter(col("n_shared") > 0).count() > 0,
      "corpus has no cross-doc shared 5-gram spans — vacuous")
    assert(out.filter(col("n_shared") === 0).count() > 0,
      "no zero-share docs — the join-back would hide dropped rows")
    assert(out.filter(col("n_shared") > col("n_spans")).count() == 0)
  }

  test("contamination: benchmark docs excluded, near-dups of benchmark docs flagged") {
    val out = TextOps.qContamination(spark, SfDir)
    assert(out.filter(col("doc_id") % 97 === 0).count() == 0,
      "benchmark docs must not appear in the evaluated set")
    assert(out.filter(col("n_contaminated") > 0).count() > 0,
      "nothing flagged — vacuous (the corpus plants near-dups, some hit the mod-97 slice)")
    assert(out.filter(col("contam_bp") > 10000).count() == 0, "ratio above 100%")
  }

  test("sequence packing equals the global cumsum contract, without a global window") {
    import spark.implicits._
    val got = TextOps.qPackSequences(spark, SfDir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // reconstruct the contract naively: global running sum in doc_id order
    val toks = TextOps.qTokenCount(spark, SfDir)
      .select("doc_id", "n_ws_tokens").as[(Long, Long)].collect().sortBy(_._1)
    var start = 0L
    val want = toks.map { case (id, n) =>
      val row = (id, n, start, start / 2048, (start + n - 1) / 2048, start % 2048)
      start += n; row
    }
    assert(got.toSeq == want.toSeq, "distributed prefix sum != global cumsum contract")
    // boundary invariants: offsets inside the window, sequence ids monotone
    assert(got.forall { case (_, _, _, _, _, off) => off >= 0 && off < 2048 })
    assert(got.sliding(2).forall { case Array((_, _, s1, _, _, _), (_, _, s2, _, _, _)) => s1 <= s2
      case _ => true })
    // the plan must NOT contain a global (empty-partition-spec) window —
    // every Window operator keys on the range bucket
    val plan = TextOps.qPackSequences(spark, SfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val windowLines = plan.linesIterator.filter(_.contains("Arguments: [sum")).toSeq
    assert(windowLines.forall(_.contains("partitionBy")) || !plan.contains("Window ()"),
      s"global window detected:\n$plan")
  }

  test("bigram novelty: hand-built corpus gets exact counts; corpus is non-vacuous") {
    val out = TextOps.qBigramNovelty(spark, SfDir)
    assert(out.count() == Tables.documents(spark, SfDir).count())
    val nz = out.filter(col("n_novel") > 0).count()
    assert(nz > 0, "no novel bigrams anywhere — vacuous")
    assert(out.filter(col("n_novel") > col("n_distinct_bigrams")).count() == 0)
    // exact check on a literal mini-corpus routed through the same algebra:
    // doc1 shares "b c" with doc2; every other bigram appears once
    import spark.implicits._
    val mini = Seq((1L, "a b c d"), (2L, "x b c y"), (3L, "solo"))
      .toDF("doc_id", "text")
    val bgs = array_distinct(TextOps.bigrams(TextOps.wsTokens(col("text"))))
    val docBgs = mini.select(col("doc_id"), explode_outer(bgs).as("g"))
      .filter(col("g").isNotNull)
    val dfreq = docBgs.groupBy("g").agg(count(lit(1)).as("df"))
    val res = docBgs.join(dfreq, "g").groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, n, nov) => id -> ((n, nov)) }.toMap
    assert(res.get(1L).contains((3L, 2L)), s"doc1: ${res.get(1L)}") // a b, b c, c d; only b c shared
    assert(res.get(2L).contains((3L, 2L)), s"doc2: ${res.get(2L)}")
    assert(!res.contains(3L)) // no bigrams in a 1-token doc
  }

  test("heavy hitters: exact top-20 matches a direct count and CMS bounds hold") {
    import spark.implicits._
    val rows = TextOps.qHeavyHitters(spark, SfDir)
      .as[(String, Long, Boolean)].collect()
    assert(rows.length == 20)
    assert(rows.forall(_._3), "a CMS estimate broke its never-below / eps-above contract")
    val direct = Tables.documents(spark, SfDir)
      .select(explode(TextOps.wsTokens(col("text"))).as("w"))
      .groupBy("w").count()
      .orderBy(col("count").desc, col("w")).limit(20)
      .as[(String, Long)].collect()
    assert(rows.map(r => (r._1, r._2)).toSeq == direct.toSeq,
      "sketch-gated exact counts drifted from a direct groupBy count")
  }

  test("budget select equals the global greedy cumsum rule and respects the budget") {
    import spark.implicits._
    val got = TextOps.qBudgetSelect(spark, SfDir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    // reconstruct the contract directly: order all docs by (score desc,
    // doc_id), take while inclusive cumsum <= 10% of corpus tokens
    val all = TextOps.qQualityScore(spark, SfDir)
      .select(col("doc_id"), col("stopword_ratio_bp").as("s"), col("n_tokens").as("t"))
      .as[(Long, Long, Long)].collect()
    val budget = all.map(_._3).sum / 10
    var cum = 0L
    val want = all.sortBy { case (id, s, _) => (-s, id) }
      .takeWhile { case (_, _, t) => cum += t; cum <= budget }
      .map { case (id, s, t) => (id, s, t) }.sortBy(_._1)
    assert(got.toSeq == want.toSeq, s"phased selection != global rule")
    assert(got.map(_._3).sum <= budget)
    // the selection must be a real cut, not everything or nothing
    assert(got.length < all.length && got.nonEmpty)
  }

  test("vocab encode matches a driver-side recompute of vocab and checksums") {
    val rows = TextOps.qVocabEncode(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val texts = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size)
    def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    // driver-side vocab: top-16 by (count desc, word), ids 1-based
    val vocab = texts.values.toSeq.flatMap(toks)
      .groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(16)
      .zipWithIndex.map { case ((w, _), i) => w -> (i + 1).toLong }.toMap
    rows.foreach { case (id, nTok, nUnk, checksum) =>
      val ts = toks(texts(id))
      assert(nTok == ts.length, s"doc $id n_tokens")
      assert(nUnk == ts.count(!vocab.contains(_)), s"doc $id n_unk")
      val want = ts.zipWithIndex.map { case (w, i) =>
        (i + 1).toLong * vocab.getOrElse(w, 0L) }.sum
      assert(checksum == want, s"doc $id checksum $checksum != $want")
    }
    // non-vacuous: the corpus must actually have OOV words AND vocab hits
    assert(rows.map(_._3).sum > 0, "no UNK anywhere — vocab cut vacuous")
    assert(rows.map(_._4).sum > 0, "no vocab hits — encoding vacuous")
  }

  test("BPE pair mining matches a driver-side frequency fold") {
    val got = TextOps.qBpePairs(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.size == 50)
    val texts = Tables.documents(spark, SfDir)
      .select("text").collect().map(_.getString(0))
    val wf = texts.flatMap(_.trim.split("\\s+")).filter(_.length >= 2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairs = scala.collection.mutable.Map.empty[String, Long]
    wf.foreach { case (w, f) =>
      (0 until w.length - 1).foreach { i =>
        val p = w.substring(i, i + 2)
        pairs(p) = pairs.getOrElse(p, 0L) + f
      }
    }
    val want = pairs.toSeq.sortBy { case (p, n) => (-n, p) }.take(50)
    assert(got == want)
    // the top merge must be a genuinely frequent pair, not a tie artifact
    assert(got.head._2 > got.last._2, "top-50 all tied — corpus too uniform to verify ordering")
  }

  test("LM perplexity: micronat sums replay exactly from a driver-side bigram LM") {
    val got = TextOps.qLmPerplexity(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val ref = docs.filter(_._1 % 5 == 0)
    val uni = ref.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val v = uni.size.toLong
    val bi = ref.map(_._2).filter(_.size >= 2)
      .flatMap(ws => ws.sliding(2).map(s => s"${s(0)} ${s(1)}"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = docs.filter(d => d._1 % 5 != 0 && d._2.size >= 2).map { case (id, ws) =>
      val nlls = ws.sliding(2).toSeq.map { s =>
        val c1 = uni.getOrElse(s(0), 0L)
        val c12 = bi.getOrElse(s"${s(0)} ${s(1)}", 0L)
        math.round(math.log((c1 + v).toDouble / (c12 + 1).toDouble) * 1e6)
      }
      (id, nlls.size.toLong, nlls.sum, math.floorDiv(nlls.sum, nlls.size.toLong))
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // non-vacuous: reference-slice prose must score better than the tail —
    // i.e. the LM discriminates (spread in mean NLL across scored docs)
    val means = got.map(_._4)
    assert(means.distinct.length > 1, "all docs identical mean NLL — LM vacuous")
  }

  test("tfidf top terms: ranks contiguous, scores monotone, values replayed exactly") {
    val out = TextOps.qTfidfTopTerms(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
    val byDoc = out.groupBy(_._1)
    byDoc.values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        "per-doc ranks must be contiguous from 1")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._5 >= b._5
        case _ => true
      }, "scores must be non-increasing in rank")
    }
    // differential replay from the raw text, whole pipeline in plain Scala
    val texts = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq).toMap
    val n = texts.size.toDouble
    val df = texts.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val want = texts.flatMap { case (id, words) =>
      words.groupBy(identity).view.mapValues(_.size).toSeq
        .map { case (w, tf) =>
          val idf = math.round(math.log(n / df(w)) * 1e6)
          (id, w, tf.toLong, tf * idf) }
        .sortBy { case (_, w, _, s) => (-s, w) }
        .take(3).zipWithIndex
        .map { case ((_, w, tf, s), i) => (id, i + 1L, w, tf, s) }
    }.toSeq.sortBy(t => (t._1, t._2))
    assert(out.toSeq.sortBy(t => (t._1, t._2)) == want)
    // non-vacuous: salience discriminates — some doc's top-1 is positive
    assert(out.exists(t => t._2 == 1L && t._5 > 0L))
  }

  test("unigram entropy: micronat sums replay exactly; repetition scores zero") {
    val got = TextOps.qUnigramEntropy(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .map { case (id, ws) =>
        val n = ws.size.toLong
        val counts = ws.groupBy(identity).view.mapValues(_.size.toLong)
        val sum = counts.values.map(c =>
          c * math.round(math.log(n.toDouble / c.toDouble) * 1e6)).sum
        (id, n, counts.size.toLong, sum, math.floorDiv(sum, n))
      }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // cut is non-vacuous: the corpus must spread (repetitive vs diverse)
    assert(got.map(_._5).distinct.length > 1, "all docs same entropy — vacuous")
    // boundary facts on hand-built docs through the same arithmetic: a
    // one-word doc is exactly 0; all-distinct words is exactly ln(n)
    import spark.implicits._
    val planted = Seq((1L, "x x x x x"), (2L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .withColumn("n", sum("c").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .groupBy("doc_id")
      .agg(sum(col("c") * round(log(col("n").cast("double") / col("c").cast("double")) * 1e6)
        .cast("long")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(planted(1L) == 0L)
    assert(planted(2L) == 4L * math.round(math.log(4.0) * 1e6))
  }

  test("DSIR weights: micronat log-ratios replay exactly; target domain separates") {
    val got = TextOps.qDsirWeights(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).trim.split("\\s+").toSeq))
    val tgtSet = Set("src0", "src1", "src2", "src3")
    val all = docs.flatMap { case (_, src, ws) => ws.map(w => (tgtSet(src), w)) }
    val cr = all.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val ct = all.filter(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nr = all.size.toLong
    val nt = all.count(_._1).toLong
    val v = cr.size.toLong
    val want = docs.map { case (id, _, ws) =>
      val s = ws.map { w =>
        math.round(math.log(
          (ct.getOrElse(w, 0L) + 1L).toDouble * (nr + v).toDouble /
            ((cr(w) + 1L).toDouble * (nt + v).toDouble)) * 1e6)
      }.sum
      (id, ws.size.toLong, s, s / ws.size) // Long / truncates = `div`
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // the selection signal is real: target-domain docs must outscore the
    // rest on average, or resampling by these weights selects noise
    val isTgt = docs.map { case (id, src, _) => id -> tgtSet(src) }.toMap
    val (t, o) = got.partition(r => isTgt(r._1))
    assert(t.nonEmpty && o.nonEmpty)
    assert(t.map(_._4).sum.toDouble / t.length > o.map(_._4).sum.toDouble / o.length,
      "target slice does not outscore off-domain docs — no selection signal")
  }

  test("ccnet buckets: per-lang value-monotone, all scored docs labeled, non-vacuous") {
    val rows = TextOps.qCcnetBucket(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val scored = TextOps.qLmPerplexity(spark, SfDir).count()
    assert(rows.length == scored, "every scored doc gets a bucket")
    val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    rows.groupBy(_._2).foreach { case (lang, ls) =>
      // buckets must respect the value order: max(head) <= min(middle) <= ...
      val byB = ls.groupBy(_._4)
      assert(byB.keySet.subsetOf(order.keySet))
      for (a <- byB.keys; b <- byB.keys; if order(a) < order(b))
        assert(byB(a).map(_._3).max <= byB(b).map(_._3).min,
          s"$lang: $a values overrun $b")
      // the cut is live in every language: no lang collapses to one bucket
      assert(byB.size == 3, s"$lang: only ${byB.keys} buckets present")
    }
  }

  test("ccnet: an unsampled language buckets by global cutoffs, not all-'tail' (ADVICE r9)") {
    // Plant a language whose every doc hashes OUTSIDE the cutoff sample:
    // before the fallback, its per-lang cutoffs were null and every doc
    // fell through to 'tail' — under keep-head+middle the whole language
    // was silently dropped (and the oracle mirrored it, so the gate
    // could not catch it). With the fallback those docs must bucket by
    // the GLOBAL sample cutoffs.
    val dir = java.nio.file.Files.createTempDirectory("graft_ccnet_unsampled").toString
    // 4 re-keyed copies -> 2000 docs -> cap = ceil(1024*1000/2000) = 512:
    // roughly half the corpus sits outside the sample, so unsampled
    // scored docs exist to plant on (at the natural 500-doc corpus the
    // cap is 1024 and EVERYTHING is sampled — the bug was unreachable)
    val base = Tables.documents(spark, SfDir)
    val big = (0 until 4).map(k =>
        base.withColumn("doc_id", col("doc_id") + lit(k * 1000L)))
      .reduce(_ unionByName _)
    val cap = 512L
    val hb = shiftrightunsigned(graft.functions.GraftFunctions
      .md5Hash64Array(array(col("doc_id").cast("string"))).getItem(0), 8)
      .bitwiseAND(lit(1023L))
    val zzIds = big.withColumn("hb", hb)
      .filter(col("hb") >= cap && col("doc_id") % 5 =!= 0)
      .select("doc_id").orderBy("doc_id").limit(40)
      .collect().map(_.getLong(0)).toSet
    assert(zzIds.size == 40, "not enough unsampled scored docs to plant")
    big.withColumn("lang",
        when(col("doc_id").isInCollection(zzIds), lit("zz")).otherwise(col("lang")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = TextOps.qCcnetBucket(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val hbMap = big.select(col("doc_id"), hb.as("hb")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val zzRows = rows.filter(_._2 == "zz")
    assert(zzRows.nonEmpty && zzRows.forall(r => hbMap(r._1) >= cap),
      "construction broke: a planted doc landed in the sample")
    // replicate the fallback: global tercile cutoffs over the sampled
    // scored docs, (value, doc_id)-ordered, ranks (m+2)/3 and (2m+2)/3
    val sample = rows.filter(r => hbMap(r._1) < cap).sortBy(r => (r._3, r._1))
    val gm = sample.length
    val (g1, g2) = (sample((gm + 2) / 3 - 1)._3, sample((2 * gm + 2) / 3 - 1)._3)
    zzRows.foreach { case (id, _, v, b) =>
      val exp = if (v <= g1) "head" else if (v <= g2) "middle" else "tail"
      assert(b == exp, s"doc $id: bucket $b, expected $exp under global fallback")
    }
    assert(zzRows.exists(_._4 != "tail"),
      "vacuous plant — every planted doc is 'tail' even under the fallback")
  }

  test("substring dedup POLICY: a run made ONLY of hot boilerplate grams is dropped (VERDICT r9 ask #3)") {
    // The df<=32 cap silently drops verbatim runs consisting ONLY of
    // ultra-common 8-grams (e.g. a boilerplate header pasted into 40+
    // docs). This spec makes that outcome EXPLICIT and pins it as
    // policy, not accident: such runs are boilerplate — the business of
    // qBoilerplateSpans (which mines exactly the high-df gram spans) —
    // and reporting the quadratic pair fan-out of a hot header
    // (40 docs -> 780 pairs, 10^5 docs -> 10^9 pairs) is the scale
    // failure the cap exists to prevent. A run with ANY rare-gram
    // stretch of >= 2 consecutive grams still surfaces its pair.
    val spark2 = spark
    import spark2.implicits._
    val header = (1 to 10).map(i => s"boiler$i").mkString(" ") // 3 8-grams
    val rare = (1 to 12).map(i => s"unique$i").mkString(" ")   // 5 8-grams
    val docs =
      // 40 filler docs all carrying the header: df(header grams) = 42 > 32
      (1 to 40).map(i => (i.toLong, s"$header filler${i}a filler${i}b filler${i}c")) ++
        // the planted HOT-ONLY pair: shared text is exactly the header
        // (tails < 8 words add no shared grams)
        Seq((1001L, s"$header aa1 aa2"), (1002L, s"$header bb1 bb2")) ++
        // the control pair: a 12-word verbatim run of df=2 grams
        Seq((2001L, s"$rare cc1 cc2"), (2002L, s"$rare dd1 dd2"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hotgram").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = TextOps.qSubstringDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // the control pair IS found, with the exact run length
    assert(pairs.contains((2001L, 2002L)), s"control pair missing: ${pairs.keys}")
    assert(pairs((2001L, 2002L))._1 == 12L, s"control run length ${pairs((2001L, 2002L))}")
    // the hot-only pair is MISSED — the documented cap policy
    assert(!pairs.contains((1001L, 1002L)),
      "hot-only pair reported — the df cap no longer fires; re-measure its scale bound")
    // and no pair among the 40 header carriers either (their only shared
    // run is the header): the cap is what keeps this from being 780 rows
    assert(pairs.keys.forall { case (a, b) => a > 40L || b > 40L },
      s"boilerplate fan-out leaked through the cap: ${pairs.keys.filter(p => p._1 <= 40 && p._2 <= 40)}")
    // the dropped mass is exactly what qBoilerplateSpans exists to mine:
    // the header grams must be visible to the boilerplate detector
    val spans = TextOps.qBoilerplateSpans(spark, dir).collect()
    assert(spans.nonEmpty, "boilerplate detector blind to the hot header")
  }

  test("substring dedup: reported runs equal a direct per-pair scan of the texts") {
    val rows = TextOps.qSubstringDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty, "no substring pairs — miner untested")
    val words = Tables.documents(spark, SfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+")).toMap
    // the df<=32 cap never fires on this corpus (max 8-gram df is ~4), so
    // the reported runs must EQUAL the uncapped quadratic ground truth
    rows.foreach { case (a, b, longest, mass) =>
      val (wa, wb) = (words(a), words(b))
      var best = 0; var total = 0L
      for (diag <- -(wb.length - 8) to (wa.length - 8)) {
        var run = 0
        for (i <- math.max(0, diag) to math.min(wa.length - 8, wb.length - 8 + diag)) {
          val j = i - diag
          if (wa.slice(i, i + 8).sameElements(wb.slice(j, j + 8))) { run += 1; total += 1 }
          else { if (run > best) best = run; run = 0 }
        }
        if (run > best) best = run
      }
      assert(best + 7 == longest, s"pair ($a,$b): longest run mismatch")
      assert(total == mass, s"pair ($a,$b): shared-gram mass mismatch")
      assert(longest >= 9, "threshold must hold for every reported pair")
    }
  }

  test("train split: leak flags equal the cross-split pair closure, splits all live") {
    val rows = TextOps.qTrainSplit(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val split = rows.map(r => r._1 -> r._2).toMap
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq("test", "train", "val"),
      "a split bucket is empty — proportions untested")
    // ground truth from the registered miner itself
    val pairs = graft.dedup.DedupOps.qNgramJaccard(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val leakyTruth = pairs.filter { case (a, b) => split(a) != split(b) }
      .flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(leakyTruth.nonEmpty, "no cross-split near-dup — leak path vacuous")
    rows.foreach { case (id, _, leaky) =>
      assert(leaky == leakyTruth(id), s"doc $id leak flag mismatch") }
  }

  test("lang-source MI: cells replay from driver counts, identities hold") {
    val rows = TextOps.qLangSourceMi(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val meta = Tables.documents(spark, SfDir).select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val joint = meta.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nl = meta.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val ns = meta.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = meta.length.toLong
    assert(rows.length == joint.size, "one row per observed (lang, source) cell")
    rows.foreach { case (l, s, nls, pmi, contrib) =>
      assert(nls == joint((l, s)))
      val want = math.round(math.log(
        nls.toDouble * n.toDouble / (nl(l).toDouble * ns(s).toDouble)) * 1e6)
      assert(pmi == want, s"($l,$s): pmi mismatch")
      assert(contrib == nls * pmi)
    }
    // the audit is non-vacuous: PMI must vary across cells (perfectly
    // uniform synthetic metadata would make every pmi identical)
    assert(rows.map(_._4).distinct.length > 1)
  }

  test("sentence dedup: planted cross-doc and within-doc repeats resolve first-occurrence-wins") {
    import spark.implicits._
    val A = (1 to 10).map(i => s"aa$i").mkString(" ") // one full chunk
    val B = (1 to 10).map(i => s"bb$i").mkString(" ")
    val C = (1 to 10).map(i => s"cc$i").mkString(" ")
    val D = (1 to 10).map(i => s"dd$i").mkString(" ")
    val docs = Seq(
      (1L, s"$A $B"),      // both chunks first occurrences — fully kept
      (2L, s"$A $C"),      // chunk A already owned by doc 1 — dropped here
      (3L, s"$D $D"),      // WITHIN-doc repeat: first D kept, second dropped
      (4L, "one two three")) // short doc, single partial chunk
    val dir = java.nio.file.Files.createTempDirectory("graft_sentdedup").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.qSentenceDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 0L, s"$A $B")), s"doc 1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, C)), s"doc 2: ${got(2L)}")
    assert(got(3L) == ((2L, 1L, D)), s"doc 3: ${got(3L)}")
    assert(got(4L) == ((1L, 0L, "one two three")), s"doc 4: ${got(4L)}")
  }

  test("sentence dedup: corpus drop mass equals occurrences minus distinct chunks; untouched docs round-trip") {
    val rows = TextOps.qSentenceDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val texts = Tables.documents(spark, SfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == texts.size, "one row per document")
    // independent recomputation of the global accounting identity:
    // exactly one occurrence of each distinct chunk text survives
    val chunks = texts.values.flatMap(_.trim.split("\\s+").grouped(10).map(_.mkString(" ")))
    val dropped = rows.map(_._3).sum
    assert(dropped == chunks.size - chunks.toSet.size,
      s"drop mass $dropped vs ${chunks.size} occurrences / ${chunks.toSet.size} distinct")
    assert(dropped > 0, "corpus has no repeated chunk — the dedup path is unexercised")
    // a document that lost nothing must reconstruct to its exact text
    val untouched = rows.filter(_._3 == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, _, _, kept) =>
      assert(kept == texts(id).trim, s"doc $id: reconstruction drifted")
    }
    // and every document's chunk count is the strided-chunking count
    rows.foreach { case (id, nChunks, _, _) =>
      val nw = texts(id).trim.split("\\s+").length
      assert(nChunks == (nw - 1) / 10 + 1, s"doc $id chunk count")
    }
  }
  test("chunk windows: full coverage, exact stride overlap, fingerprints match a direct slice") {
    val W = 32L; val S = 24L
    val out = TextOps.qTextChunkWindows(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    val docs = Tables.documents(spark, SfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byDoc = out.groupBy(_._1)
    assert(byDoc.keySet == docs.keySet, "every doc chunks, no doc invented")
    // the corpus must actually exercise multi-chunk docs or the stride
    // logic is untested
    assert(byDoc.values.exists(_.length > 1), "no multi-chunk doc at this SF")
    byDoc.foreach { case (id, chunks) =>
      val n = docs(id).trim.split("\\s+").length.toLong
      val expChunks = 1L + math.ceil(math.max(n - W, 0L) / S.toDouble).toLong
      assert(chunks.length == expChunks, s"doc $id chunk count")
      val sorted = chunks.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, ci, st, len, _), i) =>
        assert(ci == i && st == i * S, s"doc $id chunk $i start")
        assert(len == math.min(W, n - st), s"doc $id chunk $i length")
        assert(len >= 1, s"doc $id empty chunk")
      }
      // coverage: the last chunk reaches the final token; overlap: each
      // non-first chunk re-covers exactly W - S tokens of its
      // predecessor (when the predecessor is full-width)
      val (_, _, lastSt, lastLen, _) = sorted.last
      assert(lastSt + lastLen == n, s"doc $id tail not covered")
      sorted.sliding(2).foreach {
        case Array((_, _, st1, len1, _), (_, _, st2, _, _)) =>
          if (len1 == W) assert(st1 + len1 - st2 == W - S, s"doc $id overlap")
        case _ =>
      }
    }
    // fingerprint: replay one multi-chunk doc directly from its tokens
    val (mid, mchunks) = byDoc.filter(_._2.length > 1).head
    val toks = docs(mid).trim.split("\\s+")
    import org.apache.spark.unsafe.types.UTF8String
    val hs = toks.map(t =>
      graft.functions.Md5Hash64Array.hash64(UTF8String.fromString(t)) >>> 20)
    mchunks.foreach { case (_, _, st, len, fp) =>
      assert(fp == hs.slice(st.toInt, (st + len).toInt).sum, s"doc $mid fingerprint @$st")
    }
  }

  test("chunk dedup: natural drops exist, reps are first occurrences, keys collide only on identical text") {
    val rows = TextOps.qTextChunkDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getLong(5)))
    val drops = rows.filter(_._4 == "drop_dup")
    assert(drops.nonEmpty, "no natural chunk repeats — the dedup gate is vacuous")
    val byKey = rows.groupBy(_._3)
    byKey.values.foreach { g =>
      val first = g.minBy(r => (r._1, r._2))
      g.foreach { r =>
        assert(r._5 == first._1 && r._6 == first._2, "rep is not the first occurrence")
        assert((r._4 == "keep") == (r._1 == first._1 && r._2 == first._2), "decision/rep mismatch")
      }
    }
    // the 63-bit key must separate distinct texts: replay every colliding
    // group's chunk strings from the raw corpus
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def chunkText(d: Long, ci: Long): String = {
      val ws = docs(d).trim.split("\\s+")
      val st = (ci * 24).toInt
      ws.slice(st, st + math.min(32, ws.length - st)).mkString(" ")
    }
    byKey.values.filter(_.length > 1).foreach { g =>
      val texts = g.map(r => chunkText(r._1, r._2)).distinct
      assert(texts.length == 1, s"hash collision across distinct chunk texts: $texts")
    }
  }

  test("chunk doc purge: tiers agree with a direct dedup-frame rollup and all fire naturally") {
    val out = TextOps.qTextChunkDocPurge(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // independent rollup of the dedup frame the purge is defined over
    val dedup = TextOps.qTextChunkDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val byDoc = dedup.groupBy(_._1)
    assert(out.map(_._1).toSet == byDoc.keySet, "purge must cover every chunked doc")
    out.foreach { case (id, n, dup, tier) =>
      val g = byDoc(id)
      assert(n == g.length, s"doc $id chunk count")
      assert(dup == g.count(_._2 == "drop_dup"), s"doc $id dup count")
      val exp = if (dup * 2 > n) "drop_doc" else if (dup > 0) "partial_dup" else "keep_clean"
      assert(tier == exp, s"doc $id tier")
    }
    // every tier must carry natural traffic or a branch is untested
    val tiers = out.map(_._4).toSet
    assert(tiers == Set("drop_doc", "partial_dup", "keep_clean"),
      s"tier(s) with no natural traffic at this SF: ${Set("drop_doc", "partial_dup", "keep_clean") -- tiers}")
    // a purged doc's duplicated mass should be (at least partly) owned by
    // OTHER documents — a purge driven purely by within-doc repetition
    // would be the wrong criterion (that's text_repetition_ratio's job)
    val dropped = out.filter(_._4 == "drop_doc").map(_._1).toSet
    val repRows = TextOps.qTextChunkDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    dropped.foreach { id =>
      val foreignReps = repRows.filter(r => r._1 == id && r._2 == "drop_dup").map(_._3)
      assert(foreignReps.exists(_ != id),
        s"doc $id dropped with no foreign-owned dup chunk")
    }
  }

  test("chunk minhash: pairs are ordered, above threshold, and never stride-overlap siblings") {
    val rows = TextOps.qTextChunkMinhash(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty, "no near-dup chunk pair at this SF — the path is unexercised")
    rows.foreach { case (da, ca, db, cb, inter, union) =>
      assert(da < db || (da == db && ca < cb), s"pair not lexicographically ordered")
      assert(inter >= 1 && inter <= union, s"degenerate counts ($inter, $union)")
      assert(inter * 5 >= union * 4, s"pair below the J>=0.8 threshold: $inter/$union")
      // adjacent windows of one doc share only the 8-token stride overlap
      // (J~0.11) — if one ever surfaces here the moat claim is dead and
      // the threshold needs re-measuring
      assert(!(da == db && cb == ca + 1), s"stride-sibling pair emitted: doc $da chunks $ca/$cb")
    }
    // exact-dup windows (chunk_dedup's drop_dup rows whose texts are >=3
    // tokens) must all surface here at J=1 — near-dup is a superset of
    // exact-dup at passage granularity
    val exact = TextOps.qTextChunkDedup(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getLong(4), r.getLong(5)))
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def chunkLen(d: Long, ci: Long): Int = {
      val ws = docs(d).trim.split("\\s+")
      math.min(32, ws.length - (ci * 24).toInt)
    }
    val pairKeys = rows.map(r => (r._1, r._2, r._3, r._4)).toSet
    exact.filter(r => r._3 == "drop_dup" && chunkLen(r._1, r._2) >= 3).foreach {
      case (d, ci, _, rd, rc) =>
        assert(pairKeys.contains((rd, rc, d, ci)) || pairKeys.contains((d, ci, rd, rc)),
          s"exact-dup window ($d,$ci) rep ($rd,$rc) missing from the near-dup pairs")
    }
  }
  test("temperature mix: order preserved, extreme ratio compressed, arithmetic exact") {
    val rows = TextOps.qTemperatureMix(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = rows.map(_._2).sum
    val wSum = rows.map(_._3).sum
    val k = rows.length
    rows.foreach { case (s, mass, w, target, rate) =>
      assert(w == math.floor(math.sqrt(mass.toDouble)).toLong)
      // exact overflow-split identity: target = floor(total * w / wSum)
      val expect = (total / wSum) * w + ((total % wSum) * w) / wSum
      assert(target == expect, s"source $s target $target != $expect")
      assert(rate <= 1000000L)
    }
    // flattening = order preserved, ratios COMPRESSED (target ratio ~
    // sqrt of the mass ratio). NOTE a per-source "target between mass
    // and uniform" band is NOT the invariant: normalization is over
    // Σ√mass, whose squared mean sits below the arithmetic mean
    // (Jensen), so sources between the two legitimately cross uniform.
    val byMass = rows.sortBy(_._2)
    byMass.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 <= b._4 + 1, s"order inversion: ${a._1} vs ${b._1}")
    }
    val (lo, hi) = (byMass.head, byMass.last)
    assert(hi._2 > lo._2, "corpus has no head to flatten — spec vacuous")
    // tmax/tmin < mmax/mmin (strict compression of the extreme ratio)
    assert(hi._4 * lo._2 < hi._2 * lo._4,
      s"extreme ratio not compressed: targets ${hi._4}/${lo._4} vs masses ${hi._2}/${lo._2}")
    // mass conservation: targets sum to ~total (floor slack < k)
    assert(math.abs(rows.map(_._4).sum - total) < k.toLong + 1)
  }

  test("epoch plan: realizes the temperature target via whole-epoch repeats plus a remainder pass") {
    val plan = TextOps.qEpochPlan(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // targets agree with the mix entry (same τ=1/2 rule, uncapped here)
    val mixTargets = TextOps.qTemperatureMix(spark, SfDir).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    plan.foreach { case (s, mass, target, epochs, rate, expected) =>
      assert(target == mixTargets(s))
      assert(epochs == target / mass)
      assert(rate < 1000000L, s"source $s remainder rate $rate is a full epoch")
      // the plan realizes the target up to ppm floor slack
      assert(expected <= target && target - expected <= mass / 100000L + 2L,
        s"source $s expected $expected misses target $target")
    }
    // the corpus must exercise BOTH halves: some source genuinely
    // upsamples (≥1 full repeat) and some only downsamples (0 repeats)
    assert(plan.exists(_._4 >= 1L), "no source upsampled — plan vacuous")
    assert(plan.exists(_._4 == 0L), "no source downsampled")
  }

  test("global shuffle: rank is a 0..n-1 permutation matching a driver-side replay, and actually shuffles") {
    val rows = TextOps.qTextGlobalShuffle(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = rows.length
    assert(rows.map(_._3).sorted.toSeq == (0L until n.toLong))
    // driver replay of the exact same hash + (key, id) order
    val expect = rows.map { case (id, _, _) =>
      val h = graft.functions.Md5Hash64Array.hash64(
        org.apache.spark.unsafe.types.UTF8String.fromString(id.toString)) >>> 1
      (id, h)
    }.sortBy(t => (t._2, t._1)).zipWithIndex
      .map { case ((id, h), r) => (id, h, r.toLong) }
      .sortBy(_._1).toSeq
    assert(rows.sortBy(_._1).toSeq == expect)
    // it must actually SHUFFLE: the permutation cannot be close to the
    // identity order (mean displacement of a random permutation is ~n/3)
    val meanDisp = rows.sortBy(_._1).zipWithIndex
      .map { case ((_, _, r), i) => math.abs(r - i.toLong) }.sum.toDouble / n
    assert(meanDisp > n / 10.0, s"mean displacement $meanDisp too small for n=$n")
  }

  test("stopword hits: native expression bit-identical to the HOF form, nulls and empties included") {
    import graft.functions.GraftFunctions
    val toks = TextOps.wsTokens(lower(col("text")))
    val cmp = Tables.documents(spark, SfDir).select(
      (col("doc_id") +:
        TextOps.Stopwords.keys.toSeq.sorted.flatMap { l =>
          Seq(GraftFunctions.stopwordHits(toks, TextOps.Stopwords(l)).as(s"n_$l"),
            TextOps.hitCountAlgebra(toks, TextOps.Stopwords(l)).as(s"h_$l"))
        }): _*)
    TextOps.Stopwords.keys.toSeq.sorted.foreach { l =>
      assert(cmp.filter(col(s"n_$l") =!= col(s"h_$l")).count() == 0,
        s"native/HOF divergence for $l")
    }
    // nulls are misses (array_contains → null → filter-false) and the
    // empty array counts zero — pinned on a planted frame
    import spark.implicits._
    val planted = Seq(
      (1L, Seq("the", null, "of", "x")),
      (2L, Seq.empty[String]),
      (3L, Seq[String](null, null))
    ).toDF("id", "ws")
    val got = planted.select(col("id"),
      GraftFunctions.stopwordHits(col("ws"), TextOps.Stopwords("en")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 2, 2L -> 0, 3L -> 0))
  }

  test("cms_estimate: native probe bit-identical to CountMinSketch.estimateCount; null and codegen") {
    import spark.implicits._
    // build a small sketch the same way the entry does
    val words = (1L to 500L).map(k => s"w${k % 37}") ++ Seq.fill(200)("hot")
    val toks = words.toDF("w")
    val sketchBytes = toks
      .agg(expr("count_min_sketch(w, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
      .head().getAs[Array[Byte]](0)
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(sketchBytes))
    // differential: the expression's estimate == the driver-side call,
    // for present keys, absent keys, and a NULL input (null propagates)
    val probeKeys = ((0L to 36L).map(k => s"w$k") ++
      Seq("hot", "never-seen", "w999")).map(Option(_)) :+ None
    val got = probeKeys.toDF("w").select(col("w"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.CmsEstimate(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("w")),
        sketchBytes.toIndexedSeq)).as("est")).collect()
    got.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1), "NULL input must estimate NULL")
      else assert(r.getLong(1) == cms.estimateCount(r.getString(0)),
        s"divergence for key ${r.getString(0)}")
    }
    // the probe stays inside whole-stage codegen (no UDF hop) — over a
    // distributed frame (a LocalRelation would constant-fold the plan)
    val dist = spark.range(0, 100).select(
      concat(lit("w"), (col("id") % 37).cast("string")).as("w"))
    val distProbe = dist.select(col("w"),
      org.apache.spark.sql.graft.ColumnBridge.column(graft.functions.CmsEstimate(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("w")),
        sketchBytes.toIndexedSeq)).as("est"))
    val plan = distProbe.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the whole-stage-codegen marker in the
    // executed plan's rendering
    assert(plan.contains("*(1) Project") && plan.contains("cms_estimate"),
      s"probe fell out of codegen:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"))
    distProbe.collect().foreach(r =>
      assert(r.getLong(1) == cms.estimateCount(r.getString(0))))
  }

  test("ws tokenizer: native kernels bit-identical to the regex form, codegen'd, SQL-callable") {
    import graft.functions.GraftFunctions
    // corpus-wide differential: tokens AND count vs split(trim, "\\s+")
    val cmp = Tables.documents(spark, SfDir).select(
      TextOps.wsTokens(col("text")).as("nat"),
      TextOps.wsTokensAlgebra(col("text")).as("ref"),
      TextOps.wsTokenCount(col("text")).as("nc"))
    assert(cmp.filter(col("nat") =!= col("ref")).count() == 0,
      "native tokenizer diverges from the regex form on the corpus")
    assert(cmp.filter(col("nc") =!= size(col("ref")).cast("long")).count() == 0,
      "native count diverges from size(regex form)")
    // adversarial edges the regex semantics are DEFINED by: empty string
    // → [""], trim strips only 0x20 so edge tabs/newlines yield empty
    // lead/tail elements, \s is ASCII-only so NBSP (U+00A0) and CJK text
    // do not split, \x0B is in class, multi-byte UTF-8 passes through
    import spark.implicits._
    val edges = Seq("", " ", "   ", "\t", "a", " a ", "\ta\t", "a  b",
      " a\tb\nc ", "héllo  wörld", "的 是 了", "ab", "x\r\n y",
      "\n\n", "word", " \t ", "a ", " a", " ").toDF("t")
    val got = edges.select(
      TextOps.wsTokens(col("t")).as("nat"),
      TextOps.wsTokensAlgebra(col("t")).as("ref"),
      TextOps.wsTokenCount(col("t")).as("nc"))
    assert(got.filter(col("nat") =!= col("ref")).count() == 0,
      "native tokenizer diverges on edge inputs")
    assert(got.filter(col("nc") =!= size(col("ref")).cast("long")).count() == 0,
      "native count diverges on edge inputs")
    // null in → null out, both kernels
    val nulls = Seq(Tuple1(null: String)).toDF("t")
      .select(TextOps.wsTokens(col("t")).as("a"), TextOps.wsTokenCount(col("t")).as("c"))
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
    // codegen pin (the SURVEY no-CodegenFallback claim): the tokenizing
    // projection must sit INSIDE a WholeStageCodegen subtree
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val df = Tables.documents(spark, SfDir)
      .select(TextOps.wsTokens(col("text")).as("w"),
        TextOps.wsTokenCount(col("text")).as("c"))
    df.collect()
    val wsc = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.toString }
    assert(wsc.exists(s => s.contains("ws_tokenize") && s.contains("ws_token_count")),
      "tokenizer projection fell out of whole-stage codegen")
    // SQL surface: the session extension injects the same builder
    // table; probe the SQL path end-to-end
    assert(spark.sql("SELECT ws_token_count(' a  b\tc ')").head().getLong(0) == 3L)
    assert(spark.sql("SELECT ws_tokenize('a  b')").head().getSeq[String](0) == Seq("a", "b"))
    assert(spark.sql(
      "SELECT stopword_hits(ws_tokenize('the cat of x'), array('the','of','is'))")
      .head().getInt(0) == 2)
    // analysis-time type gate (not an execution-time ClassCastException)
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT stopword_hits(array(1, 2), array('a'))").collect()
    }
    assert(err.getMessage.contains("array<string>"))
    val err2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT ws_tokenize(42)").collect()
    }
    assert(err2.getMessage.contains("string"))
  }

  test("int_pow_root: exact floors for any rational tau, pinned against BigInt replays") {
    import graft.functions.IntegerPowRoot.powRoot
    // independent replay: bisection on w with BigInt pow-compare (no
    // Newton, no floats — shares nothing with the kernel's algorithm)
    def slow(x: Long, p: Int, q: Int): Long = {
      val xp = BigInt(x).pow(p)
      var lo = BigInt(0); var hi = BigInt(x) + 1 // p <= q, so root <= x
      while (hi - lo > 1) {
        val mid = (lo + hi) / 2
        if (mid.pow(q) <= xp) lo = mid else hi = mid
      }
      lo.toLong
    }
    val probes = Seq(0L, 1L, 2L, 9L, 10L, 31L, 32L, 1023L, 1024L, 1025L,
      999999L, 1000000L, 123456789L, 999999999999L, 1000000000000L)
    for (x <- probes; (p, q) <- Seq((1, 2), (3, 10), (7, 10), (3, 4), (1, 5)))
      assert(powRoot(x, p, q) == slow(x, p, q), s"x=$x tau=$p/$q")
    // tau = 1/2 agrees with the shipped isqrt convention on the corpus masses
    val masses = Tables.documents(spark, SfDir)
      .groupBy("source").agg(sum(TextOps.wsTokenCount(col("text"))).as("m"))
      .collect().map(_.getLong(1))
    masses.foreach { m =>
      assert(powRoot(m, 1, 2) == math.floor(math.sqrt(m.toDouble)).toLong)
    }
    // boundary exactness where double pow is least trustworthy: perfect powers
    for (w <- Seq(7L, 100L, 12345L)) {
      val x = w * w * w // x^(1/3) boundary... via p/q = 1/3? p must be <= q
      assert(powRoot(x, 1, 3) == w)
      assert(powRoot(x - 1, 1, 3) == w - 1)
    }
    // domain: negative input fails loudly, null propagates
    intercept[IllegalArgumentException] { powRoot(-1L, 1, 2) }
    // the tau entry: weights are the exact kernel values and targets
    // conserve mass (sum of targets <= total, within w_sum floor slack)
    val out = TextOps.qTemperatureMixTau(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3), r.getLong(4), r.getLong(5)))
    val taus = out.map(_._1).distinct.sorted
    assert(taus.toSeq == Seq(300000L, 750000L))
    out.foreach { case (tau, _, m, w, _) =>
      val (p, q) = if (tau == 300000L) (3, 10) else (3, 4)
      assert(w == powRoot(m, p, q), s"weight mismatch at tau=$tau m=$m")
    }
    val total = out.filter(_._1 == 300000L).map(_._3).sum
    taus.foreach { t =>
      val targets = out.filter(_._1 == t).map(_._5).sum
      assert(targets <= total && targets > total - out.length,
        s"tau=$t targets $targets do not conserve total $total")
    }
    // tau ordering: smaller tau flattens harder — the small-source share
    // of the target mass is LARGER at tau=0.3 than at tau=0.75
    val smallSrc = out.filter(_._1 == 300000L).minBy(_._3)._2
    def share(t: Long) = {
      val rows = out.filter(_._1 == t)
      rows.find(_._2 == smallSrc).get._5.toDouble / rows.map(_._5).sum
    }
    assert(share(300000L) > share(750000L))
  }

  test("pack kernel: empty units yield an empty manifest, and a hint overestimate changes nothing") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(TextOps.packUnits(spark, empty, Seq("doc_id")).count() == 0)
    val units = Seq((1L, 10L), (5L, 20L), (9L, 2040L), (12L, 30L))
      .toDF("doc_id", "n_tokens")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(5))).toSeq
    val base = rows(TextOps.packUnits(spark, units, Seq("doc_id")))
    // starts are the running sum; the straddling doc lands in two seqs
    assert(base.map(_._2) == Seq(0L, 10L, 30L, 2070L))
    assert(base == rows(
      TextOps.packUnits(spark, units, Seq("doc_id"), maxIdHint = Some(1000000L))))
  }

  test("chunk pack: packs exactly the dedup representatives, gap-free in (doc, chunk) order") {
    val packed = TextOps.qTextChunkPack(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val reps = TextOps.qTextChunkDedup(spark, SfDir)
      .filter(col("decision") === "keep")
      .select("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(packed.map(t => (t._1, t._2)).toSet == reps)
    assert(packed.length < TextOps.qTextChunkWindows(spark, SfDir).count(),
      "no duplicate chunk was dropped — the dedup stage was vacuous")
    // gap-free: each unit starts where the previous one ended
    packed.foldLeft(0L) { case (expectStart, (d, ci, n, start)) =>
      assert(start == expectStart, s"chunk ($d,$ci) start $start != $expectStart")
      expectStart + n
    }
  }

  test("pipeline: funnel is monotone, stages compose the standalone entries, e2e packs exactly the survivors") {
    val funnel = TextOps.qPipelineFunnel(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(funnel.map(_._1).toSeq ==
      Seq("0_ingest", "1_lang_en", "2_quality", "3_dedup"))
    // each stage can only shed docs/tokens, and every stage sheds SOMETHING
    // on this corpus (vacuous gates would hide composition bugs)
    funnel.sliding(2).foreach { case Array((sa, da, ta), (sb, db, tb)) =>
      assert(db < da, s"$sb kept all $da docs of $sa — gate vacuous")
      assert(tb < ta, s"$sb kept all tokens of $sa")
    }
    // stage composition = the registered standalone entries applied in
    // sequence over the twin-amplified ingest (prose-class docs get an
    // exact twin at +1,000,000; %5 is preserved, so a twin's lang and
    // quality verdicts EQUAL its base's — the standalone entries on the
    // raw corpus extend to the amplified one by that identity)
    def amp(ids: Set[Long]): Set[Long] =
      ids ++ ids.filter(_ % 5 == 1).map(_ + 1000000L)
    val baseIds = Tables.documents(spark, SfDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(funnel.head._2 == amp(baseIds).size)
    val langKeep = amp(TextOps.qLangId(spark, SfDir)
      .filter(col("pred_lang") === "en").select("doc_id")
      .collect().map(_.getLong(0)).toSet)
    val qKeep = amp(TextOps.qQualityClassifier(spark, SfDir)
      .filter(col("label") === "keep").select("doc_id")
      .collect().map(_.getLong(0)).toSet).intersect(langKeep)
    assert(funnel(1)._2 == langKeep.size)
    assert(funnel(2)._2 == qKeep.size)
    val baseTexts = Tables.documents(spark, SfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val texts = baseTexts ++
      baseTexts.collect { case (id, t) if id % 5 == 1 => (id + 1000000L, t) }
    val expectSurv = qKeep.groupBy(id => texts(id)).values.map(_.min).toSet
    assert(funnel(3)._2 == expectSurv.size)
    // the dedup stage must be carrying the planted-twin traffic
    assert(funnel(3)._2 < funnel(2)._2)

    // the packed manifest covers exactly the survivor set, in doc_id
    // order, with gap-free token starts (the pack contract)
    val packed = TextOps.qPipelineE2e(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(packed.map(_._1).toSet == expectSurv)
    packed.foldLeft(0L) { case (expectStart, (id, n, start)) =>
      assert(start == expectStart, s"doc $id token_start $start != $expectStart")
      expectStart + n
    }
    assert(packed.map(_._2).sum == funnel(3)._3)
  }

  test("pipeline: no exchange in the ledger plan ships the document body") {
    // the composed pipeline's scale contract: every shuffle below the
    // dedup election carries the 8-byte xxhash64 key + flags, never the
    // raw `text` column (at 100 TB the text-keyed variant shuffles the
    // whole corpus; this pin keeps the regression out)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val ledger = TextOps.pipelineLedger(spark, SfDir,
      TextOps.pipelineMaxRawId(spark, SfDir))
    ledger.collect() // finalize AQE so the adaptive plan exposes its stages
    // flatten through the AQE wrappers (AdaptiveSparkPlanExec /
    // QueryStageExec hold their subplans outside `children`)
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case other => other.children.flatMap(flatten)
    })
    val plan = ledger.queryExecution.executedPlan
    val nodes = flatten(plan)
    // scope: the SEMANTIC (hash-keyed) shuffles — the doc_id join and
    // the __h election. Tables.spread's RoundRobin repartition of the
    // raw (doc_id, text) scan is exempt: it is the documented
    // test-scale parallelism crutch for single-file parquet inputs and
    // disappears at real file counts (SURVEY §5), whereas a hash
    // exchange keyed through text would ship the corpus at ANY scale.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val exchanges = nodes.collect {
      case e: ShuffleExchangeLike
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(exchanges.nonEmpty, "expected at least one hash shuffle in the ledger plan")
    exchanges.foreach { e =>
      val outCols = e.output.map(_.name)
      assert(!outCols.contains("text"),
        s"exchange ships the document body: ${outCols.mkString(",")}")
    }
    // and the election window itself is keyed on the hash, not the text
    import org.apache.spark.sql.execution.window.WindowExec
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the election window in the ledger plan")
    windows.foreach { w =>
      assert(w.partitionSpec.flatMap(_.references.map(_.name)).forall(_ != "text"),
        "election window partitions on raw text")
    }
  }
}

/** Fresh invocation for the determinism check (no shared plan objects). */
object TextOpsSpecHelper {
  def rerun(spark: org.apache.spark.sql.SparkSession, dir: String) =
    TextOps.qStratifiedSample(spark, dir).collect()

}
