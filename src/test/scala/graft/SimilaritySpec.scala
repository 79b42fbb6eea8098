package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, VectorOps}
import graft.similarity.SimilarityOps

/** Native CosineSimilarity expression + ANN contracts (SURVEY.md §2.C/G). */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native cosine_sim expression matches the column-algebra fold bit-for-bit") {
    val vecs = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))
    val a = vecs.select(col("vec_id").as("ida"), col("vec").as("va")).filter(col("ida") < 20)
    val b = vecs.select(col("vec_id").as("idb"), col("vec").as("vb")).filter(col("idb") < 20)
    val diffs = a.join(b, col("ida") < col("idb"))
      .select(
        GraftFunctions.cosineSim(col("va"), col("vb")).as("native"),
        VectorOps.cosine(col("va"), col("vb")).as("algebra"))
      .filter(col("native") =!= col("algebra"))
      .count()
    assert(diffs == 0)
  }

  test("cosine_sim is registered for SQL and self-similarity is 1") {
    Tables.embeddings(spark, SfDir).createOrReplaceTempView("emb")
    val bad = spark.sql(
      "SELECT vec_id, cosine_sim(embedding, embedding) c FROM emb")
      .filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(bad == 0)
    // every native expression is SQL-reachable (the README claims it)
    val row = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |  simhash64(array(1L, 2L, 3L)) AS sh,
        |  size(minhash_sig(array(1L, 2L, 3L), 8)) AS mh_k,
        |  size(md5_hash64_array(array('a', 'b'))) AS md_n""".stripMargin).head()
    assert(row.getDouble(0) == 11.0 && row.getInt(2) == 8 && row.getInt(3) == 2)
  }

  test("native sign_buckets matches the per-plane dot-product construction bit-for-bit") {
    val bits = 8
    val planes = SimilarityOps.hyperplanes(64, bits)
    val vecs = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))
      .limit(200)
    // the historical construction: one native dot per (table, bit),
    // OR-folded into the bucket mask
    val algebraCols = planes.zipWithIndex.map { case (tbl, t) =>
      tbl.zipWithIndex.map { case (h, j) =>
        when(GraftFunctions.dotProduct(col("vec"),
          array(h.map(lit): _*)) >= 0, lit(1 << j)).otherwise(lit(0))
      }.reduce(_ bitwiseOR _).as(s"b$t")
    }
    val diffs = vecs.select(
        GraftFunctions.signBuckets(col("vec"), planes).as("native"),
        array(algebraCols: _*).as("algebra"))
      .filter(col("native") =!= col("algebra")).count()
    assert(diffs == 0)
    // SQL-reachable like every other native expression
    val viaSql = spark.sql(
      """SELECT sign_buckets(array(1.0D, -2.0D),
        |  array(array(array(1.0D, 0.0D), array(0.0D, 1.0D)))) AS b""".stripMargin)
      .head().getSeq[Int](0)
    assert(viaSql == Seq(1)) // bit0: dot=1>=0 set; bit1: dot=-2<0 clear
  }

  test("LSH ANN recall of true near-duplicates is 1 (scaled copies collide in every table)") {
    val out = SimilarityOps.annTopkLshRanked(spark, SfDir)
    // every planted query (vec_id + 1000000) must rank its source vector first
    val top1 = out.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"), col("cos_ppm")).as[(Long, Long, Long)]
      .collect()
    assert(top1.nonEmpty)
    top1.foreach { case (q, v, ppm) =>
      assert(v == q - 1000000L, s"query $q top-1 was $v")
      assert(ppm >= 999999L, s"query $q top-1 cosine ppm $ppm")
    }
  }

  test("IVF ANN recalls planted near-duplicates at top-1") {
    val out = SimilarityOps.annTopkIvfRanked(spark, SfDir)
    val top1 = out.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id")).as[(Long, Long)].collect()
    assert(top1.nonEmpty)
    val hits = top1.count { case (q, v) => v == q - 1000000L }
    // a 1.01-scaled copy may straddle a cell boundary; probing 4/16 cells
    // must still recover nearly all sources
    assert(hits.toDouble / top1.length >= 0.8,
      s"IVF recall ${hits.toDouble / top1.length} of ${top1.length} planted queries")
  }

  test("native adc_lookup matches the aggregate-HOF algebra bit-for-bit and rejects bad codes") {
    // random-ish but deterministic codes/tables: 8 blocks x 16 cells
    val rows = (0 until 200).map { i =>
      val codes = Array.tabulate(8)(b => (i * 31 + b * 7) % 16)
      val dt = Array.tabulate(128)(s => ((i * 13 + s * 97) % 1000) / 8.0 - 60.0)
      (codes, dt)
    }
    val df = rows.toDF("codes", "dt")
    val diffs = df.select(
        GraftFunctions.adcLookup(col("codes"), col("dt"), 16).as("native"),
        expr("""aggregate(sequence(0, 7), cast(0.0 as double),
          | (acc, b) -> acc + element_at(dt, b * 16 + element_at(codes, b + 1) + 1))"""
          .stripMargin).as("algebra"))
      .filter(col("native") =!= col("algebra"))
      .count()
    assert(diffs == 0)
    // out-of-range code must raise loudly, not return a plausible score
    val bad = Seq((Array(0, 16), Array.fill(32)(0.0))).toDF("codes", "dt")
    val e = intercept[Exception] {
      bad.select(GraftFunctions.adcLookup(col("codes"), col("dt"), 16)).collect()
    }
    assert(e.getMessage != null)
  }

  test("native rand_project8 matches the quantize+fold algebra incl. halfway rounding") {
    // real corpus: same (vec_id, dim, y) rows from both forms
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id", "dim").as[(Long, Long, Long)].collect().toSeq
    val corpus = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
    assert(rows(SimilarityOps.projectQuantized(corpus)) ==
      rows(SimilarityOps.projectQuantizedAlgebra(corpus)))
    // constructed edges: zero vector, single element, exact +/-.5 halfway
    // quantization points (HALF_UP is away from zero: 63.5 -> 64,
    // -63.5 -> -64), and sign mixes
    val edge = Seq(
      (1L, Array(0.0, 0.0, 0.0)),
      (2L, Array(5.0)),
      (3L, Array(63.5, 127.0)),
      (4L, Array(-63.5, 127.0)),
      (5L, Array(-0.5, -127.0, 126.5, 1.0)),
      (6L, Array(-1.0, 0.25, 0.75))).toDF("vec_id", "vec")
    assert(rows(SimilarityOps.projectQuantized(edge)) ==
      rows(SimilarityOps.projectQuantizedAlgebra(edge)))
    // the empty vector is undefined in the algebra form (array_max of an
    // empty array is null); the kernel pins it to the all-zero projection
    val empty = Seq((9L, Array.empty[Double])).toDF("vec_id", "vec")
    assert(rows(SimilarityOps.projectQuantized(empty)) ==
      (0L until 8L).map(d => (9L, d, 0L)))
  }

  test("residual-ADC T2 slot packing matches the naive per-(block,code) reconstruction") {
    // deterministic synthetic quantizer metadata: 3 cells x 64 dims,
    // 8 blocks x 16 codes x 8-dim sub-vectors
    val sub = 8
    val cells = (0 until 3).map(c =>
      (c, (0 until 64).map(i => (c * 64 + i) * 0.01 - 0.3)))
    val codebook = Array.tabulate(8, 16, sub)((b, k, i) =>
      math.sin(b * 1.7 + k * 0.31 + i * 0.057))
    val t2 = graft.similarity.SimilarityOps.pqT2Rows(cells, codebook, sub)
    assert(t2.map(_._1) == Seq(0, 1, 2))
    for ((cellId, packed) <- t2) {
      assert(packed.length == 8 * 16)
      val cvec = cells(cellId)._2
      for (b <- 0 until 8; k <- 0 until 16) {
        // naive: reconstruct C_b + cb_k elementwise, then sum of squares
        val naive = (0 until sub).map { i =>
          val v = cvec(b * sub + i) + codebook(b)(k)(i)
          v * v
        }.sum
        assert(math.abs(packed(b * 16 + k) - naive) < 1e-12,
          s"cell $cellId slot (b=$b, k=$k) drifted")
      }
    }
    // an intentionally swapped slot layout (k*8 + b) must NOT match —
    // guards against the packing silently flipping while both sides of
    // the differential use the same (wrong) convention
    val flat = t2.head._2
    val swapped = (0 until 8 * 16).map(s => flat((s % 16) * 8 + s / 16))
    assert(swapped != flat)
  }

  test("IVF+PQ ANN recalls planted near-duplicates and agrees with exact rerank") {
    val out = SimilarityOps.annTopkIvfPqRanked(spark, SfDir)
    val rows = out.select(col("query_id"), col("rank"), col("vec_id"), col("cos_ppm"))
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // same output contract as the other ann entries: 10 ranked rows/query
    val byQuery = rows.groupBy(_._1)
    byQuery.values.foreach(g => assert(g.map(_._2).sorted.toSeq == (1L to 10L)))
    // planted recall: the ADC shortlist must retain each query's scaled
    // source so the exact rerank can put it at top-1 — same 0.8 bound as
    // plain IVF (the PQ stage must not lose what the probes found)
    val top1 = rows.filter(_._2 == 1L)
    val hits = top1.count { case (q, _, v, _) => v == q - 1000000L }
    assert(hits.toDouble / top1.length >= 0.8,
      s"IVF+PQ recall ${hits.toDouble / top1.length} of ${top1.length} planted queries")
    // rerank exactness: emitted cos_ppm must equal the true cosine of the
    // emitted pair (PQ approximates CANDIDATE RANKING only, never scores)
    val raw = Tables.embeddings(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    rows.take(50).foreach { case (q, _, v, ppm) =>
      val qv = raw.get(q - 1000000L).map(_.map(_ * 1.01)) // planted query = scaled source
      qv.foreach { qvec =>
        raw.get(v).foreach { cv =>
          assert(math.abs(math.round(cos(qvec, cv) * 1000000.0) - ppm) <= 1,
            s"query $q vec $v cos_ppm $ppm drifted from exact")
        }
      }
    }
  }

  test("ANN recall gates emit literally-TRUE booleans (the driver-oracle contract)") {
    // the registered ann entries are the ranked searches wrapped in the
    // in-plan recall gate; the DuckDB oracle asserts every boolean TRUE,
    // so any false here at the spec SF means the driver gate would break
    val gated = Seq(
      "lsh" -> SimilarityOps.qAnnTopkLsh(spark, SfDir),
      "ivf" -> SimilarityOps.qAnnTopkIvf(spark, SfDir),
      "ivfpq" -> SimilarityOps.qAnnTopkIvfPq(spark, SfDir),
      "knn_join" -> SimilarityOps.qAnnKnnJoin(spark, SfDir))
    val nQueries = Tables.embeddings(spark, SfDir)
      .filter(col("vec_id") % 25 === 0).count()
    gated.foreach { case (name, df) =>
      val rows = df.collect()
      assert(rows.length == nQueries, s"$name: ${rows.length} gate rows for $nQueries queries")
      rows.foreach { r =>
        assert(r.getLong(1) == 10L, s"$name k column")
        assert(r.getBoolean(2), s"$name query ${r.getLong(0)}: mean_recall_ok false")
        assert(r.getBoolean(3), s"$name query ${r.getLong(0)}: top1_ok false")
      }
    }
  }

  test("kNN-graph join: planted mutual top-1, full-graph coverage, no self edges") {
    val ranked = SimilarityOps.annKnnJoinRanked(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = Tables.embeddings(spark, SfDir).count()
    val nTwins = Tables.embeddings(spark, SfDir).filter(col("vec_id") % 25 === 0).count()
    // EVERY graph vector (corpus + twins) gets exactly 10 ranked
    // neighbors — the corpus-scale contract that distinguishes the graph
    // join from the bounded-query serve entries
    val byQ = ranked.groupBy(_._1)
    assert(byQ.size == n + nTwins, s"graph coverage: ${byQ.size} of ${n + nTwins}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to 10L), s"query $q ranks broken")
      assert(rows.forall(_._3 != q), s"query $q has a self edge")
    }
    // planted contract in BOTH directions: a twin's nearest neighbor is
    // its source, and a source's nearest neighbor is its cos≈1 twin
    val off = SimilarityOps.PlantedIdOffset
    val top1 = ranked.filter(_._2 == 1L).map(r => r._1 -> (r._3, r._4)).toMap
    val twins = top1.filter(_._1 >= off)
    assert(twins.size == nTwins)
    twins.foreach { case (q, (v, ppm)) =>
      assert(v == q - off, s"twin $q top-1 was $v")
      assert(ppm >= 999999L, s"twin $q top-1 cos_ppm $ppm")
    }
    val sources = top1.filter { case (q, _) => q < off && q % 25 == 0 }
    assert(sources.size == nTwins)
    sources.foreach { case (q, (v, ppm)) =>
      assert(v == q + off, s"source $q top-1 was $v")
      assert(ppm >= 999999L, s"source $q top-1 cos_ppm $ppm")
    }
  }

  test("kNN-graph density: gate booleans true, coverage count exact, twins genuinely separated") {
    val df = SimilarityOps.qEmbedKnnDensity(spark, SfDir)
    // the corpus median must ride the two-pass histogram-refinement
    // kernel, never the single-buffer exact percentile aggregate (which
    // buffers all n density rows in one task — VERDICT r10 ask #1).
    // Walk through AQE wrappers explicitly (ADVICE r11: with AQE on, the
    // root is an AdaptiveSparkPlanExec LEAF for flatMap, so the bare
    // collect saw no aggregates and the assertion was vacuous)
    import org.apache.spark.sql.execution.SparkPlan
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    val percAggs = walk(df.queryExecution.executedPlan)
      .flatMap(_.expressions.flatMap(_.collect {
        case e: org.apache.spark.sql.catalyst.expressions.aggregate.Percentile => e
      }))
    assert(percAggs.isEmpty,
      "single-buffer exact Percentile aggregate back in the density plan")
    // positive control: the detector must FIRE on a plan that does carry
    // the aggregate, or the assertion above proves nothing
    val ctrl = spark.range(100).agg(expr("percentile(id, 0.5)"))
    assert(walk(ctrl.queryExecution.executedPlan)
        .flatMap(_.expressions.flatMap(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.aggregate.Percentile => e
        })).nonEmpty,
      "Percentile detector is blind — walk() no longer reaches the real plan")
    val rows = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))
    val n = Tables.embeddings(spark, SfDir).count()
    val nTwins = Tables.embeddings(spark, SfDir).filter(col("vec_id") % 25 === 0).count()
    assert(rows.nonEmpty && rows.length <= 64, s"gate sample size ${rows.length}")
    rows.foreach { case (q, k, scored, aboveMed, srcNear) =>
      assert(k == 10L)
      assert(scored == n + nTwins, s"query $q: n_scored $scored for graph of ${n + nTwins}")
      assert(aboveMed, s"twin $q density not above corpus median — separation lost")
      assert(srcNear, s"twin $q best neighbor below 0.985")
    }
    // the separation is not a threshold artifact: recompute densities from
    // the ranked graph and check the twin/corpus margin is wide (a twin
    // carries one cos≈1 edge its base twin-free neighbors lack)
    val dens = SimilarityOps.annKnnJoinRanked(spark, SfDir)
      .groupBy("query_id").agg(avg("cos_ppm").as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val twinD = dens.filter(_._1 >= SimilarityOps.PlantedIdOffset).map(_._2)
    val med = dens.map(_._2).sorted.apply(dens.length / 2)
    val margin = twinD.min - med
    assert(margin > 10000.0,
      f"twin-vs-median margin $margin%.0f ppm too thin for a robust gate")
  }

  test("range search: found is a verified subset of the true ball, gate booleans true") {
    val rows = SimilarityOps.qAnnRangeSearch(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3)))
    val nTwins = Tables.embeddings(spark, SfDir).filter(col("vec_id") % 25 === 0).count()
    assert(rows.length == nTwins, s"${rows.length} gate rows for $nTwins sampled queries")
    rows.foreach { case (q, tau, srcOk, recallOk) =>
      assert(tau == 350000L)
      assert(srcOk, s"twin $q: cos≈1 source missing from its range set")
      assert(recallOk, s"twin $q: micro recall floor broken")
    }
    // precision-1 contract: every (query, vec) the index path returns is
    // genuinely inside the τ-ball of the exact truth
    val found = SimilarityOps.rangeScoredForProbe(spark, SfDir)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = SimilarityOps.rangeTruthForProbe(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.nonEmpty)
    val fps = found.filterNot(truth)
    assert(fps.isEmpty, s"range search returned out-of-ball pairs: ${fps.take(5).toSeq}")
  }

  test("LSH-routed near-dup pairs equal the all-pairs brute oracle exactly") {
    val fast = SimilarityOps.qEmbedNeardupCosine(spark, SfDir)
    val brute = SimilarityOps.embedNeardupCosineBrute(spark, SfDir)
    assert(fast.exceptAll(brute).count() == 0, "LSH path produced extra pairs")
    assert(brute.exceptAll(fast).count() == 0, "LSH path missed pairs")
  }

  test("PRECONDITION: no exact pair sits in the sign-LSH low-recall cosine band") {
    // the brute-equality gate above rests on every true pair having
    // near-certain LSH recall at the CURRENT bits/tables (bits grow with
    // corpus size, so a pair barely over cos 0.99 gets riskier as n
    // grows: p_miss = (1-(1-θ/π)^bits)^tables). Planted pairs are scaled
    // copies (θ=0, p_miss=0); if the generator ever introduces organic
    // near-threshold pairs, fail HERE with the cause instead of a
    // mysterious oracle hash mismatch downstream.
    import spark.implicits._
    val n = Tables.embeddings(spark, SfDir).count()
    val bits = SimilarityOps.lshBits(n)
    val tables = SimilarityOps.NTables
    val expectedMisses = SimilarityOps.embedNeardupCosineBrute(spark, SfDir)
      .select("cos_ppm").as[Long].collect()
      .map { ppm =>
        val theta = math.acos(math.min(1.0, ppm / 1e6))
        math.pow(1.0 - math.pow(1.0 - theta / math.Pi, bits), tables)
      }.sum
    assert(expectedMisses < 1e-4,
      f"expected $expectedMisses%.2e LSH-missed pairs at bits=$bits/tables=$tables — " +
        "an organic pair sits in the low-recall cosine band; raise tables or " +
        "drop the brute-equality oracle to spec-only")
  }

  test("near-dup registered plan has no nested-loop or cartesian join") {
    val plan = SimilarityOps.qEmbedNeardupCosine(spark, SfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(30).mkString("\n"))
    assert(!plan.contains("CartesianProduct"), plan.linesIterator.take(30).mkString("\n"))
  }

  test("brute-force top-k agrees with LSH on planted top-1") {
    val brute = SimilarityOps.qAnnTopkBrute(spark, SfDir)
    assert(brute.filter(col("rank") === 1).count() == 10) // 10 queries
    // ranks are dense 1..10 per query
    val counts = brute.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.forall(_ == 10))
  }

  test("ANN ranking routes through the bounded-heap TopKPerGroupExec, not a full window sort") {
    Seq(
      "brute" -> SimilarityOps.qAnnTopkBrute(spark, SfDir),
      "lsh" -> SimilarityOps.annTopkLshRanked(spark, SfDir),
      "ivf" -> SimilarityOps.annTopkIvfRanked(spark, SfDir),
      "knn_join" -> SimilarityOps.annKnnJoinRanked(spark, SfDir)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerGroup"), s"$name missing custom exec:\n${plan.linesIterator.take(40).mkString("\n")}")
      // the residual rank window runs over <= 10 survivors per query and
      // must reuse TopKPerGroupExec's preserved hash partitioning: between
      // the rank Window and the TopKPerGroup node there may be a local Sort
      // but NO Exchange (other windows in the plan, e.g. IVF probe
      // selection, shuffle legitimately and are out of scope here)
      val lines = plan.linesIterator.toVector
      val winIdx = lines.indexWhere(l => l.contains("Window [row_number()"))
      val topkIdx = lines.indexWhere(_.contains("TopKPerGroup"))
      assert(winIdx >= 0 && topkIdx > winIdx, s"$name: rank window not directly above TopKPerGroup:\n$plan")
      val between = lines.slice(winIdx + 1, topkIdx)
      assert(!between.exists(_.contains("Exchange")),
        s"$name ranking tail re-shuffled between Window and TopKPerGroup:\n${between.mkString("\n")}")
    }
  }

  test("heap-routed brute top-k equals the window-function formulation row-for-row") {
    val base = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("__cos").desc, col("vec_id"))
    val windowed = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("__cos") * 1000000.0).cast("long").as("cos_ppm"))
    val heap = SimilarityOps.qAnnTopkBrute(spark, SfDir)
    assert(heap.exceptAll(windowed).count() == 0, "heap path produced extra rows")
    assert(windowed.exceptAll(heap).count() == 0, "heap path missed rows")
  }

  test("int8 quantization reconstructs within half a step per element") {
    val out = SimilarityOps.qEmbedQuantizeInt8(spark, SfDir).collect()
    assert(out.nonEmpty)
    val orig = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    out.foreach { r =>
      val vec = orig(r.getLong(0))
      val maxabs = r.getDouble(1)
      val q = r.getString(2).split(",").map(_.toInt)
      assert(q.length == vec.length)
      assert(q.forall(v => v >= -127 && v <= 127))
      // dequantized error bound: |x - q*scale/127| <= scale/254 + eps
      if (maxabs > 0) vec.zip(q).foreach { case (x, qi) =>
        assert(math.abs(x - qi * maxabs / 127.0) <= maxabs / 254.0 + 1e-12,
          s"vec ${r.getLong(0)}: $x vs $qi")
      }
    }
  }

  test("semantic dedup clusters are exactly the near-dup pair components") {
    val labels = SimilarityOps.qEmbedClusterDedup(spark, SfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val pairs = SimilarityOps.embedNeardupCosineBrute(spark, SfDir)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "no planted near-dup pairs — vacuous")
    // driver-side union-find over the exact pair graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    labels.keys.foreach(v => parent.getOrElseUpdate(v, v))
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = labels.keys.map { v =>
      val members = labels.keys.filter(u => find(u) == find(v))
      v -> members.min
    }.toMap
    labels.foreach { case (v, (cluster, isRep)) =>
      assert(cluster == want(v), s"vec $v: cluster $cluster != union-find ${want(v)}")
      assert(isRep == (v == cluster), s"vec $v is_rep inconsistent")
    }
    // non-vacuous both ways: real merges happened AND most vectors are singletons
    assert(labels.count { case (v, (c, _)) => v != c } >= pairs.length / 2)
    assert(labels.count { case (_, (_, rep)) => rep } < labels.size)
  }

  test("random projection matches a driver-side recompute and is scale-invariant") {
    val rows = SimilarityOps.qEmbedProjectRand(spark, SfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = Tables.embeddings(spark, SfDir).count()
    assert(rows.length == n * 8, s"expected 8 dims per vector, got ${rows.length} for $n")
    // driver-side recompute for a sample: quantize then integer-project
    val sampleIds = rows.map(_._1).distinct.take(20).toSet
    val raw = Tables.embeddings(spark, SfDir)
      .filter(col("vec_id").isInCollection(sampleIds))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def project(vec: Seq[Double]): Seq[Long] = {
      val maxabs = vec.map(math.abs).max
      val q = if (maxabs == 0) vec.map(_ => 0L)
        else vec.map(x => math.round(x / maxabs * 127.0))
      (0 until 8).map { d =>
        q.zipWithIndex.map { case (qj, j) =>
          qj * ((j * 131 + d * 17 + j * d * 29) % 257 % 7 - 3)
        }.sum
      }
    }
    val byId = rows.groupBy(_._1)
    sampleIds.foreach { id =>
      val got = byId(id).sortBy(_._2).map(_._3).toSeq
      assert(got == project(raw(id)), s"vec $id projection drifted from recompute")
    }
    // scale invariance: a rescaled duplicate quantizes to the same int8
    // vector, so its projection is IDENTICAL — the property that lets
    // projected space stand in for raw space in dedup candidate gen
    val spark2 = spark
    import spark2.implicits._
    val v = raw(sampleIds.head)
    val dup = Seq((0L, v), (1L, v.map(_ * 1.7)))
      .toDF("vec_id", "vec")
    val proj = SimilarityOps.projectQuantized(dup)
      .collect().groupBy(_.getLong(0)).view.mapValues(
        _.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq).toMap
    assert(proj(0L) == proj(1L), "rescaled duplicate must project identically")
    // and the weight matrix is not degenerate: output dims differ
    assert(proj(0L).distinct.size > 1)
  }

  test("kmeansExact replays a hand-computed Lloyd round bit-for-bit") {
    val spark2 = spark
    import spark2.implicits._
    // two obvious 1-D clusters; init = ids 0,1 (one seed in each)
    val base = Seq(
      (0L, Seq(0.0, 0.0)), (1L, Seq(100.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(98.0, 0.0)), (4L, Seq(4.0, 0.0)), (5L, Seq(96.0, 0.0)))
      .toDF("vec_id", "q")
    val out = SimilarityOps.kmeansExact(base, k = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // after one update: c0 = floor-mean(0,2,4) = (2,0); c1 = (98,0) —
    // final distances hand-checked against those centroids
    assert(out == Seq((0L, 0L, 4L), (1L, 1L, 4L), (2L, 0L, 0L),
      (3L, 1L, 0L), (4L, 0L, 4L), (5L, 1L, 4L)))
  }

  test("kmeansExact breaks distance ties to the lowest cell, deterministically") {
    val spark2 = spark
    import spark2.implicits._
    val base = Seq(
      (0L, Seq(0.0)), (1L, Seq(100.0)), (2L, Seq(50.0)))
      .toDF("vec_id", "q")
    // rounds = 0: assignment against the raw seeds; v2 is equidistant
    val out = SimilarityOps.kmeansExact(base, k = 2, rounds = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 0L, 2500L)),
      "equidistant vector must land in the LOWEST cell id")
    // and the registered query is run-to-run deterministic on real data
    val a = SimilarityOps.qEmbedKmeans(spark, SfDir).collect().toSeq
    val b = SimilarityOps.qEmbedKmeans(spark, SfDir).collect().toSeq
    assert(a == b, "qEmbedKmeans must be deterministic across runs")
    assert(a.map(_.getLong(1)).distinct.size > 1,
      "degenerate clustering — all vectors in one cell")
  }

  /** `ids` in kmeansLite's seed order, (xxhash64(vec_id), vec_id), as
    * Spark itself sorts them. */
  private def seedOrder(ids: Seq[Long]): Seq[Long] =
    ids.toDF("vec_id").orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .collect().map(_.getLong(0)).toSeq

  /** kmeansLite over `points` given FIRST-SEED-FIRST: the i-th point gets
    * the i-th id in seed order, so the hand computations below can name
    * the seeds by position. */
  private def kmeansLiteOf(points: Seq[Seq[Double]], k: Int, iters: Int): Seq[Seq[Double]] = {
    val ids = seedOrder(points.indices.map(i => 1000L + 37L * i))
    SimilarityOps.kmeansLite(ids.zip(points).toDF("vec_id", "vec"), k, iters)
      .map(_.toSeq).toSeq
  }

  test("kmeansLite replays a hand-computed Lloyd round bit-for-bit") {
    // seeds = the first two points, one in each cluster; every sum and
    // mean below is exact in binary floating point
    val points = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(1.0, 0.5),
      Seq(11.0, 9.5), Seq(2.0, 1.0), Seq(12.0, 9.0))
    val out = kmeansLiteOf(points, k = 2, iters = 1)
    assert(out == Seq(Seq(1.0, 0.5), Seq(11.0, 9.5)))
    // a second round is a fixed point: the assignment does not change
    assert(kmeansLiteOf(points, k = 2, iters = 2) == out)
  }

  test("kmeansLite breaks distance ties to the lowest cell") {
    // seeds 0 and 100; 50 is equidistant and must join cell 0
    assert(kmeansLiteOf(Seq(Seq(0.0), Seq(100.0), Seq(50.0)), k = 2, iters = 1) ==
      Seq(Seq(25.0), Seq(100.0)))
  }

  test("kmeansLite: a cell that captures no point keeps its centroid") {
    // two identical seeds: every point ties and joins cell 0, so cell 1
    // is empty after the round and keeps its seed
    assert(kmeansLiteOf(Seq(Seq(5.0, 5.0), Seq(5.0, 5.0), Seq(1.0, 1.0), Seq(3.0, 3.0)),
      k = 2, iters = 1) == Seq(Seq(3.5, 3.5), Seq(5.0, 5.0)))
  }

  test("kmeansLite seeds are the first k rows in (xxhash64(vec_id), vec_id) order") {
    // offset, sparse ids: the seeds must not follow id order
    val ids = (0L until 40L).map(i => 500000L + 7919L * i)
    val byHash = seedOrder(ids)
    assert(byHash.take(5) != ids.take(5), "precondition: hash order differs from id order")
    val seeds = SimilarityOps.kmeansLite(
      ids.map(id => (id, Seq(id.toDouble))).toDF("vec_id", "vec"), k = 5, iters = 0)
    assert(seeds.map(_.toSeq).toSeq == byHash.take(5).map(id => Seq(id.toDouble)))
  }

  test("pca power iteration: driver replay bit-exact, renorm pinned, deterministic") {
    val got = SimilarityOps.qEmbedPcaPower(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 64)
    // renorm contract: at least one component sits at exactly +-1000 and
    // none exceeds it
    assert(got.map(x => math.abs(x._2)).max == 1000L)
    // driver replay of the exact integer recurrence
    val vecs = Tables.embeddings(spark, SfDir).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val d = 64
    val q = vecs.map { case (_, v) => v.map(x => math.round(x.toDouble * 1000)) }
    val n = q.length.toLong
    val mu = Array.tabulate(d)(j => q.map(_(j)).sum / n)
    val c = q.map(row => Array.tabulate(d)(j => row(j) - mu(j)))
    var v = Array.fill(d)(1000L)
    for (_ <- 1 to 3) {
      val s = c.map(row => (0 until d).map(j => row(j) * v(j)).sum / 1024L)
      val y = Array.tabulate(d)(j => c.indices.map(i => c(i)(j) * s(i)).sum)
      val mx = math.max(y.map(math.abs).max, 1L)
      v = y.map(yj => yj * 1000L / mx)
    }
    assert(got.map(_._2).toSeq == v.toSeq, "distributed PCA must equal the replay")
    // determinism across invocations (fresh plan objects)
    val again = SimilarityOps.qEmbedPcaPower(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(got.toSeq == again.toSeq)
  }

  test("clustered fixture: deterministic, tight intra-cell and orthogonal cross-cell geometry") {
    // VERDICT r11 ask #3: the production-geometry counterpoint to the
    // amplifier's uniform-random worst case. The fixture must be
    // replayable (pure hash arithmetic) and genuinely clustered —
    // otherwise the clustered-vs-uniform dial sweep measures nothing.
    val out = java.nio.file.Files.createTempDirectory("graft_clustered").toString
    val out2 = java.nio.file.Files.createTempDirectory("graft_clustered2").toString
    ScalingBench.clusteredEmbeddings(spark, out, 2000L, 16)
    val emb = Tables.embeddings(spark, out)
    assert(emb.count() == 2000)
    // determinism: a second generation is row-identical
    ScalingBench.clusteredEmbeddings(spark, out2, 2000L, 16)
    assert(emb.exceptAll(Tables.embeddings(spark, out2)).count() == 0)
    // every planted cell is populated (multinomial over 2000 draws)
    assert(emb.select("label").distinct().count() == 16)
    // geometry: mean cosine within a cell is near 1, across cells near 0
    val a = emb.filter(col("vec_id") < 200)
      .select(col("vec_id").as("ida"), col("label").as("la"), col("embedding").as("va"))
    val b = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .select(col("vec_id").as("idb"), col("label").as("lb"), col("embedding").as("vb"))
    val cos = expr(
      """aggregate(zip_with(va, vb, (x, y) -> cast(x as double) * y), 0D, (s, x) -> s + x)
         / sqrt(aggregate(va, 0D, (s, x) -> s + cast(x as double) * x))
         / sqrt(aggregate(vb, 0D, (s, x) -> s + cast(x as double) * x))""")
    val stats = a.crossJoin(b)
      .groupBy((col("la") === col("lb")).as("same_cell"))
      .agg(avg(cos).as("mean_cos"), count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val (intra, nIntra) = stats(true)
    val (cross, nCross) = stats(false)
    assert(nIntra > 100 && nCross > 1000, s"degenerate pair sample $nIntra/$nCross")
    assert(intra > 0.85, s"intra-cell mean cosine $intra — clusters not tight")
    assert(math.abs(cross) < 0.2, s"cross-cell mean cosine $cross — cells not separated")
  }

  test("a corpus whose ids reach the planted offset fails loudly instead of aliasing") {
    // VERDICT r9 "what's wrong" #2: with ids at/above PlantedIdOffset the
    // corpus/query splits would silently misclassify corpus vectors as
    // planted queries; the id-space guard must refuse the corpus up front
    val dir = java.nio.file.Files.createTempDirectory("graft_idspace").toString
    Tables.embeddings(spark, SfDir).limit(10)
      .withColumn("vec_id", col("vec_id") + SimilarityOps.PlantedIdOffset)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.qAnnTopkBrute(spark, dir).collect()
    }
    assert(e.getMessage.contains("planted-id offset"), e.getMessage)
  }

  test("MIPS: the norm plant separates inner-product from cosine ranking; the LSH route holds recall and top1") {
    // brute MIPS truth (the registered exact entry)
    val brute = SimilarityOps.qEmbedMips(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bruteTop1 = brute.filter(_._2 == 1L).map(r => r._1 -> r._3).toMap
    assert(bruteTop1.size == 10, "expected the fixed 10-query set")
    // non-hollowness: over the SAME norm-planted corpus, cosine ranking
    // (scale-invariant => the raw corpus cosine) must disagree with
    // inner-product ranking for at least one query — otherwise the plant
    // failed and MIPS degenerated back to cosine
    val vecs = Tables.embeddings(spark, SfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.map(i => a(i) * b(i)).sum
    def cosTop1(q: Long): Long = vecs.collect {
      case (id, v) if id != q =>
        (dot(vecs(q), v) / math.sqrt(dot(v, v) * dot(vecs(q), vecs(q))), -id)
    }.max match { case (_, negId) => -negId }
    def scale(id: Long): Double = 1.0 + (id % 7) / 4.0
    def mipsTop1(q: Long): Long = vecs.collect {
      case (id, v) if id != q => (dot(vecs(q), v) * scale(id), -id)
    }.max match { case (_, negId) => -negId }
    val queries = (0L until 10L)
    queries.foreach { q =>
      assert(bruteTop1(q) == mipsTop1(q), s"query $q brute-MIPS top1 vs direct replay")
    }
    assert(queries.exists(q => cosTop1(q) != mipsTop1(q)),
      "MIPS and cosine top-1 agree on every query — the norm plant is hollow")
    // the gate entry's booleans must all hold (the driver asserts the same)
    val gate = SimilarityOps.qAnnMipsLsh(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3)))
    assert(gate.length == 10 && gate.forall(g => g._2 && g._3),
      s"gate booleans: ${gate.mkString(", ")}")
    // measured mean recall@10 of the augmented-LSH route vs brute truth —
    // printed so the floor stays pinned to evidence
    val truthSets = brute.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).toSet }
    val ranked = SimilarityOps.annMipsLshRanked(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val hits = ranked.count { case (q, v) => truthSets(q).contains(v) }
    val meanPct = hits * 10 / queries.size
    info(s"mips-lsh mean recall@10 = $meanPct% (floor ${SimilarityOps.MipsMinMeanRecallPct})")
    assert(meanPct >= SimilarityOps.MipsMinMeanRecallPct,
      s"measured mean recall $meanPct below the pinned floor")
  }

  // ---- the quantizer on the driver vs the distributed algebra it
  // replaced: the cross-join assignment, the residual codebook training,
  // the encode (residual, per-block argmin), the probe window and the T3
  // aggregation, kept here as the reference the build, the encode, the
  // IVF-flat search, the serve and the kNN join must equal bit for bit

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    GraftFunctions.dotProduct(a, b)

  /** (block, cell, cvec, cnorm) frame of a codebook. */
  private def codebookFrame(cb: Array[Array[Array[Double]]]) =
    cb.zipWithIndex.flatMap { case (codes, b) =>
      codes.zipWithIndex.map { case (c, k) => (b, k, c.toSeq, c.map(x => x * x).sum) }
    }.toSeq.toDF("block", "cell", "cvec", "cnorm")

  private def subBlocksOf(df: org.apache.spark.sql.DataFrame, vecCol: String, sub: Int) =
    df.select(df.columns.filter(_ != vecCol).map(col).toIndexedSeq :+
      posexplode(expr(s"transform(sequence(0, 7), b -> slice($vecCol, b * $sub + 1, $sub))"))
        .as(Seq("block", "bvec")): _*)

  /** (cell, cvec, cnorm) frame of a quantizer's cells. */
  private def cellsFrame(q: SimilarityOps.Quantizer) =
    q.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq, q.cnorms(i)) }
      .toSeq.toDF("cell", "cvec", "cnorm")

  /** Nearest-cell assignment (vec_id, vec, cell): a broadcast cross join
    * and the lexicographic min of (distance, cell) per vector. */
  private def referenceAssign(batch: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame) =
    batch.withColumn("__vn", dot(col("vec"), col("vec")))
      .join(broadcast(cells), lit(true))
      .withColumn("__d", col("__vn") - dot(col("vec"), col("cvec")) * 2.0 + col("cnorm"))
      .groupBy("vec_id")
      .agg(first(col("vec")).as("vec"),
        min(struct(col("__d"), col("cell"))).getField("cell").as("cell"))

  /** (vec_id, cell, rvec = vec − centroid(cell)) of the assignment. */
  private def referenceResiduals(batch: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame) =
    referenceAssign(batch, cells).join(broadcast(cells.select(col("cell"), col("cvec"))), "cell")
      .select(col("vec_id"), col("cell"), expr("zip_with(vec, cvec, (a, b) -> a - b)").as("rvec"))

  private def referenceEncode(batch: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame, cb: Array[Array[Array[Double]]]) = {
    val sub = cb.head.head.length
    val resid = referenceResiduals(batch, cells).withColumnRenamed("cell", "ivf_cell")
    subBlocksOf(resid, "rvec", sub)
      .join(broadcast(codebookFrame(cb)), "block")
      .withColumn("__d", col("cnorm") - dot(col("bvec"), col("cvec")) * 2.0)
      .groupBy("vec_id", "ivf_cell", "block")
      .agg(min(struct(col("__d"), col("cell"))).getField("cell").as("code"))
      .groupBy("vec_id", "ivf_cell")
      .agg(expr("transform(array_sort(collect_list(struct(block, code))), s -> s.code)").as("codes"))
      .select(col("vec_id"), col("ivf_cell").as("cell"), col("codes"))
  }

  private def referenceProbes(queries: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame, nProbe: Int) =
    queries.join(broadcast(cells), lit(true))
      .withColumn("__qc", dot(col("qvec"), col("cvec")) * -2.0)
      .withColumn("__l2",
        dot(col("qvec"), col("qvec")) - dot(col("qvec"), col("cvec")) * 2.0 + col("cnorm"))
      .select("query_id", "cell", "__qc", "__l2")
      .withColumn("__pr", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("__l2"), col("cell"))))
      .filter(col("__pr") <= nProbe)
      .select("query_id", "__pr", "cell", "__qc")

  private def referenceT3(queries: org.apache.spark.sql.DataFrame,
      cb: Array[Array[Array[Double]]]) =
    subBlocksOf(queries, "qvec", cb.head.head.length)
      .join(broadcast(codebookFrame(cb).select(col("block"),
        col("cell").as("code"), col("cvec").as("codevec"))), "block")
      .select(col("query_id"), (col("block") * 16 + col("code")).as("slot"),
        (dot(col("bvec"), col("codevec")) * -2.0).as("d"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(slot, d))), s -> s.d)").as("t3"))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** Asserts the driver encode, probe ranking and T3 of `idx` equal the
    * reference algebra over `vecs` (vec_id, vec) bit for bit. */
  private def assertDriverMatchesAlgebra(idx: SimilarityOps.IvfPqIndex,
      vecs: org.apache.spark.sql.DataFrame, nProbe: Int): Unit = {
    val cells = cellsFrame(idx.quantizer)
    val encoded = SimilarityOps.encodeWithIndex(spark, vecs, idx.quantizer)
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    val reference = referenceEncode(vecs, cells, idx.codebook)
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(encoded.nonEmpty && encoded == reference)
    val queries = vecs.select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val qs = vecs.as[(Long, Array[Double])].collect()
    val probes = qs.toSeq.flatMap { case (id, qv) =>
      SimilarityOps.probeCells(qv, idx.quantizer, nProbe).zipWithIndex
        .map { case ((cell, qc), r) => (id, r + 1, cell, bits(qc)) }
    }.sorted
    val refProbes = referenceProbes(queries, cells, nProbe)
      .as[(Long, Int, Int, Double)].collect().map(r => (r._1, r._2, r._3, bits(r._4))).toSeq.sorted
    assert(probes == refProbes)
    val t3 = qs.map { case (id, qv) => (id, SimilarityOps.pqT3(qv, idx.codebook).map(bits).toSeq) }
      .toSeq.sortBy(_._1)
    val refT3 = referenceT3(queries, idx.codebook).as[(Long, Seq[Double])].collect()
      .map(r => (r._1, r._2.map(bits))).toSeq.sortBy(_._1)
    assert(t3 == refT3)
  }

  test("driver encode, probe ranking and T3 equal the distributed algebra bit for bit") {
    val idx = SimilarityOps.buildIvfPqIndex(spark, SfDir)
    // every corpus vector, its planted-query scaling and a perturbed copy
    val base = Tables.embeddings(spark, SfDir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))
    val vecs = base
      .unionByName(base.select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("vec"), x => x * 1.01).as("vec")))
      .unionByName(base.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("vec"), x => x - 0.003).as("vec")))
    assertDriverMatchesAlgebra(idx, vecs, nProbe = 6)
    assertDriverMatchesAlgebra(idx, vecs.filter(col("vec_id") % 7 === 0), nProbe = idx.nCells)
  }

  /** The corpus at `dir` as (vec_id, vec). */
  private def corpusOf(dir: String) = Tables.embeddings(spark, dir)
    .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))

  /** `base` with its planted twins: every 25th vector re-keyed +1e6 and
    * scaled by 1.01. */
  private def withTwins(base: DataFrame) = base.unionByName(base.filter(col("vec_id") % 25 === 0)
    .select((col("vec_id") + 1000000L).as("vec_id"), transform(col("vec"), x => x * 1.01).as("vec")))

  /** The build's bounded training sample: residue class 0 of
    * xxhash64(vec_id) mod n / cap + 1 once n exceeds the cap. */
  private def trainSample(df: DataFrame, n: Long, cap: Long) =
    if (n > cap) df.filter(pmod(xxhash64(col("vec_id")), lit(n / cap + 1)) === 0) else df

  private def bitsOf(a: Array[Array[Double]]) = a.map(_.map(bits).toSeq).toSeq

  test("the IVF+PQ build's cells, codebook and codes equal the frame-algebra training and encode bit for bit") {
    val base = corpusOf(SfDir)
    val all = withTwins(base)
    val n = base.count()
    val k = math.max(16, math.min(4096, math.ceil(math.sqrt(n / 8.0)).toInt))
    // cells: Lloyd over the cell sample of the corpus with its twins
    val centroids = SimilarityOps.kmeansLite(trainSample(all, n, 64L * k), k, iters = 3)
    val cnorms = centroids.map(c => c.map(x => x * x).sum)
    val cells = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq, cnorms(i)) }
      .toSeq.toDF("cell", "cvec", "cnorm")
    // codebook: per sub-block, Lloyd over that slice of the residual
    // sample, the residuals taken against the cross-join assignment
    val resid = trainSample(referenceResiduals(all, cells), n, 64L * 16)
    val sub = centroids.head.length / 8
    val codebook = Array.tabulate(8) { b =>
      SimilarityOps.kmeansLite(resid.select(col("vec_id"),
        slice(col("rvec"), b * sub + 1, sub).as("vec")), 16, iters = 3)
    }
    val idx = SimilarityOps.buildIvfPqIndex(spark, SfDir)
    assert(bitsOf(idx.quantizer.centroids) == bitsOf(centroids))
    assert(idx.quantizer.cnorms.map(bits).toSeq == cnorms.map(bits).toSeq)
    codebook.indices.foreach { b =>
      assert(bitsOf(idx.codebook(b)) == bitsOf(codebook(b)), s"codebook block $b")
    }
    val codes = idx.withCodes.as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq
    assert(codes.size == n)
    assert(codes == referenceEncode(base, cells, codebook)
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1).toSeq)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.mkString(",")).toSeq.sorted

  test("IVF-flat, range search and the kNN join return the rows of the frame-algebra probe plan") {
    val q = SimilarityOps.buildIvfPqIndex(spark, SfDir).quantizer
    val cells = cellsFrame(q)
    val base = corpusOf(SfDir)
    val all = withTwins(base)
    val n = base.count()
    def top(scored: DataFrame, depth: Int, order: Column*) =
      scored.withColumn("rank", row_number().over(Window.partitionBy("query_id").orderBy(order: _*)))
        .filter(col("rank") <= depth)
    def ranked(scored: DataFrame) = top(scored, 10, col("__cos").desc, col("vec_id"))
      .select(col("query_id"), col("rank").cast("long"), col("vec_id"),
        round(col("__cos") * 1000000.0).cast("long"))
    // IVF-flat: the planted queries' nearest cells by the probe window,
    // their base-corpus vectors by the cross-join assignment
    val assigned = referenceAssign(all, cells)
    val queries = assigned.filter(col("vec_id") >= 1000000L)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val cands = referenceProbes(queries, cells, math.max(6, (q.nCells + 3) / 4))
      .select("query_id", "cell").join(queries, "query_id")
      .join(assigned.filter(col("vec_id") < 1000000L), "cell")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
    val ivf = sortedRows(SimilarityOps.annTopkIvfRanked(spark, SfDir))
    assert(ivf.nonEmpty && ivf == sortedRows(ranked(cands)))
    val range = sortedRows(SimilarityOps.annRangeScored(spark, SfDir, 1L))
    assert(range.nonEmpty && range == sortedRows(
      cands.filter(col("__cos") >= SimilarityOps.RangeTauPpm / 1e6)
        .select(col("query_id"), col("vec_id"), round(col("__cos") * 1000000.0).cast("long"))))
    // kNN join: every graph vector's probe window with its T3, the graph
    // codes by the frame-algebra encode, ADC, the shortlist window, the
    // exact rerank
    val cb = q.codebook
    val graphQ = all.select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val t2 = SimilarityOps.pqT2Rows(q.centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) },
      cb, cb.head.head.length).toDF("cell", "t2")
    val adc = referenceProbes(graphQ, cells, SimilarityOps.KnnProbeCells(q.nCells))
      .select("query_id", "cell", "__qc").join(referenceT3(graphQ, cb), "query_id")
      .join(referenceEncode(all, cells, cb), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(t2, "cell")
      .select(col("query_id"), col("vec_id"),
        (col("__qc") + GraftFunctions.adcLookup(col("codes"), col("t2"), 16)
          + GraftFunctions.adcLookup(col("codes"), col("t3"), 16)).as("__adc"))
    val depth = math.max(30,
      math.min(math.max(200, 4 * math.ceil(math.sqrt(n.toDouble)).toInt), (n / 10).toInt))
    val knnCands = top(adc, depth, col("__adc"), col("vec_id")).select("query_id", "vec_id")
      .join(all, "vec_id").join(graphQ, "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
    val knn = sortedRows(SimilarityOps.annKnnJoinRanked(spark, SfDir))
    assert(knn.nonEmpty && knn == sortedRows(ranked(knnCands)))
  }

  test("driver encode and probe ranking break planted ties to the lower id, like the algebra") {
    // 8 blocks x 2 dims; cells 1 and 2 are mirror images about 0 and
    // cell 0 sits far off, so the zero vector is equidistant from 1 and 2
    val dim = 16
    val centroids = Array(Array.fill(dim)(5.0),
      Array.tabulate(dim)(i => if (i == 0) 1.0 else 0.0),
      Array.tabulate(dim)(i => if (i == 0) -1.0 else 0.0))
    val cnorms = centroids.map(c => c.map(x => x * x).sum)
    // every block: codes 0/1 mirror images on the first axis, 2..15 far
    // away, and code 9 a duplicate of code 4
    val codebook = Array.tabulate(8, 16) { (_, k) =>
      if (k == 0) Array(1.0, 0.0) else if (k == 1) Array(-1.0, 0.0)
      else if (k == 9) Array(4.0 + 10.0, 3.0) else Array(k + 10.0, 3.0)
    }
    val q = SimilarityOps.Quantizer(centroids, cnorms, codebook)
    val idx = SimilarityOps.IvfPqIndex(spark.emptyDataFrame, q)
    val vecs = Seq(
      // equidistant from cells 1 and 2; residual (-1, 0) in block 0
      // (code 1), (0, 0) in blocks 1-7: equidistant from codes 0 and 1
      (1L, Array.fill(dim)(0.0)),
      // the same ties off-axis: residual (-1, .5), then (0, .5)
      (2L, Array.tabulate(dim)(i => if (i % 2 == 1) 0.5 else 0.0)),
      // cell 0, residual (14, 3) in every block: codes 4 and 9 tie
      (3L, Array.tabulate(dim)(i => if (i % 2 == 0) 19.0 else 8.0)),
      (4L, Array.tabulate(dim)(i => i * 0.25 - 2.0))).toDF("vec_id", "vec")
    val enc = SimilarityOps.encodeWithIndex(spark, vecs, q)
      .as[(Long, Int, Seq[Int])].collect().sortBy(_._1)
    assert(enc(0) == ((1L, 1, 1 +: Seq.fill(7)(0))), enc(0))
    assert(enc(1) == ((2L, 1, 1 +: Seq.fill(7)(0))), enc(1))
    assert(enc(2) == ((3L, 0, Seq.fill(8)(4))), enc(2))
    assert(SimilarityOps.probeCells(Array.fill(dim)(0.0), q, 2).map(_._1).toSeq == Seq(1, 2))
    assertDriverMatchesAlgebra(idx, vecs, nProbe = 2)
    assertDriverMatchesAlgebra(idx, vecs, nProbe = 3)
  }
}
