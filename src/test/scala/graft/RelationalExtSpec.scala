package graft

import org.apache.spark.sql.functions._
import graft.operators.RelationalExt

class RelationalExtSpec extends SparkSpec {

  test("event funnel partitions all users and discriminates stages") {
    val out = graft.operators.WindowOps.qEventFunnel(spark, SfDir).collect()
    val users = Tables.events(spark, SfDir).select("user_id").distinct().count()
    assert(out.map(_.getLong(1)).sum == users,
      "funnel buckets must partition the user universe")
    assert(out.length >= 2,
      "single-bucket funnel — conversion windows not discriminating")
  }

  test("native corr/covar_samp/stddev_samp match the moment-derived values") {
    // qStatsMoments gates exact integer moments; this bridges them to the
    // native double stats surface: the natives must equal what the moments
    // derive, so the oracle indirectly verifies corr/covar/stddev too.
    val o = Tables.orders(spark, SfDir).select(
      col("o_orderpriority"),
      round(col("o_totalprice"), 0).cast("bigint").cast("double").as("x"),
      datediff(col("o_orderdate"), lit("1995-01-01")).cast("double").as("y"))
    val natives = o.groupBy("o_orderpriority")
      .agg(corr(col("x"), col("y")).as("c"),
        covar_samp(col("x"), col("y")).as("cv"),
        stddev_samp(col("x")).as("sd"))
      .collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val rows = RelationalExt.qStatsMoments(spark, SfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n").toDouble
      val sx = r.getAs[Long]("sum_x").toDouble; val sy = r.getAs[Long]("sum_y").toDouble
      val sxy = r.getAs[Long]("sum_xy").toDouble
      val sxx = r.getAs[Long]("sum_xx").toDouble; val syy = r.getAs[Long]("sum_yy").toDouble
      val cov = (sxy - sx * sy / n) / (n - 1)
      val varX = (sxx - sx * sx / n) / (n - 1)
      val varY = (syy - sy * sy / n) / (n - 1)
      val corrD = cov / math.sqrt(varX * varY)
      val (nc, ncv, nsd) = natives(r.getString(0))
      def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
      assert(close(nc, corrD), s"corr $nc vs $corrD")
      assert(close(ncv, cov), s"covar $ncv vs $cov")
      assert(close(nsd, math.sqrt(varX)), s"stddev $nsd vs ${math.sqrt(varX)}")
    }
  }

  test("q18 keeps exactly the orders whose quantity sum clears the threshold") {
    val expected = Tables.lineitem(spark, SfDir)
      .groupBy(col("l_orderkey")).agg(sum("l_quantity").as("s"))
      .filter(col("s") > 250).count()
    val out = RelationalExt.q18LargeOrders(spark, SfDir).collect()
    assert(out.length.toLong == expected && out.nonEmpty)
    assert(out.forall(_.getAs[Long]("sum_qty") > 250))
  }

  test("q2 argmin picks the minimum-balance shipper per part, deterministically") {
    val out = RelationalExt.q2MinAcctSupplier(spark, SfDir).collect()
    assert(out.nonEmpty)
    // recompute one part's answer by brute force
    val p = out.head.getAs[Long]("p_partkey")
    val li = Tables.lineitem(spark, SfDir).filter(col("l_partkey") === p)
      .select("l_suppkey").distinct()
    val best = li.join(Tables.supplier(spark, SfDir), col("l_suppkey") === col("s_suppkey"))
      .select(round(col("s_acctbal") * 100, 0).cast("bigint").as("c"), col("s_suppkey"))
      .collect().map(r => (r.getLong(0), r.getAs[Number](1).longValue())).min
    assert((out.head.getAs[Long]("acct_cents"), out.head.getAs[Number]("s_suppkey").longValue()) == best)
  }

  test("grouping sets emits the three lattice levels with consistent totals") {
    val out = RelationalExt.qGroupingSets(spark, SfDir).collect()
    val total = Tables.orders(spark, SfDir).count()
    val grand = out.filter(_.getAs[Long]("gid") == 3L)
    assert(grand.length == 1 && grand.head.getAs[Long]("n") == total)
    // per-priority level (gid=1) sums back to the grand total
    assert(out.filter(_.getAs[Long]("gid") == 1L).map(_.getAs[Long]("n")).sum == total)
  }

  test("gap fill covers the full spine and fills are monotone-present") {
    val out = RelationalExt.qGapFill(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getAs[Number](1).longValue(),
        Option(r.get(2)).map(_.asInstanceOf[Long])))
    val segs = out.map(_._1).distinct
    val maxDay = out.map(_._2).max
    assert(out.length == segs.length * (maxDay + 1), "spine has holes")
    // once a segment has seen data, filled_cents never reverts to null
    segs.foreach { s =>
      val fills = out.filter(_._1 == s).sortBy(_._2).map(_._3)
      val firstData = fills.indexWhere(_.isDefined)
      assert(firstData >= 0 && fills.drop(firstData).forall(_.isDefined), s"fill gap in $s")
    }
  }

  test("q11/q15 global scalars: no single-partition window, shuffle reused") {
    // the broadcast-scalar form must keep ONE fact shuffle (the scalar
    // branch rides the same exchange via ReuseExchange under AQE) and
    // must NOT plan an unpartitioned Window (which would funnel every
    // per-group row through a single partition at catalog scale)
    for ((name, df) <- Seq(
        "q11" -> RelationalExt.q11ImportantStock(spark, SfDir),
        "q15" -> RelationalExt.q15TopSupplier(spark, SfDir))) {
      df.collect() // materialize so AQE finalizes the physical plan
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name still plans a window:\n${plan.take(400)}")
      assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage") ||
        plan.contains("ReusedQueryStage") || plan.contains("reuse"),
        s"$name scalar branch does not reuse the fact shuffle")
    }
  }

  test("q_hll_distinct: exact counts right, union row present, ±5% gate non-vacuous") {
    val out = RelationalExt.qHllDistinct(spark, SfDir).collect()
    val orders = Tables.orders(spark, SfDir)
    val globalExact = orders.select(countDistinct(col("o_custkey"))).head().getLong(0)
    val all = out.filter(_.getString(0) == "ALL")
    assert(all.length == 1 && all.head.getLong(1) == globalExact,
      "ALL row must carry the exact global distinct")
    assert(out.forall(_.getBoolean(2)), "sketch estimate drifted past ±5% of exact")
    assert(out.length == orders.select("o_orderpriority").distinct().count() + 1)
    // the boolean gate CAN fail: a sketch built over a halved key space
    // vs the full exact count must violate the same ±5% bound — proving
    // est_ok is a live comparison, not a vacuously-true literal
    val broken = orders
      .agg(hll_sketch_agg(
          when(col("o_custkey") % 2 === 0, col("o_custkey")), 14).as("__sk"),
        countDistinct(col("o_custkey")).as("n_exact"))
      .select((abs(hll_sketch_estimate(col("__sk")) - col("n_exact"))
        <= col("n_exact") * 0.05).as("est_ok"))
      .head().getBoolean(0)
    assert(!broken, "halved sketch still inside the bound — gate is vacuous")
  }

  test("skyline equals the literal dominance rule and is strictly monotone") {
    val got = RelationalExt.qSkyline(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // driver-side replay of the dominance rule the oracle states — the
    // running-max scan must reproduce the O(n²) definition exactly
    val pts = Tables.part(spark, SfDir)
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("bigint"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = pts.filter { case (_, pc, sz) =>
      !pts.exists { case (_, bpc, bsz) =>
        bpc <= pc && bsz >= sz && (bpc < pc || bsz > sz) }
    }.sortBy(p => (p._2, p._1))
    assert(got == want)
    assert(got.nonEmpty, "empty skyline — vacuous")
    // along increasing price, skyline size must STRICTLY increase
    // (distinct points; duplicates share both coordinates)
    val distinctPts = got.map(p => (p._2, p._3)).distinct
    assert(distinctPts.sortBy(_._1).sliding(2).forall {
      case Seq((p1, s1), (p2, s2)) => p1 < p2 && s1 < s2
      case _ => true
    }, "frontier not strictly monotone")
  }

  test("profile columns matches direct aggregates for every profiled column") {
    val out = RelationalExt.qProfileColumns(spark, SfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))
      .toMap
    assert(out.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority", "total_cents"))
    val o = Tables.orders(spark, SfDir)
    val n = o.count()
    assert(out.values.forall(_._1 == n), "n_rows differs across column rows")
    assert(out.values.forall(_._2 == 0L), "generated orders have no nulls")
    val ck = out("o_custkey")
    assert(ck._3 == o.select(countDistinct(col("o_custkey"))).head().getLong(0))
    assert(out("o_orderkey")._4 ==
      o.agg(min("o_orderkey")).head().getLong(0).toString)
    assert(out("o_orderstatus")._5 ==
      o.agg(max("o_orderstatus")).head().getString(0))
    // total_cents min/max replay from exact per-row cents
    val centsAgg = o.select(round(col("o_totalprice") * 100, 0).cast("bigint").as("c"))
      .agg(min("c"), max("c")).head()
    assert(out("total_cents")._4 == centsAgg.getLong(0).toString &&
      out("total_cents")._5 == centsAgg.getLong(1).toString)
  }

  test("pagerank: sinks at the floor, root accumulates, structure replayed") {
    val out = graft.operators.GraphOps.qPagerank(spark, SfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = Tables.supplier(spark, SfDir).count()
    assert(out.size == n, "one rank row per supplier node")
    // every rank carries at least the teleport floor
    assert(out.values.forall(_ >= 150000L))
    // the max-key node has no inbound edges (its children 2k/3k are out of
    // key range), so its rank is EXACTLY the floor
    assert(out(out.keys.max) == 150000L)
    // node 0 is the collapsing DAG's sink side: it must hold the max rank
    assert(out(0L) == out.values.max, "rank mass must accumulate at node 0")
    // driver-side replay of the exact integer iteration over the same graph
    val keys = out.keys.toSeq.sorted
    val edges = keys.filter(_ >= 1).flatMap(s => Seq(s -> (s / 2), s -> (s / 3)))
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 5) {
      val inbound = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => rank(src) / outdeg(src) }.sum).toMap
      rank = keys.map(k => k -> (150000L + 850000L * inbound.getOrElse(k, 0L) / 1000000L)).toMap
    }
    assert(out == rank, "distributed ranks must equal the driver replay")
  }

  test("dq rules: planted accepted-set violation fires, structural rules pass") {
    val out = graft.operators.EtlOps.qDqRules(spark, SfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val n = Tables.orders(spark, SfDir).count()
    assert(out.size == 5)
    assert(out.values.forall(_._2 == n), "every rule reports the scanned row count")
    // the accepted set excludes the real 'P' status on purpose: the rule
    // must FAIL with exactly the P count (a rule set that never fires is
    // untested machinery)
    val pCount = Tables.orders(spark, SfDir)
      .filter(col("o_orderstatus") === "P").count()
    assert(pCount > 0, "corpus lost its P orders — violation traffic gone")
    assert(out("status_in_accepted_set") == ((pCount, n, false)))
    // generator invariants: keys unique, FK closed, dates present, prices positive
    for (rule <- Seq("pk_unique_orderkey", "fk_custkey_in_customer",
        "orderdate_not_null", "totalprice_positive"))
      assert(out(rule) == ((0L, n, true)), s"$rule should pass on clean testdata")
  }

  test("incremental agg merge equals the direct full recompute; both slices live") {
    val merged = RelationalExt.qIncrementalAggMerge(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val o = Tables.orders(spark, SfDir)
      .select(col("o_custkey"), round(col("o_totalprice") * 100, 0).cast("bigint").as("c"))
    val direct = o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("c").as("s"), min("c").as("mn"), max("c").as("mx"))
      .orderBy("o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(merged.toSeq == direct.toSeq, "partial-merge must equal the direct agg")
    // non-vacuous: the 1998 cutoff must split the data, or the merge path
    // degenerates to a rename of the direct plan
    val split = Tables.orders(spark, SfDir)
      .agg(sum(when(col("o_orderdate") < lit("1998-01-01"), 1L).otherwise(0L)),
        sum(when(col("o_orderdate") >= lit("1998-01-01"), 1L).otherwise(0L))).head()
    assert(split.getLong(0) > 0 && split.getLong(1) > 0, "cutoff leaves a slice empty")
  }

  test("event anomaly: MAD rule replays from hourly counts, both flag states live") {
    val rows = graft.operators.WindowOps.qEventAnomaly(spark, SfDir).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val counts = Tables.events(spark, SfDir)
      .groupBy(date_trunc("HOUR", col("ts")).cast("timestamp_ntz").as("h"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getAs[java.time.LocalDateTime](0), r.getLong(1)))
    assert(rows.length == counts.length)
    implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
      Ordering.fromLessThan(_.isBefore(_))
    def lowMed(vs: Seq[(Long, java.time.LocalDateTime)]): Long =
      vs.sorted.apply((vs.size + 1) / 2 - 1)._1
    val med = lowMed(counts.toSeq.map { case (t, n) => (n, t) })
    val mad = lowMed(counts.toSeq.map { case (t, n) => (math.abs(n - med), t) })
    val byHour = counts.toMap
    rows.foreach { case (t, n, dev, flag) =>
      assert(n == byHour(t))
      assert(dev == math.abs(n - med))
      assert(flag == (dev > 3 * mad), s"$t flag mismatch (med=$med mad=$mad)")
    }
    assert(rows.exists(_._4) && rows.exists(!_._4),
      "anomaly flags are one-sided — rule vacuous on this corpus")
  }

  test("event paths: replayed from the sessionize frame, ranking total-ordered") {
    val got = graft.operators.WindowOps.qEventPaths(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val sess = graft.operators.WindowOps.sessionize(
      Tables.events(spark, SfDir).select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
      "user_id", "ts", 1800L).collect()
      .map(r => ((r.getLong(0), r.getLong(4)), (r.getAs[java.time.LocalDateTime](3), r.getLong(1), r.getString(2))))
    val want = sess.groupBy(_._1).values.map { es =>
      implicit val ldtOrd: Ordering[java.time.LocalDateTime] =
        Ordering.fromLessThan(_.isBefore(_))
      es.map(_._2).sortBy(t => (t._1, t._2)).take(8).map(_._3).mkString(">")
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want.toSeq, "top paths must equal the driver replay")
    assert(got.map(_._1).forall(_.split(">").length <= 8))
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("q_event_paths golden plan: user-partitioned windows only, top-20 via TakeOrdered (VERDICT r9 ask #7)") {
    // the load-bearing plan facts: both windows (sessionize gap rank,
    // within-session step rank) must partition by user — an
    // unpartitioned window would funnel the whole event stream through
    // one task — and the final top-20 must be the bounded
    // TakeOrderedAndProject, never a global sort
    val df = graft.operators.WindowOps.qEventPaths(spark, SfDir)
    df.collect() // AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    val specs = plan.split("windowspecdefinition\\(").drop(1)
    assert(specs.nonEmpty, "expected window specs in the event-paths plan")
    specs.foreach(s => assert(s.take(80).contains("user_id"),
      s"unpartitioned window spec: ${s.take(80)}"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 is not a bounded TakeOrdered:\n${plan.take(400)}")
  }

  test("q_bloom_semijoin golden plan: the bloom probe filters the fact BELOW the join (VERDICT r9 ask #7)") {
    // the load-bearing plan fact: the probe must survive into the
    // physical plan on the fact-scan side (below the join), where it
    // cuts the exchange — a probe optimized away or hoisted above the
    // join would make the whole reduction a no-op while the result
    // stayed hash-identical
    val df = graft.operators.JoinOps.qBloomSemijoin(spark, SfDir)
    df.collect() // AQE finalizes the physical plan
    val lines = df.queryExecution.executedPlan.toString.linesIterator.toVector
    val joinIdx = lines.indexWhere(l => l.contains("Join") && l.contains("custkey"))
    // the expression prints with its Catalyst prettyName `might_contain`;
    // the fact-side probe is the Filter referencing o_custkey
    val probeIdx = lines.indexWhere(l =>
      l.contains("might_contain") && l.contains("xxhash64(o_custkey"))
    assert(joinIdx >= 0, "join missing from the physical plan")
    assert(probeIdx > joinIdx,
      s"bloom probe not below the join (join@$joinIdx, probe@$probeIdx):\n" +
        lines.slice(math.max(0, joinIdx - 2), math.max(probeIdx, joinIdx) + 2).mkString("\n"))
    assert(lines(probeIdx).contains("Filter"),
      s"fact-side bloom probe is not a Filter: ${lines(probeIdx)}")
  }

  test("bloom semijoin: the probe genuinely reduces the pre-join stream, fp-safe") {
    import org.apache.spark.util.sketch.BloomFilter
    Tables.customer(spark, SfDir).createOrReplaceTempView("__bsj_customer")
    Tables.orders(spark, SfDir).createOrReplaceTempView("__bsj_orders")
    val numBits = BloomFilter.optimalNumOfBits(1000000L, 0.01)
    val pre = spark.sql(
      s"""SELECT count(*) FROM __bsj_orders
         |WHERE bloom_might_contain(
         |  (SELECT bloom_filter_agg(xxhash64(c_custkey), CAST(1000000 AS BIGINT),
         |                           CAST($numBits AS BIGINT))
         |   FROM __bsj_customer WHERE c_mktsegment = 'AUTOMOBILE'),
         |  xxhash64(o_custkey))""".stripMargin).head().getLong(0)
    val total = Tables.orders(spark, SfDir).count()
    val trueMatches = spark.sql(
      """SELECT count(*) FROM __bsj_orders o
        |WHERE EXISTS (SELECT 1 FROM __bsj_customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'AUTOMOBILE')""".stripMargin)
      .head().getLong(0)
    // no false negatives: every true match survives the probe
    assert(pre >= trueMatches, "bloom dropped a true join row")
    // the reduction is real: the probe must cut the stream well below
    // the full scan (a filter that keeps everything is vacuous)
    assert(pre < total * 6 / 10,
      s"bloom kept $pre of $total rows — no meaningful reduction")
    // and the registered query's result equals the plain join
    val got = graft.operators.JoinOps.qBloomSemijoin(spark, SfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val want = spark.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT),
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM __bsj_orders JOIN __bsj_customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'AUTOMOBILE'
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
  }
}
