package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Join operators Spark lacks as built-ins (SURVEY.md §2.B): as-of join,
  * interval/range join, and a skew-resistant salted join.
  */
object JoinOps {

  /** As-of join: for each left row, attach the most recent right row of the
    * same key with rightTs <= leftTs.
    *
    * Implemented as the scalable union-then-window plan rather than a
    * range-condition join: tag both sides, union, sort within key by
    * (ts, side) and carry the last seen right payload forward. This costs
    * ONE shuffle on the key and is linear in |L|+|R|; a naive
    * non-equi join is O(|L|·|R|) per key and explodes on hot keys.
    *
    * Right rows sort before left rows on timestamp ties, so an exact-tie
    * right row IS matched (<= semantics, like DuckDB ASOF and pandas
    * merge_asof).
    *
    * @param rightPayload right columns to carry (must not collide with left)
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      rightPayload: Seq[String]
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__ts", col(leftTs))
      .withColumn("__key", col(key))
    val r0 = right.select((col(rightTs).as("__ts") +: col(key).as("__key") +: rightPayload.map(col)): _*)
    val r = leftCols.foldLeft(r0.withColumn("__side", lit(0)))((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    val lAll = rightPayload.foldLeft(l)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null)))
    val unioned = lAll.select((leftCols ++ rightPayload ++ Seq("__side", "__ts", "__key")).map(col): _*)
      .unionByName(r.select((leftCols ++ rightPayload ++ Seq("__side", "__ts", "__key")).map(col): _*))
    val w = Window
      .partitionBy(col("__key"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightPayload.foldLeft(unioned)((d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
    carried.filter(col("__side") === 1).drop("__side", "__ts", "__key")
  }

  /** As-of query: each purchase event matched to the user's most recent
    * prior (or simultaneous) view event. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"),
        col("event_id").as("view_event_id"), col("value").as("view_value"))
    asofJoin(purchases, views, "user_id", "ts", "ts", Seq("view_event_id", "view_value"))
      .select(col("event_id"), col("user_id"), col("view_event_id"),
        round(col("view_value"), 2).as("view_value"))
      .orderBy("event_id")
  }

  /** Interval (range) join: non-equi join of a fact column into bucket
    * boundaries. The bucket side is tiny ⇒ broadcast nested-loop, which is
    * the right physical plan: no shuffle of the fact table at all. */
  def rangeJoin(fact: DataFrame, buckets: DataFrame, value: Column, lo: Column, hi: Column): DataFrame =
    fact.join(broadcast(buckets), value >= lo && value < hi)

  /** Parts classified into size-range buckets, aggregated per bucket. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val buckets = Seq((0, 10, "small"), (10, 25, "medium"), (25, 40, "large"), (40, 1000, "huge"))
      .toDF("lo", "hi", "size_class")
    rangeJoin(Tables.part(spark, dir), buckets, col("p_size"), col("lo"), col("hi"))
      .groupBy(col("size_class"))
      .agg(count(lit(1)).as("n_parts"), round(avg("p_retailprice"), 2).as("avg_price"))
      .orderBy("size_class")
  }

  /** Skew-resistant salted equi-join: each ROW of the big (possibly skewed)
    * side gets a salt in [0, nSalts) — a function of row identity, NOT of
    * the join key, so a hot key's rows genuinely spread across nSalts
    * reducers (a key-derived salt would send the whole hot key to one
    * reducer and mitigate nothing). The small side is exploded across all
    * salts; the shuffle key becomes (key, salt). Results are identical to
    * the plain join. On Spark 3+ AQE's skewJoin handles moderate skew
    * automatically; this is the explicit variant for pathological keys. */
  /** Per-row salt in [0, nSalts): derived from row identity, never from a
    * key, so it spreads even a single-key dataset across all salt values. */
  def rowSalt(nSalts: Int): Column =
    pmod(monotonically_increasing_id(), lit(nSalts.toLong)).cast("int")

  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String, smallKey: String, nSalts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt", rowSalt(nSalts))
    val saltedSmall = small.withColumn("__salt", explode(array((0 until nSalts).map(lit): _*)))
    saltedBig
      .join(saltedSmall, saltedBig("__salt") === saltedSmall("__salt") && col(bigKey) === col(smallKey))
      .drop("__salt")
  }

  /** Salted events⋈customer join rolled up by market segment — must equal
    * the plain-join oracle exactly. */
  def qSkewSaltedJoin(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(Tables.events(spark, dir), Tables.customer(spark, dir), "user_id", "c_custkey", 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .orderBy("c_mktsegment")

  /** Join-key skew diagnostics — the profiling pass that decides between
    * a plain shuffle join, AQE skew handling, and explicit salting
    * ([[qSkewSaltedJoin]]): per-key event counts reduced to the
    * distribution facts that matter (key count, max/mean ratio in ppm,
    * share held by the heaviest key) plus the top-3 heavy keys. Two
    * aggregations, the second over one row per key; the top-3 is a
    * bounded TakeOrdered. All integers — exact across engines. */
  def qSkewDiagnose(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    // canonical order via array_sort over (-cnt, user_id) structs —
    // collect_list alone would depend on post-limit row order
    val top = perKey.orderBy(col("cnt").desc, col("user_id")).limit(3)
      .agg(expr("""concat_ws(',',
        | transform(array_sort(collect_list(struct(-cnt AS nc, user_id))),
        |   s -> cast(s.user_id AS string)))""".stripMargin).as("top_keys"))
    perKey.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      // DIV: integer division on both engines (DuckDB //) — the
      // double-divide-then-truncate form would hand each engine its own
      // rounding
      .withColumn("skew_ppm", expr("max_cnt * n_keys * 1000000 DIV n_rows"))
      .withColumn("top_share_ppm", expr("max_cnt * 1000000 DIV n_rows"))
      .crossJoin(broadcast(top))
  }

  /** EVENT-TIME skew diagnostics — [[qSkewDiagnose]]'s temporal twin
    * (VERDICT r7 stretch item): per-hour event-time bucket counts
    * reduced to the same integer-exact distribution facts (bucket
    * count, max/mean ratio in ppm, heaviest bucket's share) plus the
    * top-3 hot hours in canonical order. This is the profiling pass
    * that decides whether a windowed aggregation / watermark replay
    * will hot-spot: a replay burst or clock-skewed producer puts most
    * of the stream into one window, and the fix (finer buckets,
    * repartition on a composite key, two-level window) is chosen from
    * exactly these facts. Same two-aggregation shape — the second runs
    * over one row per DISTINCT hour, the top-3 is a bounded
    * TakeOrdered. Hot-hour ids travel as their canonical timestamp
    * strings (both engines render 'yyyy-MM-dd HH:mm:ss'). */
  def qTimeSkewDiagnose(spark: SparkSession, dir: String): DataFrame = {
    val perBucket = Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val top = perBucket.orderBy(col("cnt").desc, col("bucket")).limit(3)
      .agg(expr("""concat_ws(',',
        | transform(array_sort(collect_list(struct(-cnt AS nc, cast(bucket AS string) AS b))),
        |   s -> s.b))""".stripMargin).as("top_buckets"))
    perBucket.agg(
        count(lit(1)).as("n_buckets"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      .withColumn("skew_ppm", expr("max_cnt * n_buckets * 1000000 DIV n_rows"))
      .withColumn("top_share_ppm", expr("max_cnt * 1000000 DIV n_rows"))
      .crossJoin(broadcast(top))
  }

  /** Bloom-filter semi-join reduction — the runtime-filter shape that
    * makes selective fact⋈dim joins cheap at lake scale: the filtered
    * dimension's join keys fold into an in-plan `bloom_filter_agg`
    * scalar subquery (kilobytes, broadcast), and a codegen'd
    * `bloom_might_contain` probe drops non-matching fact rows AT THE
    * SCAN — before they pay the join shuffle. The exact join still runs
    * AFTER the probe (a bloom answers "maybe"), so false positives are
    * removed and the result is bit-identical to the plain join — which
    * is exactly what the oracle states, making "the reduction is
    * semantically free" part of the hash gate. Spark's own
    * runtime-filter rewrite injects this automatically in narrow cases;
    * the explicit form works for any producible key set and documents
    * the contract (the dedup_bloom_probe machinery aimed at a JOIN).
    *
    * Scale shape: one dimension scan builds the filter (map-side
    * OR-merged partials, no driver sketch collect), the fact scan
    * probes it row-by-row inside codegen, and only surviving rows
    * (selectivity × fact + fp) enter the exchange — at a 1/5-selective
    * dimension that is ~80% of the join's shuffle bytes gone. */
  def qBloomSemijoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.customer(spark, dir).createOrReplaceTempView("__bsj_customer")
    Tables.orders(spark, dir).createOrReplaceTempView("__bsj_orders")
    // sized for a 1M-key dimension at 1% fpp (the production knob)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(1000000L, 0.01)
    spark.sql(
      s"""WITH dim AS (
         |  SELECT c_custkey FROM __bsj_customer WHERE c_mktsegment = 'AUTOMOBILE'),
         |pre AS (
         |  SELECT o_custkey, o_orderpriority, o_totalprice FROM __bsj_orders
         |  WHERE bloom_might_contain(
         |    (SELECT bloom_filter_agg(xxhash64(c_custkey), CAST(1000000 AS BIGINT),
         |                             CAST($numBits AS BIGINT)) FROM dim),
         |    xxhash64(o_custkey)))
         |SELECT o_orderpriority,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
         |FROM pre JOIN dim ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }
}
