package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Bucketed-table utilities (SURVEY.md §5): pre-shuffle fact tables by
  * their join key ONCE at write time so repeated fact⋈fact joins are
  * exchange-free.
  *
  * This is the 100 TB answer to `orders ⋈ lineitem`-class joins: a shuffle
  * of the big side per query is the dominant cost at scale, and bucketing
  * amortizes it into the layout. Bucket counts should be sized so one
  * bucket ⋈ bucket task fits in executor memory (e.g. 100 TB fact / 4096
  * buckets ≈ 25 GB per bucket pre-projection — with column pruning the
  * joined working set lands in the hundreds of MB).
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted managed table. Sorting within buckets
    * lets the join pick sort-merge without a per-query sort — but Spark
    * only TRUSTS the sort order when each bucket is ONE file (multiple
    * per-task files per bucket are each sorted, not sorted as a whole,
    * so the reader re-sorts). Repartitioning on the key with the bucket
    * count uses the same murmur3-pmod layout as the bucket id, so every
    * write task holds exactly one bucket and each bucket lands as one
    * file. */
  def writeBucketed(df: DataFrame, table: String, key: String, nBuckets: Int): Unit =
    df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
      .write
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Join two tables bucketed on the same key with the same bucket count —
    * planned with zero Exchange on either side (asserted in BucketingSpec). */
  def cocolocatedJoin(spark: SparkSession, left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** Write a fact table hive-partitioned by a (low-cardinality) derived
    * column — the lake layout that turns time/tenant filters into
    * directory pruning: a reader filtering on the partition column scans
    * only matching directories (PartitionFilters in the plan, asserted in
    * BucketingSpec). At 100 TB this is the first 100-1000x reduction
    * before any row is read. */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Compact a directory of (many small) parquet files into ~targetBytes
    * files — the small-file problem is the silent killer of lake scans at
    * scale: every file costs a task + footer read + seek, and a 100 TB
    * table accreted from streaming micro-batches can hold millions of
    * KB-sized files. Sizing comes from an FS listing (metadata, no data
    * read); the rewrite is one round-robin repartition to evenly-sized
    * outputs. Returns the target file count. */
  def compact(spark: SparkSession, inDir: String, outDir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length
      else 0L
    val totalBytes = walk(new java.io.File(inDir))
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inDir).repartition(n).write.mode("overwrite").parquet(outDir)
    n
  }

  /** Morton (Z-order) value: bit-interleave of two bounded non-negative
    * integer columns — pure codegen'd column algebra, no UDF. Sorting a
    * table by this value clusters rows that are close in BOTH dimensions
    * into the same files/row-groups, so parquet min/max statistics prune
    * multi-dimensional predicates that a single-column sort can only
    * serve for its leading column. Callers must pre-scale inputs into
    * [0, 2^bits). */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = zValueN(Seq(a, b), bits)

  /** k-column Morton interleave: bit i of column j lands at position
    * k·i + j. All inputs must be pre-scaled into [0, 2^bits); total
    * interleaved width k·bits must fit a long. Pure codegen'd column
    * algebra — the same expression shape at any column count. */
  def zValueN(cols: Seq[Column], bits: Int = 16): Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val k = cols.length
    require(k >= 2, s"need at least 2 columns, got $k")
    require(bits >= 1 && k * bits <= 62, s"$k cols x $bits bits overflow a long")
    (for (i <- 0 until bits; (c, j) <- cols.zipWithIndex)
      yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), k * i + j))
      .reduce(_ bitwiseOR _)
  }

  /** Z-ordered write: range-partition on the interleaved key, sort within
    * partitions, write `nFiles` parquet files. Each output file then owns
    * a compact Z-range — narrow min/max envelopes on BOTH source columns
    * (asserted quantitatively in BucketingSpec), which is what row-group
    * skipping needs. The lake equivalent of the reference's multi-column
    * btree indexes. */
  def writeZOrdered(df: DataFrame, path: String, a: Column, b: Column,
      nFiles: Int, bits: Int = 16): Unit =
    df.withColumn("__z", zValue(a, b, bits))
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  private val zorderLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build-once Z-ordered copy of lineitem's (partkey, suppkey) slice in
    * scratch space, keyed by the source dir's file snapshot. Both
    * dimensions are scaled into the full 16-bit z-width from their actual
    * maxima (two scalars of metadata — the same write-side statistics a
    * table optimizer keeps), so the layout stays balanced at any SF
    * instead of degenerating to the wider key's top bits. */
  private[graft] def zorderedLineitemPath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, max}
    val path = graft.SessionCache.scratchPath("graft_zorder_" + graft.SessionCache.dirKey(dir))
    val lock = zorderLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val li = graft.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity")
        val m = li.agg(max("l_partkey"), max("l_suppkey")).head()
        val (maxP, maxS) = (m.getLong(0) + 1, m.getLong(1) + 1)
        writeZOrdered(li, path,
          col("l_partkey") * 65536L / maxP,
          col("l_suppkey") * 65536L / maxS,
          nFiles = 16)
      }
    }
    path
  }

  /** Build-once compacted copy of lineitem: the source is first
    * DELIBERATELY shattered into many small files (the accreted-
    * micro-batch shape [[compact]] exists to fix), then compacted to
    * ~1 MB targets. */
  private[graft] def compactedLineitemPath(spark: SparkSession, dir: String): String = {
    val base = graft.SessionCache.scratchPath("graft_compact_" + graft.SessionCache.dirKey(dir))
    val lock = zorderLocks.computeIfAbsent(base, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(s"$base/out", "_SUCCESS").exists()) {
        graft.Tables.lineitem(spark, dir)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
          .repartition(64) // the small-file problem, manufactured
          .write.mode("overwrite").parquet(s"$base/in")
        compact(spark, s"$base/in", s"$base/out", targetBytes = 1L << 20)
      }
    }
    s"$base/out"
  }

  /** Small-file compaction as a DRIVER-GATED read path: the oracle reads
    * the raw table, so the shatter → compact round-trip must preserve
    * every row and value exactly; CompactionSpec-style file-count
    * arithmetic lives in BucketingSpec. This is the maintenance
    * operation a streaming-accreted 100 TB table needs continuously —
    * here proven lossless under the same hash gate as any query. */
  def qCompactRead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, round => fround, sum}
    spark.read.parquet(compactedLineitemPath(spark, dir))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Build-once 3-D Z-ordered copy of lineitem on (partkey, suppkey,
    * quantity) — the [[zValueN]] twin of [[zorderedLineitemPath]], each
    * dimension scaled to the shared 3×20-bit width from its write-side
    * maximum. */
  private[graft] def zordered3LineitemPath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, max}
    val path = graft.SessionCache.scratchPath("graft_zorder3_" + graft.SessionCache.dirKey(dir))
    val lock = zorderLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        val li = graft.Tables.lineitem(spark, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_suppkey"), col("l_quantity"))
        val m = li.agg(max("l_partkey"), max("l_suppkey"), max("l_quantity")).head()
        val (maxP, maxS, maxQ) = (m.getLong(0) + 1, m.getLong(1) + 1, m.getDouble(2).toLong + 1)
        val bits = 20
        val w = 1L << bits
        li.withColumn("__z", zValueN(Seq(
            col("l_partkey") * w / maxP,
            col("l_suppkey") * w / maxS,
            col("l_quantity").cast("long") * w / maxQ), bits))
          .repartitionByRange(16, org.apache.spark.sql.functions.col("__z"))
          .sortWithinPartitions("__z")
          .drop("__z")
          .write.mode("overwrite").parquet(path)
      }
    }
    path
  }

  /** 3-D box predicate served from the 3-column Morton layout — the
    * multi-dimensional generalization of [[qZorderPrune]] (the
    * reference's composite indexes routinely span 3 columns). Same
    * contract: the oracle reads the RAW table, so the rewrite must be
    * row-for-row lossless under the box. */
  def qZorder3Prune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(zordered3LineitemPath(spark, dir))
      .filter(col("l_partkey").between(20, 120) && col("l_suppkey").between(2, 8)
        && col("l_quantity").between(10, 30))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Z-order as a QUERY-side win, driver-gated: a 2-D box predicate served
    * from the Z-clustered layout must return exactly the raw table's rows
    * (the DuckDB oracle reads the raw table — any row lost or duplicated
    * by the rewrite breaks the hash), while the layout keeps each file's
    * min/max envelope narrow on BOTH dimensions so the scan's row-group /
    * file skipping actually fires (BucketingSpec asserts the file-level
    * skip quantitatively). This is the lake equivalent of the reference's
    * multi-column btree index serving `cmc BETWEEN x AND y AND set_id=z`
    * shapes (init.sql's composite indexes). */
  def qZorderPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(zorderedLineitemPath(spark, dir))
      .filter(col("l_partkey").between(20, 120) && col("l_suppkey").between(2, 8))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Build-once hive-partitioned copy of orders, laid out by order month —
    * the directory layout behind [[writePartitioned]]'s contract, here
    * owned by a driver-gated query. */
  private[graft] def partitionedOrdersPath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, date_format}
    val path = graft.SessionCache.scratchPath("graft_hivepart_" + graft.SessionCache.dirKey(dir))
    val lock = zorderLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        writePartitioned(
          graft.Tables.orders(spark, dir)
            .withColumn("order_month", date_format(col("o_orderdate"), "yyyy-MM")),
          path, "order_month")
      }
    }
    path
  }

  /** Hive-style partition pruning as a DRIVER-GATED read path: a month
    * filter over the partitioned layout must return exactly the raw
    * table's rows for that month (the oracle reads the RAW table), and
    * the plan must serve the predicate from PartitionFilters — directory
    * listing, zero data files outside the month touched (asserted
    * quantitatively in BucketingSpec). At 100 TB this layout is the
    * first 100-1000x reduction for any time/tenant-scoped query, before
    * row-group statistics ([[qZorderPrune]]) even come into play. */
  def qPartitionPrune(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, round => fround}
    spark.read.parquet(partitionedOrdersPath(spark, dir))
      .filter(col("order_month") === "1996-03")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        fround(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_orderdate"), col("order_month"))
      .orderBy("o_orderkey")
  }

  /** Build-once bucketed+sorted fact tables for [[qBucketedJoin]]:
    * orders and lineitem written `bucketBy(16, orderkey).sortBy` as
    * managed tables (one layout shuffle per session per dir — the
    * amortized write the bucketed layout exists to buy). Both sides use
    * the SAME bucket count and the join key renamed to one name, the
    * co-location contract. */
  /** Last built snapshot-suffix per (session, dir path): when a dir is
    * REWRITTEN mid-session (amplify-into-scratch across scale steps) the
    * fresh snapshot gets new table names — drop the superseded
    * generation's managed tables instead of stranding them in the
    * warehouse (ADVICE r11). */
  private val lastBktSfx =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def bucketedFactTables(
      spark: SparkSession, dir: String): (String, String) = {
    val sfx = graft.SessionCache.dirKey(dir)
    val (ot, lt) = (s"graft_bkt_orders_$sfx", s"graft_bkt_lineitem_$sfx")
    val genKey =
      s"${System.identityHashCode(spark)}|${graft.SessionCache.viewKey(dir)}"
    val lock = zorderLocks.computeIfAbsent("bkt_" + genKey, _ => new Object)
    lock.synchronized {
      val prev = lastBktSfx.put(genKey, sfx)
      if (prev != null && prev != sfx)
        Seq(s"graft_bkt_orders_$prev", s"graft_bkt_lineitem_$prev")
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      import org.apache.spark.sql.functions.col
      // a managed table's DATA outlives the in-memory catalog (the
      // warehouse dir persists across JVMs while the registration does
      // not): an orphaned location makes saveAsTable refuse, so clear it
      // before a fresh write — the bucketing METADATA lives only in the
      // catalog, so a bare directory is useless for exchange-free
      // planning anyway (production uses a persistent metastore)
      def freshWrite(name: String)(write: => Unit): Unit =
        if (!spark.catalog.tableExists(name)) {
          val wh = spark.conf.get("spark.sql.warehouse.dir")
          val loc = new java.io.File(
            new java.net.URI(wh).getSchemeSpecificPart, name)
          def rm(f: java.io.File): Unit = if (f.exists) {
            if (f.isDirectory)
              Option(f.listFiles).getOrElse(Array.empty).foreach(rm)
            f.delete(); ()
          }
          rm(loc)
          write
        }
      freshWrite(ot)(writeBucketed(graft.Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_orderpriority")), ot, "k", 16))
      freshWrite(lt)(writeBucketed(graft.Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("k"),
          col("l_extendedprice"), col("l_discount")), lt, "k", 16))
    }
    (ot, lt)
  }

  /** Exchange-free fact⋈fact join over the bucketed layout, driver-gated
    * (r11): orders ⋈ lineitem on the bucketed key plans as a sort-merge
    * join with ZERO Exchange below it — only bucket-LOCAL sorts remain
    * (modern Spark trusts sortBy ordering only behind the legacy
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` flag; the
    * shuffle is the 100 TB cost, the in-bucket sort is linear local
    * work). BucketingSpec asserts the plan; the `merge` hint pins SMJ so
    * a small local table cannot silently broadcast and bypass the layout
    * being priced. This is THE 100 TB shape for repeated big-big joins:
    * the shuffle is amortized into the write
    * ([[bucketedFactTables]], once per session here, once per ingest in
    * production). The gate aggregates per-priority line counts and
    * per-row-rounded revenue cents, so a bucket misroute (rows of one
    * key in different buckets join partially) or a sort violation
    * changes the result, not just the plan. */
  def qBucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum}
    val (ot, lt) = bucketedFactTables(spark, dir)
    spark.table(ot).hint("merge")
      .join(spark.table(lt), "k")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(expr("cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"))
          .as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  /** Build-once two-generation parquet layout of lineitem: gen=0 files
    * carry the EARLY four-column schema, gen=1 files the evolved schema
    * with two later-added columns — the universal lake-table history
    * (files written before a column existed are never rewritten; the
    * reader is expected to see nulls for them). Split = l_orderkey
    * parity, so the oracle can replay generation membership with pure
    * arithmetic. */
  private[graft] def evolvedLineitemPath(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    val path = graft.SessionCache.scratchPath("graft_evolve_" + graft.SessionCache.dirKey(dir))
    val lock = zorderLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(path + "/gen=1", "_SUCCESS").exists()) {
        val li = graft.Tables.lineitem(spark, dir)
        li.filter(col("l_orderkey") % 2 === 0)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
          .write.mode("overwrite").parquet(path + "/gen=0")
        li.filter(col("l_orderkey") % 2 === 1)
          .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
            "l_extendedprice", "l_returnflag")
          .write.mode("overwrite").parquet(path + "/gen=1")
      }
    }
    path
  }

  /** Parquet schema-evolution read — the mergeSchema path every lake
    * table needs once a column is added mid-history (the reference's
    * JSONB columns absorb drift at WRITE time, `ingest_schema_drift`;
    * this is the columnar-file twin where drift is absorbed at READ
    * time): the footer union makes early-generation rows surface NULL
    * for late columns, and the aggregation must keep those rows as a
    * first-class NULL group — dropping them (or failing the read) is
    * how evolution bugs eat history. The oracle recomputes from the RAW
    * table with the same parity split, so a row lost to either
    * generation, a null materialized wrongly, or a partition-column
    * mixup breaks the hash. Scale shape: the merged read is still one
    * pruned columnar scan + one map-side-combined groupBy; mergeSchema
    * costs one footer read per FILE at planning (at 100 TB: keep
    * per-generation schemas in the table catalog instead of re-deriving
    * them per query — the read path itself is unchanged). */
  def qIngestParquetEvolve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, round => fround, sum, when}
    spark.read.option("mergeSchema", "true").parquet(evolvedLineitemPath(spark, dir))
      .groupBy(col("gen"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        sum(fround(col("l_extendedprice") * 100).cast("bigint")).as("sum_price_cents"))
      .select(col("gen").cast("long").as("gen"), col("l_returnflag"),
        col("n_rows"), col("sum_qty"), col("sum_price_cents"))
      .orderBy("gen", "l_returnflag")
  }
}
