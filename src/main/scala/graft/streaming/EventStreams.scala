package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.Tables

/** Structured Streaming operators (SURVEY.md §2.F). Each transform is
  * written against a plain DataFrame so the SAME code runs in batch (for
  * the driver's oracle gate) and on a `readStream` source (exercised in
  * EventStreamSpec with a memory stream).
  *
  * Scale: watermarks bound window state; sessionization state is one small
  * struct per active user key, dropped on timeout.
  */
object EventStreams {

  // ---- opt-in streaming EXECUTION for the registered entries ----

  /** VERDICT r9 ask #6: with `graft.stream.execute=true` (system
    * property) or `SPARK_GRAFT_STREAM_EXECUTE=1` (env), every registered
    * `stream_*` entry ALSO runs its transform through a real
    * Trigger.AvailableNow file-source stream and asserts row-identity
    * against the batch plan IN-ENTRY before returning — so a
    * stream/batch divergence fails the driver's correctness gate loudly
    * instead of living only in EventStreamSpec. Default OFF: the driver
    * contract stays batch-priced; CI keeps the flag exercised
    * (EventStreamSpec runs the registered stream entries with it on —
    * see its flag-on test for the current list). */
  private[graft] def streamExecuteEnabled: Boolean =
    sys.props.get("graft.stream.execute")
      .orElse(sys.env.get("SPARK_GRAFT_STREAM_EXECUTE"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  private val sinkSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Run `transform` over a file-source stream of `input` (staged to a
    * scratch dir) under Trigger.AvailableNow into a memory sink; returns
    * the sink contents. Default: ALL staged files land in one data
    * micro-batch (plus the engine's final watermark-flush batch) — the
    * arrival order of a completed historical input is not meaningful, and
    * multi-batch splits would let the advancing watermark drop
    * arbitrary-order "late" rows and break parity for reasons that are
    * artifacts of the split, not of the operators. `filesPerTrigger`
    * opts into multi-batch processing where convergence across batches
    * IS the claim under test (the complete-mode leaderboard). */
  private def runAvailableNow(input: DataFrame, mode: String,
      filesPerTrigger: Option[Int] = None)(
      transform: DataFrame => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val name = s"graft_stream_exec_${sinkSeq.incrementAndGet()}"
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    input.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(schema)
    val src = filesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
    val q = transform(src).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000L)
    spark.table(name)
  }

  /** Multiset row-identity: the streamed result must equal the batch
    * plan exactly, both directions. Implemented as a null-safe
    * grouped-count full-outer compare rather than two `exceptAll`
    * passes: one shuffle per side, and it sidesteps a Catalyst
    * RewriteExceptAll binding failure ([INTERNAL_ERROR_ATTRIBUTE_NOT_
    * FOUND]) hit when the batch side contains dropDuplicates. */
  private def assertStreamParity(name: String, streamed: DataFrame,
      batch: DataFrame): Unit = {
    val cols = batch.columns.toSeq
    // the count alias must not collide with prefixed data columns (the
    // window entries carry a column literally named "n")
    def counted(df: DataFrame, p: String): DataFrame =
      df.groupBy(cols.map(col): _*).agg(count(lit(1)).as(p + "__cnt"))
        .select(cols.map(c => col(c).as(p + c)) :+ col(p + "__cnt"): _*)
    val s = counted(streamed, "s_")
    val b = counted(batch, "b_")
    val mismatched = s.join(b,
        cols.map(c => col("s_" + c) <=> col("b_" + c)).reduce(_ && _),
        "full_outer")
      .filter(coalesce(col("s___cnt"), lit(0L)) =!= coalesce(col("b___cnt"), lit(0L)))
      .count()
    require(mismatched == 0,
      s"$name: streaming execution diverged from the batch plan " +
        s"($mismatched distinct rows with unequal multiplicity)")
  }

  /** Events with ts cast to TIMESTAMP (watermarks reject NTZ event
    * time). */
  private def eventsTs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).withColumn("ts", col("ts").cast("timestamp"))

  /** Append one far-future sentinel row (6 h past max ts): append-mode
    * window aggregations only emit a window once the watermark (2 h
    * lag) passes its end, so on a COMPLETED input the tail windows
    * would stay withheld forever and full row-identity with the batch
    * plan would be unreachable. The sentinel drives the final watermark
    * past every real window's end; its own group (user_id/event_id −1,
    * its window still open at termination) never reaches the sink, so
    * no filtering is needed on the output side. */
  private def withFlushSentinel(events: DataFrame): DataFrame = {
    val sentinel = events.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 6 HOURS"))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_id", lit(-1L))
      .withColumn("event_type", lit("__sentinel"))
    events.unionByName(sentinel)
  }

  /** Tumbling-window counts per event type. With a streaming input, pair
    * with `withWatermark("ts", ...)` (see [[windowCountsStreaming]]). */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"), col("total_value"))

  /** Streaming variant: 2-hour watermark bounds state to recent windows. */
  def windowCountsStreaming(events: DataFrame): DataFrame =
    windowCounts(events.withWatermark("ts", "2 hours"))

  /** Batch-equivalent driver query — identical semantics to the streaming
    * path on a completed input (verified in EventStreamSpec; with
    * [[streamExecuteEnabled]] also asserted in-entry against a real
    * AvailableNow run, sentinel-flushed to full row identity). */
  def qStreamWindowCounts(spark: SparkSession, dir: String): DataFrame = {
    val batch = windowCounts(Tables.events(spark, dir)) // window() handles TIMESTAMP_NTZ
      .orderBy("bucket", "event_type")
    if (streamExecuteEnabled) {
      val streamed = runAvailableNow(
          withFlushSentinel(eventsTs(spark, dir)), "append")(windowCountsStreaming)
        .withColumn("bucket", col("bucket").cast("timestamp_ntz"))
      assertStreamParity("stream_window_counts", streamed, batch)
    }
    batch
  }

  /** Stream-static enrichment join: events joined to the customer
    * dimension, then tumbling counts per market segment. In streaming,
    * stream⋈static re-reads the static side per micro-batch (dimension
    * updates flow in) and the equi-join broadcasts the dim — no stream
    * state beyond the watermarked window agg. The same transform runs in
    * batch for the oracle gate (EventStreamSpec proves parity on a
    * completed input). */
  def enrichedSegmentCounts(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("bucket"), col("c_mktsegment"),
        col("n"), col("total_value"))

  /** Streaming variant: 2-hour watermark bounds window state. */
  def enrichedSegmentCountsStreaming(events: DataFrame, customer: DataFrame): DataFrame =
    enrichedSegmentCounts(events.withWatermark("ts", "2 hours"), customer)

  /** Batch-equivalent driver query for the stream-static join. */
  def qStreamEnrichJoin(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val batch = enrichedSegmentCounts(Tables.events(spark, dir), customer)
      .orderBy("bucket", "c_mktsegment")
    if (streamExecuteEnabled) {
      // the sentinel's user_id −1 matches no customer, so it advances the
      // watermark (computed on the stream side, below the join) without
      // ever reaching the aggregation
      val streamed = runAvailableNow(
          withFlushSentinel(eventsTs(spark, dir)), "append")(
          enrichedSegmentCountsStreaming(_, customer))
        .withColumn("bucket", col("bucket").cast("timestamp_ntz"))
      assertStreamParity("stream_enrich_join", streamed, batch)
    }
    batch
  }

  /** Streaming top-k leaderboard: per-user running totals, top k by
    * activity — the live-dashboard shape. The transform is one shared
    * groupBy + TakeOrdered: in batch it plans map-side partial aggs +
    * a bounded top-k; in streaming the SAME transform runs in complete
    * output mode (sort+limit is legal there because the sink rewrites
    * the whole bounded-k result each trigger; state is one row per
    * user, the leaderboard's inherent floor). Integer cents per event
    * keep the sum exact cross-engine. EventStreamSpec proves the
    * streaming path converges to this on a completed input. */
  def topUsers(events: DataFrame, k: Int): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("bigint")).as("value_cents"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(k)

  /** Batch-equivalent driver query for the streaming leaderboard. */
  def qStreamTopUsers(spark: SparkSession, dir: String): DataFrame = {
    val batch = topUsers(Tables.events(spark, dir), 20)
    if (streamExecuteEnabled) {
      // complete mode; several micro-batches (maxFilesPerTrigger=1 over a
      // multi-file stage) so CONVERGENCE across triggers is what is
      // asserted, not a single-batch replay
      val streamed = runAvailableNow(
        eventsTs(spark, dir).repartition(5), "complete",
        filesPerTrigger = Some(1))(topUsers(_, 20))
      assertStreamParity("stream_top_users", streamed, batch)
    }
    batch
  }

  /** Stream-stream interval join — click-to-purchase attribution: each
    * purchase matches the same user's clicks from the preceding 30
    * minutes (inclusive bounds, mirrored in the oracle). The equi-key is
    * the user, the time bound is the residual — exactly the condition
    * shape Spark's streaming symmetric hash join needs to BOUND STATE:
    * with both sides watermarked, rows older than watermark + interval
    * are evicted, so state is O(rate x horizon), not O(stream). The same
    * transform runs in batch (SortMergeJoin with the range residual) for
    * the oracle gate; EventStreamSpec proves stream/batch parity. */
  def attributedClicks(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        // floor-of-each-second difference, NOT timestampdiff: engines
        // disagree on sub-second gaps (Spark truncates the DIFFERENCE,
        // DuckDB's date_diff counts second-boundary crossings = floor of
        // each operand) — flooring both operands is portable. NTZ→LTZ
        // cast is an identity relabel in the UTC session.
        (expr("unix_micros(cast(purchase_ts as timestamp)) div 1000000") -
          expr("unix_micros(cast(click_ts as timestamp)) div 1000000"))
          .cast("long").as("gap_s"))

  private def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))

  private def purchaseSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))

  /** Streaming variant: both sides watermarked (watermark + join interval
    * = the state eviction horizon). */
  def attributedClicksStreaming(events: DataFrame): DataFrame =
    attributedClicks(
      clickSide(events).withWatermark("click_ts", "2 hours"),
      purchaseSide(events).withWatermark("purchase_ts", "2 hours"))

  /** Batch-equivalent driver query for the stream-stream interval join. */
  def qStreamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val batch = attributedClicks(clickSide(events), purchaseSide(events))
      .orderBy("user_id", "purchase_id", "click_id")
    if (streamExecuteEnabled) {
      // inner stream-stream joins emit each match as soon as both rows
      // are in state — no sentinel needed for completeness
      val streamed = runAvailableNow(eventsTs(spark, dir), "append")(
        attributedClicksStreaming)
      assertStreamParity("stream_interval_join", streamed, batch)
    }
    batch
  }

  /** Keyed dedup — the streaming-ingest idempotency op. Batch form here;
    * the streaming form is `withWatermark + dropDuplicatesWithinWatermark`
    * (state bounded by the watermark horizon), exercised in
    * EventStreamSpec. The driver query doubles the input so the dedup
    * provably removes rows. */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "ts", "event_type", "value")
    val batch = ev.unionByName(ev)
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        round(col("value"), 2).as("value"))
      .orderBy("event_id")
    if (streamExecuteEnabled) {
      // duplicates are bit-identical rows, so whichever occurrence either
      // engine keeps, the VALUES are the same — full row identity holds
      val evT = eventsTs(spark, dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
      val streamed = runAvailableNow(evT.unionByName(evT), "append")(s =>
          s.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("event_id")
            .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
              round(col("value"), 2).as("value")))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
      assertStreamParity("stream_dedup", streamed, batch)
    }
    batch
  }

  // ---- streaming keyed upsert sink (bucket-pruned, r12) ----

  /** Continuous keyed UPSERT into a HASH-BUCKETED parquet target — the
    * reference's `INSERT ... ON CONFLICT (id) DO UPDATE` write path
    * (/root/reference/import_cards.py:214-225) as a streaming sink.
    *
    * Each micro-batch is first collapsed last-write-wins WITHIN the batch
    * (orderCol desc), then merged into the target ORDER-authoritatively:
    * base ∪ batch re-resolved by (orderCol, tiebreak) — so the final
    * state converges to the same per-key maximum regardless of how rows
    * split across micro-batches or which order batches arrive in
    * (arrival order is NOT the authority; the declared orderCol is).
    *
    * Layout and the 100 TB contract (r12 — the r11 form rewrote the
    * ENTIRE accumulated table every micro-batch, O(|all keys ever|) per
    * trigger, the classic streaming-upsert scale-killer): the target is
    * laid out as `nBuckets` hash-bucket directories
    * (`_bkt=pmod(hash(keys), nBuckets)/`, the operators.Bucketing
    * key-routing convention as partition dirs). A micro-batch derives
    * its TOUCHED buckets from the batch keys (≤ nBuckets ints collected
    * — bounded metadata, never row data), reads ONLY those directories
    * as the merge base, re-resolves, and swaps ONLY those directories
    * back in. Per-trigger cost is O(|touched buckets|) — bounded by the
    * batch's key spread, independent of total accumulated state. Untouched
    * bucket files are never read, rewritten, or renamed (asserted
    * byte-identical in EventStreamSpec). At 100 TB: size nBuckets so a
    * bucket is a few hundred MB and a trigger's rewrite is proportional
    * to its batch, exactly how transactional table formats prune MERGE by
    * clustering keys. The bucket count is pinned at table creation in a
    * `_graft_nbuckets` marker and re-validated every batch — merging with
    * a different modulus would silently route keys past their base rows.
    *
    * Filesystem handling goes through the Hadoop FileSystem API (so the
    * same code is correct on HDFS; java.io.File would silently report
    * "missing" on any non-local scheme) and the commit is per-bucket
    * stage-then-RENAME: the merged touched buckets are written to a
    * staging dir (one write job, `_SUCCESS` at staging root), then each
    * touched bucket dir is renamed aside and its staged replacement
    * renamed in. Rename is atomic on HDFS/POSIX, so a crash leaves every
    * INDIVIDUAL bucket either old or new; [[recoverCommitState]] repairs
    * the table on the next batch start, and the retried micro-batch
    * (the engine re-runs foreachBatch whose offsets never committed)
    * re-merges idempotently — latestByKey(base ∪ batch) is a fixpoint
    * once batch rows are already resolved into base, so a mixed
    * old/new-bucket table converges to the same final state. Every
    * `fs.rename` return value is checked (Hadoop signals failure via
    * `false`, not an exception), aborting the batch rather than deleting
    * a backup after a failed swap. On object stores without atomic rename
    * the production answer is a transactional table format — this sink
    * keeps the demo dependency-free while exercising the same
    * bucket-pruned merge plan.
    */
  def upsertSink(
      stream: DataFrame,
      targetPath: String,
      checkpoint: String,
      keys: Seq[String],
      orderCol: String,
      tiebreak: String,
      nBuckets: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
        val staging = new org.apache.hadoop.fs.Path(targetPath + "_staging")
        val old = new org.apache.hadoop.fs.Path(targetPath + "_old")
        recoverCommitState(fs, target, staging, old)
        checkBucketCount(fs, target, nBuckets)
        val latest = graft.operators.MergeOps.latestByKey(batch, keys, orderCol, tiebreak)
          .withColumn("_bkt", pmod(hash(keys.map(col): _*), lit(nBuckets)))
        // touched-bucket derivation: ≤ nBuckets ints on the driver —
        // bounded METADATA (the partition-pruning predicate), not row data
        val touched = latest.select("_bkt").distinct()
          .collect().map(_.getInt(0)).sorted.toSeq
        val existing = touched
          .map(b => new org.apache.hadoop.fs.Path(target, s"_bkt=$b"))
          .filter(fs.exists)
        // ORDER-authoritative cross-batch merge over ONLY the touched
        // buckets: union their base generation + the batch and let
        // (orderCol, tiebreak) pick the survivor. An anti-join upsert
        // would mean NEWEST-BATCH-wins on conflict — wrong when a late
        // batch carries an older version (caught by EventStreamSpec's
        // shuffled-arrival test).
        val merged =
          if (existing.nonEmpty) {
            val base = spark.read.option("basePath", targetPath)
              .parquet(existing.map(_.toString): _*)
            graft.operators.MergeOps.latestByKey(
              base.unionByName(latest), keys, orderCol, tiebreak)
          } else latest
        // one shuffle over touched-bucket data only; partitionBy routes
        // each bucket to its directory
        merged.repartition(math.max(touched.size, 1), col("_bkt"))
          .write.partitionBy("_bkt").mode("overwrite").parquet(staging.toString)
        if (!fs.exists(target)) fs.mkdirs(target)
        touched.foreach { b =>
          val tb = new org.apache.hadoop.fs.Path(target, s"_bkt=$b")
          val sb = new org.apache.hadoop.fs.Path(staging, s"_bkt=$b")
          if (fs.exists(tb)) {
            fs.mkdirs(old)
            renameOrAbort(fs, tb, new org.apache.hadoop.fs.Path(old, s"_bkt=$b"))
          }
          renameOrAbort(fs, sb, tb)
        }
        writeBucketCount(fs, target, nBuckets)
        fs.delete(old, true)
        fs.delete(staging, true)
        ()
      }
      .start()

  /** The bucket modulus is part of the TABLE layout, not the query: a
    * batch merging with a different nBuckets would hash keys into
    * buckets whose base rows live elsewhere and silently duplicate
    * state. Pinned in a `_graft_nbuckets` marker (underscore-prefixed —
    * invisible to the parquet reader) at first commit, validated every
    * batch. */
  private def checkBucketCount(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      nBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(target, "_graft_nbuckets")
    if (fs.exists(p)) {
      val in = fs.open(p)
      val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      require(stored.toInt == nBuckets,
        s"upsertSink: target $target is bucketed $stored-way but the sink " +
          s"was configured with nBuckets=$nBuckets — merging would misroute keys")
    }
  }

  private def writeBucketCount(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      nBuckets: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(target, "_graft_nbuckets")
    if (!fs.exists(p)) {
      val out = fs.create(p)
      try out.write(nBuckets.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Crash-recovery preamble for the per-bucket stage-then-rename commit.
    * A crash mid-swap leaves each individual bucket in exactly one of:
    * target (not yet swapped, or already swapped), `_old` only (renamed
    * aside, replacement not yet in), or staged-but-unswapped. Repair
    * rules, applied bucket-by-bucket:
    *   - `_staging` is trusted only when its write JOB committed (the
    *     root `_SUCCESS` marker exists) — a crash MID-write leaves a
    *     partial staging dir that must be deleted, never installed;
    *   - a committed staged bucket missing from target is renamed in
    *     (it holds the merge — the richer copy);
    *   - a bucket surviving only in `_old` is renamed BACK (uncommitted
    *     merge attempt — restore the pre-merge generation);
    *   - leftovers are cleared only AFTER every bucket has a copy in
    *     place.
    * Either repair is convergent: the micro-batch whose commit crashed
    * never reached its checkpoint offset, so the engine re-runs it and
    * the order-authoritative merge is idempotent over a half-swapped
    * table. Idempotent; a no-op on the normal path. */
  def recoverCommitState(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path,
      old: org.apache.hadoop.fs.Path): Unit = {
    def bucketDirs(p: org.apache.hadoop.fs.Path): Seq[String] =
      if (fs.exists(p))
        fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
          .filter(_.startsWith("_bkt="))
      else Seq.empty
    val stagingCommitted =
      fs.exists(new org.apache.hadoop.fs.Path(staging, "_SUCCESS"))
    if (stagingCommitted) bucketDirs(staging).foreach { b =>
      val tb = new org.apache.hadoop.fs.Path(target, b)
      if (!fs.exists(tb)) {
        fs.mkdirs(target)
        renameOrAbort(fs, new org.apache.hadoop.fs.Path(staging, b), tb)
      }
    }
    bucketDirs(old).foreach { b =>
      val tb = new org.apache.hadoop.fs.Path(target, b)
      if (!fs.exists(tb)) {
        fs.mkdirs(target)
        renameOrAbort(fs, new org.apache.hadoop.fs.Path(old, b), tb)
      }
    }
    fs.delete(staging, true)
    fs.delete(old, true)
    ()
  }

  /** Hadoop `FileSystem.rename` reports failure by returning false, not by
    * throwing — an unchecked call can "succeed" past a failed swap and then
    * delete the only surviving copy. Abort the batch instead (the streaming
    * engine retries it; recovery restores the table first). */
  private def renameOrAbort(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"upsertSink commit: rename $src -> $dst failed")

  private def deleteRecursively(path: String): Unit = {
    def rm(f: java.io.File): Unit = if (f.exists) {
      if (f.isDirectory)
        Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
      if (!f.delete())
        throw new IllegalStateException(s"EventStreams: cannot delete ${f.getPath}")
    }
    rm(new java.io.File(path))
  }

  private val upsinkLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Driver-contract entry for the STREAMING upsert sink (r11; r12
    * bucket-pruned): the events table is staged as 8 parquet files,
    * streamed back through a real file-source with `maxFilesPerTrigger=2`
    * — so the keyed merge runs across MULTIPLE micro-batches, and
    * convergence of the per-bucket stage-then-swap merges is exactly the
    * claim under test — into [[upsertSink]] keyed by user_id (latest by
    * (ts, event_id)), then the FINAL target table is read back and
    * emitted. A dropped batch, a bucket misroute, a merge that loses the
    * base generation, a crash-recovery bug that installs a partial
    * staging dir, or wrong last-write-wins precedence all change the
    * final state and break the oracle hash. One row per user; the oracle
    * replays last-per-key over events.
    *
    * Scratch hygiene (ADVICE r11): the build is keyed by the dir
    * SNAPSHOT and memoized on disk — bench reps and scale steps reuse
    * one build instead of accumulating a full events copy + checkpoint
    * per invocation; the source copy and checkpoint are deleted as soon
    * as the stream completes (only the merged target survives — the
    * returned plan reads it lazily). A `_graft_done` marker gates reuse
    * so a crashed half-build is wiped and rebuilt, never served. */
  def qStreamUpsertSink(spark: SparkSession, dir: String): DataFrame = {
    val root = graft.SessionCache.scratchPath("graft_upsink_" + graft.SessionCache.dirKey(dir))
    val target = s"$root/table"
    val done = java.nio.file.Paths.get(root, "_graft_done")
    val lock = upsinkLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized {
      if (!java.nio.file.Files.exists(done)) {
        deleteRecursively(root)
        val ev = eventsTs(spark, dir)
          .select("event_id", "user_id", "ts", "event_type", "value")
        val stage = s"$root/src"
        ev.repartition(8).write.mode("overwrite").parquet(stage)
        val schema = spark.read.parquet(stage).schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(stage)
        val q = upsertSink(src, target, s"$root/ckpt",
          Seq("user_id"), "ts", "event_id", nBuckets = 16)
        try q.processAllAvailable() finally q.stop()
        deleteRecursively(stage)
        deleteRecursively(s"$root/ckpt")
        java.nio.file.Files.createFile(done)
        ()
      }
    }
    spark.read.parquet(target)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Streaming quality filter — the LLM-pipeline selection stage run AS
    * a stream (the other seven entries stream events; this one streams
    * the DOCUMENT corpus, the landing-zone shape where quality gating
    * happens before training data is committed). The scorer is the
    * shuffle-free per-row form ([[graft.text.TextOps.qualityFilterScored]]):
    * hashed unigram+bigram features summed against the literal bucketed
    * weight map inside the row — stateless, so it appends through a
    * file stream with no watermark or state store, and each micro-batch
    * scores its documents independently (filesPerTrigger=2 makes the
    * multi-batch independence part of the parity claim). */
  def qStreamQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select("doc_id", "text")
    val batch = graft.text.TextOps.qualityFilterScored(docs).orderBy("doc_id")
    if (streamExecuteEnabled) {
      val streamed = runAvailableNow(docs, "append", filesPerTrigger = Some(2))(
        graft.text.TextOps.qualityFilterScored)
      assertStreamParity("stream_quality_filter", streamed, batch)
    }
    batch
  }

  private val lakeSinkLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Streaming upsert into the SNAPSHOT-VERSIONED lake table — closing
    * the loop between the streaming merge ([[qStreamUpsertSink]]'s
    * stage-then-swap, which leaves a torn-read window between swap
    * renames) and the transactional store (`lake_merge_asof`): each
    * micro-batch commits ONE atomic lake version via
    * [[graft.sources.LakeTable.merge]], so a concurrent reader resolved
    * against version N reads a consistent snapshot no matter how many
    * batches land mid-query — the exact guarantee stage-and-swap
    * cannot give.
    *
    * Recency across batches: the file source hands batches in file
    * order, not event-time order, so a later batch can carry an OLDER
    * row for a key an earlier batch already upserted. Plain
    * latest-wins-by-arrival would regress that key; instead each batch
    * elects winners over (its own rows ∪ the CURRENT snapshot's rows
    * for its keys) by (ts, event_id) — the conditional-MERGE
    * (`WHEN MATCHED AND s.ts > t.ts`) semantics, composed from the
    * lake's primitive. Replayed batches (crash/retry) commit an extra
    * version but converge to the same state — the election is
    * idempotent; versions are history, not state.
    *
    * Gate: final table state = last event per user by (ts, event_id),
    * replayed by the oracle over raw events. EventStreamSpec pins the
    * lake-specific halves the oracle can't see: >1 committed version
    * (the merge really ran per batch) and a mid-stream version's as-of
    * read staying consistent after later commits. Scratch hygiene: the
    * build is dir-snapshot memoized with a done-marker, sources +
    * checkpoint deleted after the stream completes. */
  def qStreamLakeSink(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LakeTable
    val root = graft.SessionCache.scratchPath("graft_lakesink_" + graft.SessionCache.dirKey(dir))
    val table = s"$root/table"
    val done = java.nio.file.Paths.get(root, "_graft_done")
    val keys = Seq("user_id")
    val lock = lakeSinkLocks.computeIfAbsent(root, _ => new Object)
    lock.synchronized {
      if (!java.nio.file.Files.exists(done)) {
        deleteRecursively(root)
        val ev = eventsTs(spark, dir)
          .select("event_id", "user_id", "ts", "event_type", "value")
        val stage = s"$root/src"
        ev.repartition(8).write.mode("overwrite").parquet(stage)
        val schema = spark.read.parquet(stage).schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 2).parquet(stage)
        val q = src.writeStream
          .option("checkpointLocation", s"$root/ckpt")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val s = batch.sparkSession
            val b = graft.operators.MergeOps.latestByKey(
              batch, keys, "ts", "event_id")
            if (LakeTable.latestVersion(table) == 0) {
              LakeTable.create(s, table, b, keys)
              ()
            } else {
              val cur = LakeTable.read(s, table)
                .join(broadcast(b.select(keys.map(col): _*)), keys, "left_semi")
              val winners = graft.operators.MergeOps.latestByKey(
                cur.unionByName(b), keys, "ts", "event_id")
              LakeTable.merge(s, table, winners, keys)
              ()
            }
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try q.processAllAvailable() finally q.stop()
        deleteRecursively(stage)
        deleteRecursively(s"$root/ckpt")
        java.nio.file.Files.createFile(done)
        ()
      }
    }
    LakeTable.read(spark, table)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("timestamp_ntz").as("ts"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** Streaming FROM the lake change feed (VERDICT r13 missing #5 — the
    * Delta streaming-source shape, closing the loop `stream_lake_sink`
    * opened): a per-status count MV is maintained INCREMENTALLY across
    * four lake commits (create → merge 'U' → merge 'X' → delete), each
    * maintenance step consuming only `LakeTable.changes(v-1, v)` — the
    * O(delta) manifest diff — never a snapshot re-aggregation. The
    * entry emits the MV state AFTER each commit (versions 2..4), so the
    * oracle gates the whole maintenance TRAJECTORY, not just the final
    * state: a missed retraction at any step shifts that step's counts.
    *
    * Flag-on ([[streamExecuteEnabled]]): the SAME maintenance runs as a
    * real Structured Streaming query whose source is the table's
    * MANIFEST LOG — `readStream.text(_log)` with one file per trigger,
    * so each micro-batch delivers exactly one commit, in commit order
    * (out-of-order delivery is buffered until contiguous) — the
    * tail-the-transaction-log design every lakehouse streaming source
    * uses. The entry REQUIRES the streamed per-version snapshots to be
    * identical to the batch fold before returning. */
  def qStreamLakeCdf(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LakeTable
    val root = graft.SessionCache.scratchPath("graft_lakecdf_" + graft.SessionCache.dirKey(dir))
    deleteRecursively(root)
    val table = s"$root/table"
    val keys = Seq("o_orderkey")
    val base = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    LakeTable.create(spark, table, base, keys)
    LakeTable.merge(spark, table,
      base.filter(col("o_orderkey") % 11 === 1).withColumn("o_orderstatus", lit("U")), keys)
    LakeTable.merge(spark, table,
      base.filter(col("o_orderkey") % 17 === 2).withColumn("o_orderstatus", lit("X")), keys)
    LakeTable.delete(spark, table,
      base.filter(col("o_orderkey") % 53 === 0).select("o_orderkey"), keys)

    def aggV1: Map[String, Long] =
      LakeTable.read(spark, table, Some(1)).groupBy("o_orderstatus").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one O(delta) feed read per maintained step; the grouped delta is
    // bounded by the status-pair cardinality, never the table
    def applyDelta(mv: Map[String, Long], fromV: Int, toV: Int): Map[String, Long] = {
      val d = LakeTable.changes(spark, table, fromV, toV, keys, includeBefore = true)
        .groupBy("_change_type", "o_orderstatus", "_before_o_orderstatus")
        .count().collect()
      var m = mv
      d.foreach { r =>
        val (ct, n) = (r.getString(0), r.getLong(3))
        if (ct == "update" || ct == "delete") {
          val before = r.getString(2)
          m = m.updated(before, m.getOrElse(before, 0L) - n)
        }
        if (ct == "update" || ct == "insert") {
          val after = r.getString(1)
          m = m.updated(after, m.getOrElse(after, 0L) + n)
        }
      }
      m.filter(_._2 > 0)
    }
    def fold(applied: Int => Map[String, Long] => Map[String, Long])
        : Seq[(Int, Map[String, Long])] = {
      var mv = Map.empty[String, Long]
      (1 to 4).flatMap { v =>
        mv = applied(v)(mv)
        if (v >= 2) Some(v -> mv) else None
      }
    }
    val batchSnaps = fold(v => mv => if (v == 1) aggV1 else applyDelta(mv, v - 1, v))

    if (streamExecuteEnabled) {
      // tail the manifest log as a real stream: one commit per
      // micro-batch, versions applied contiguously
      var mv = Map.empty[String, Long]
      var lastApplied = 0
      val pending = scala.collection.mutable.SortedSet.empty[Int]
      val snaps = scala.collection.mutable.ListBuffer.empty[(Int, Map[String, Long])]
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val q = spark.readStream.option("maxFilesPerTrigger", 1).text(s"$table/_log")
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r =>
            pending += mapper.readTree(r.getString(0)).path("version").asInt())
          while (pending.contains(lastApplied + 1)) {
            lastApplied += 1
            pending -= lastApplied
            mv = if (lastApplied == 1) aggV1 else applyDelta(mv, lastApplied - 1, lastApplied)
            if (lastApplied >= 2) { snaps += lastApplied -> mv; () }
          }
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      deleteRecursively(s"$root/ckpt")
      require(lastApplied == 4 && snaps.toSeq == batchSnaps,
        s"stream_lake_cdf: streamed MV trajectory diverged from the batch fold " +
          s"(applied $lastApplied commits)")
    }

    import spark.implicits._
    batchSnaps.flatMap { case (v, m) =>
      m.toSeq.map { case (s, n) => (v.toLong, s, n) }
    }.toDF("version", "o_orderstatus", "n_orders")
      .orderBy("version", "o_orderstatus")
  }

  /** The lake change feed as a REGISTERED streaming source (r14 — the
    * `readStream.format("graftlake")` SPI, the Delta streaming-source
    * shape proper; [[qStreamLakeCdf]]'s log-tailing fold is the consumer
    * view, THIS is the engine view): four commits (create → 'U' merge →
    * 'X' merge → delete) produce three CDC micro-batches — each version
    * an offset, each row carrying `_change_type`, pre-images, and
    * `_commit_version`, computed from the O(delta) manifest diff. The
    * entry emits the full feed; the oracle replays every version's
    * events from generation arithmetic, so a mis-sequenced offset, a
    * wrong pre-image, or a leaked rewritten-verbatim row breaks the
    * hash. Flag-on, the SAME feed is consumed through a real
    * Trigger.AvailableNow streaming query over the registered source
    * with in-entry row identity. */
  def qStreamLakeSource(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.LakeTable
    val root = graft.SessionCache.scratchPath("graft_lakesrcq_" + graft.SessionCache.dirKey(dir))
    deleteRecursively(root)
    val table = s"$root/table"
    val keys = Seq("o_orderkey")
    val base = Tables.orders(spark, dir).select("o_orderkey", "o_orderstatus")
    LakeTable.create(spark, table, base, keys)
    LakeTable.merge(spark, table,
      base.filter(col("o_orderkey") % 11 === 1).withColumn("o_orderstatus", lit("U")), keys)
    LakeTable.merge(spark, table,
      base.filter(col("o_orderkey") % 17 === 2).withColumn("o_orderstatus", lit("X")), keys)
    LakeTable.delete(spark, table,
      base.filter(col("o_orderkey") % 53 === 0).select("o_orderkey"), keys)
    val cols = Seq("o_orderkey", "_change_type", "o_orderstatus",
      "_before_o_orderstatus", "_commit_version")
    val batch = (2 to 4).map { v =>
      LakeTable.changes(spark, table, v - 1, v, keys, includeBefore = true)
        .withColumn("_commit_version", lit(v.toLong))
    }.reduce(_ unionByName _)
      .select(cols.map(col): _*)
      .orderBy("_commit_version", "o_orderkey")

    if (streamExecuteEnabled) {
      val name = s"graft_lake_src_exec_${sinkSeq.incrementAndGet()}"
      val q = spark.readStream.format("graftlake")
        .option("startingVersion", "1").load(table)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.table(name).select(cols.map(col): _*)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val direct = batch.collect().map(_.toSeq).sortBy(_.mkString("|"))
      require(streamed.nonEmpty && streamed.sameElements(direct),
        s"stream_lake_source: registered-source stream diverged from the " +
          s"batch feed (${streamed.length} vs ${direct.length} rows)")
      deleteRecursively(s"$root/ckpt")
    }
    batch
  }

  /** Streaming passage-identity dedup — the chunk-granularity ingest
    * idempotency op (land only NOVEL passages): documents stream through
    * the stateless chunker ([[graft.text.TextOps.chunkKeys]] — per-row
    * explode, no shuffle), then `dropDuplicates(chunk_key)` keeps one
    * occurrence per distinct passage ACROSS micro-batches. The output is
    * deliberately the (chunk_key, n_tokens) identity set, not
    * (doc_id, chunk_idx) attribution: n_tokens is a pure function of
    * the key, so whichever occurrence arrival order hands the state
    * store, the emitted VALUES are identical — the same argument
    * [[qStreamDedup]] makes for bit-identical event rows, which is what
    * lets a file stream with arbitrary batch splits hash-match the
    * batch plan (rep ATTRIBUTION stays the batch `text_chunk_dedup`
    * entry's job, where (doc_id, chunk_idx) order is defined).
    *
    * State: one row per distinct passage, unbounded by design —
    * documents carry no event time, and passage identity never expires
    * (a passage seen a month ago is still a duplicate today). The
    * 100 TB posture: the state store scales out per chunk_key hash
    * partition, and the probabilistic escape hatch is the registered
    * `dedup_bloom_probe` (accept ~0 false-positive drops to cap state).
    * No watermark ⇒ no late-data semantics to reason about. */
  def qStreamChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select("doc_id", "text")
    def distinctChunks(d: DataFrame): DataFrame =
      graft.text.TextOps.chunkKeys(d)
        .select("chunk_key", "n_tokens")
        .dropDuplicates("chunk_key")
    val batch = distinctChunks(docs).orderBy("chunk_key")
    if (streamExecuteEnabled) {
      val streamed = runAvailableNow(docs, "append", filesPerTrigger = Some(2))(
        distinctChunks)
      assertStreamParity("stream_chunk_dedup", streamed, batch)
    }
    batch
  }

  // ---- stateful streaming sessionization ----

  case class SessionEvent(user_id: Long, ts: java.time.Instant, value: Double)
  case class SessionState(sessionSeq: Long, lastTs: Long, start: Long, n: Long, sum: Double)
  case class SessionOut(user_id: Long, session_seq: Long, session_start: java.time.Instant,
      n_events: Long, session_value: Double)

  /** Stateful gap-based sessionization via flatMapGroupsWithState: per
    * user, events extend the current session unless the gap exceeds
    * `gapSeconds`, in which case the finished session is emitted and a new
    * one opens. State is O(1) per active user. Batch-mode contract: all of
    * a user's events arrive in one sorted group, so every session
    * (including the last) is emitted; in continuous streaming the final
    * session flushes on GroupStateTimeout instead.
    * Memory caveat: BATCH replay of this kernel buffers one user's whole
    * group (`evs.toSeq.sortBy` below — Spark hands groups unsorted), so a
    * hot user concentrates in one task's heap. In true streaming this
    * never happens (state is O(1); each micro-batch carries a bounded
    * slice), and the registered batch query uses [[sessionizeSorted]],
    * whose memory is O(1) regardless of user skew.
    * Time is carried as epoch MICROSECONDS end-to-end (java.time.Instant
    * at the API boundary) — java.sql.Timestamp.getTime is millisecond-
    * resolution and would silently truncate session_start. */
  // Shared epoch-microsecond conversions for BOTH sessionize kernels — the
  // kernels are spec-asserted equal, so the time arithmetic must live in
  // exactly one place. The gap test compares SECOND-floored timestamps —
  // by construction the same predicate as the batch qSessionize
  // (cast-to-long seconds) and the shared DuckDB oracle (floor(epoch)),
  // so all paths agree even when sub-second timestamps straddle a
  // whole-second boundary. Pure functions on an object — serializes into
  // mapPartitions/flatMapGroupsWithState closures safely.
  private[streaming] def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  private[streaming] def instant(us: Long): java.time.Instant =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
  private[streaming] def secondsFloor(us: Long): Long = Math.floorDiv(us, 1000000L)

  def sessionizeStateful(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, evs, state: GroupState[SessionState]) =>
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.value))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L, 0L, 0.0))
          val out = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            val t = micros(e.ts)
            if (st.n == 0L) {
              st = SessionState(1L, t, t, 1L, e.value)
            } else if (secondsFloor(t) - secondsFloor(st.lastTs) > gapSeconds) {
              out += SessionOut(user, st.sessionSeq, instant(st.start), st.n, st.sum)
              st = SessionState(st.sessionSeq + 1, t, t, 1L, e.value)
            } else {
              st = st.copy(lastTs = t, n = st.n + 1, sum = st.sum + e.value)
            }
          }
          if (st.n > 0L) { // batch contract: group complete, flush last session
            out += SessionOut(user, st.sessionSeq, instant(st.start), st.n, st.sum)
            state.remove()
          }
          out.result().iterator
      }
  }

  /** Batch sessionization kernel with bounded memory: hash-partition by
    * user, external-sort within partitions by (user, ts, value), then one
    * linear `mapPartitions` scan carrying O(1) state. Same gap predicate
    * (second-floored) and tie order as [[sessionizeStateful]] — the spec
    * asserts kernel equality — but where the stateful kernel's batch
    * replay buffers a whole user in one task's heap, here a hot user with
    * 10^7 events lands in Spark's SPILLABLE sort (UnsafeExternalSorter)
    * and the scan itself never holds more than the open session. This is
    * the kernel the registered batch query runs; [[sessionizeStateful]]
    * remains the streaming-parity kernel. */
  def sessionizeSorted(events: Dataset[SessionEvent], gapSeconds: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("value"))
      .mapPartitions { rows =>
        var user = 0L
        var st: SessionState = null // null = no open session
        def flush(): SessionOut = SessionOut(user, st.sessionSeq, instant(st.start), st.n, st.sum)
        // a None sentinel closes the final open session at end of partition
        (rows.map(Option(_)) ++ Iterator(None)).flatMap {
          case Some(e) =>
            val t = micros(e.ts)
            if (st == null) {
              user = e.user_id; st = SessionState(1L, t, t, 1L, e.value); Iterator.empty
            } else if (e.user_id != user) {
              val done = flush()
              user = e.user_id; st = SessionState(1L, t, t, 1L, e.value)
              Iterator.single(done)
            } else if (secondsFloor(t) - secondsFloor(st.lastTs) > gapSeconds) {
              val done = flush()
              st = SessionState(st.sessionSeq + 1, t, t, 1L, e.value)
              Iterator.single(done)
            } else {
              st = st.copy(lastTs = t, n = st.n + 1, sum = st.sum + e.value)
              Iterator.empty
            }
          case None =>
            if (st != null) Iterator.single(flush()) else Iterator.empty
        }
      }
  }

  /** Batch-equivalent driver query: gap sessionization over the events
    * table (30-min gap), value rounded for oracle-stable hashing. Runs the
    * skew-safe [[sessionizeSorted]] kernel; [[sessionizeStateful]] is the
    * same state machine for true streams (spec-asserted equal). */
  def qStreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = Tables.events(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
      .as[SessionEvent]
    val batch = sessionizeSorted(evs, 1800L)
      .toDF()
      .withColumn("session_value", round(col("session_value"), 2))
      // session tz is UTC, so LTZ->NTZ is an identity relabel; emitting NTZ
      // matches qSessionize's (oracle-verified) output schema exactly
      .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      .orderBy("user_id", "session_seq")
    if (streamExecuteEnabled) {
      // the REAL flatMapGroupsWithState execution path (state store,
      // append mode); one AvailableNow data batch delivers each user's
      // complete history, which is [[sessionizeStateful]]'s flush
      // contract — parity with the sorted kernel is then exact
      val streamed = runAvailableNow(evs.toDF(), "append")(s =>
          sessionizeStateful(s.as[SessionEvent], 1800L).toDF())
        .withColumn("session_value", round(col("session_value"), 2))
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
      assertStreamParity("stream_sessionize", streamed, batch)
    }
    batch
  }

  /** Watermark-lateness accounting (VERDICT r6 ask #6) — the
    * dropped-late metrics a production stream job exports: replay the
    * event stream in its arrival order (event_id, the synthetic commit
    * order), track the per-event watermark = running max event time seen
    * BEFORE each arrival minus the horizon, and classify an event as
    * dropped-late when its event time is below that watermark. Emitted
    * per tumbling hour: totals, kept, dropped, and the worst lateness in
    * seconds. This per-event replay is the STRICTEST watermark (a real
    * micro-batch engine advances the watermark only at batch boundaries,
    * so it drops a subset — EventStreamSpec pins the real engine's drops
    * to the same classification computed at batch granularity).
    *
    * Scale shape: the global running max is a DISTRIBUTED prefix max
    * (the `text_pack_sequences` pattern): per-bucket maxes (a bounded
    * <= nBuckets frame), a window over that tiny frame for cross-bucket
    * prefixes, then per-bucket PARALLEL windows for the within-bucket
    * running max — never a single-partition window over the stream. */
  def lateDataAccounting(events: DataFrame, horizonS: Long, nBuckets: Int): DataFrame = {
    val horizonUs = horizonS * 1000000L
    val ev = events.select(col("event_id"), col("ts"),
      expr("unix_micros(cast(ts as timestamp))").as("ts_us"))
    val maxIdRow = ev.agg(max("event_id")).head()
    // empty input: max() is null — fall through with width 1 so the
    // pipeline yields an empty result instead of an opaque NPE
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val width = maxId / nBuckets + 1
    val bucketed = ev.withColumn("bucket", expr(s"event_id div $width"))
    val wPrev = org.apache.spark.sql.expressions.Window
      .orderBy("bucket").rowsBetween(Long.MinValue, -1)
    val prefix = bucketed.groupBy("bucket").agg(max("ts_us").as("bmax"))
      .withColumn("prev_max_us", max("bmax").over(wPrev))
      .select("bucket", "prev_max_us")
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("event_id").rowsBetween(Long.MinValue, -1)
    bucketed.join(broadcast(prefix), "bucket")
      .withColumn("wm_us", greatest(max("ts_us").over(wIn), col("prev_max_us")))
      .withColumn("late",
        col("wm_us").isNotNull && col("ts_us") < col("wm_us") - horizonUs)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("late"), 0L).otherwise(1L)).as("n_kept"),
        max(when(col("late"),
          expr(s"(wm_us - $horizonUs - ts_us) div 1000000")).otherwise(0L))
          .as("max_late_s"))
      .select(col("window.start").as("bucket"), col("n_total"),
        col("n_dropped"), col("n_kept"), col("max_late_s"))
  }

  /** Batch-equivalent driver query: 2-hour horizon, 32 range buckets. */
  def qStreamLateData(spark: SparkSession, dir: String): DataFrame = {
    val batch = lateDataAccounting(Tables.events(spark, dir), 7200L, 32)
      .orderBy("bucket")
    if (streamExecuteEnabled) assertLateDataEngineBounds(spark, dir, batch)
    batch
  }

  /** Streaming-execution check for [[qStreamLateData]]. Row-identity is
    * the WRONG contract here: the replay classifies drops under the
    * STRICTEST (per-event) watermark, while a real engine advances its
    * watermark only at micro-batch boundaries and therefore drops a
    * SUBSET. What CAN be asserted in-entry is exactly that relationship:
    * stream the events in arrival-order blocks (one file per event_id
    * block, one block per trigger — block b+1's rows each have a
    * per-event replay watermark ≥ the engine's end-of-block-b watermark,
    * so engine drops ⊆ replay drops REGARDLESS of where inside the block
    * the engine batches), run the watermarked hourly count, and require
    * per flushed window: replay n_kept ≤ engine count ≤ replay n_total. */
  private def assertLateDataEngineBounds(spark: SparkSession, dir: String,
      batch: DataFrame): Unit = {
    val ev = eventsTs(spark, dir).select("event_id", "user_id", "ts", "event_type")
    val maxIdRow = ev.agg(max("event_id")).head()
    val maxId = if (maxIdRow.isNullAt(0)) 0L else maxIdRow.getLong(0)
    val nBlocks = 8
    val width = maxId / nBlocks + 1
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_late_exec").toString
    // sequential block writes -> strictly increasing mtimes -> the file
    // source (which orders by timestamp) replays arrival order
    (0 until nBlocks).foreach { b =>
      ev.filter(expr(s"event_id div $width") === b)
        .coalesce(1).write.mode("overwrite").parquet(s"$base/b$b")
    }
    // the sentinel file arrives last: flushes every real window
    ev.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 6 HOURS"))
      .withColumn("event_id", lit(-1L))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/bz_sentinel")
    val schema = spark.read.parquet(s"$base/b0").schema
    val name = s"graft_stream_exec_${sinkSeq.incrementAndGet()}"
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/b*")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("timestamp_ntz").as("bucket"), col("n"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000L)
    val engine = spark.table(name).collect()
      .map(r => r.getAs[java.time.LocalDateTime](0) -> r.getLong(1)).toMap
    // bounded driver data: one row per distinct event HOUR (time-bounded,
    // the q_event_anomaly argument) — and only under the opt-in flag
    batch.collect().foreach { r =>
      val (bucket, total, kept) =
        (r.getAs[java.time.LocalDateTime](0), r.getLong(1), r.getLong(3))
      val got = engine.getOrElse(bucket, 0L)
      require(got >= kept && got <= total,
        s"stream_late_data: engine kept $got events in window $bucket, " +
          s"outside the [replay-kept=$kept, total=$total] bound — the " +
          "engine watermark dropped MORE than the strictest per-event " +
          "replay, which should be impossible under arrival-order blocks")
    }
  }
}
