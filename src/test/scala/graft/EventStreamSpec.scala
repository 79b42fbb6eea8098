package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.WindowOps
import graft.streaming.EventStreams

/** Structured Streaming paths (SURVEY.md §2.F): the registered batch
  * queries and the real readStream/writeStream pipelines must agree. */
class EventStreamSpec extends SparkSpec {

  test("streaming windowed counts equal the batch plan on a completed input") {
    // watermarks require TIMESTAMP (not NTZ) event time
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dir = Files.createTempDirectory("graft_stream_in").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.windowCountsStreaming(stream)
      .writeStream
      .format("memory")
      .queryName("win_counts")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    // append mode only emits windows closed by the watermark; every emitted
    // row must match the batch result exactly
    val batch = EventStreams.windowCounts(events)
    val streamed = spark.table("win_counts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermark drops late rows; lateDataAccounting reproduces the classification") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(hhmm: String) = java.sql.Timestamp.valueOf(s"2026-01-01 $hhmm:00")
    // arrival plan (event_id = arrival order): the wm-advancing events sit
    // in EARLIER micro-batches than the late arrivals they doom, so the
    // per-event replay and the engine's per-batch watermark agree exactly
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = mem.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("n"))
      .writeStream.format("memory").queryName("late_counts")
      .outputMode("append").start()
    try {
      mem.addData((0L, t("10:00")), (1L, t("10:10"))); q.processAllAvailable()
      mem.addData((2L, t("14:00"))); q.processAllAvailable() // wm -> 12:00
      // 11:00 is below the 12:00 watermark -> dropped; 13:30 is kept
      mem.addData((3L, t("11:00")), (4L, t("13:30"))); q.processAllAvailable()
      mem.addData((5L, t("20:00"))); q.processAllAvailable() // wm -> 18:00
      // 13:40 is below the 18:00 watermark -> dropped (its window already
      // finalized at n=1 — a kept row would re-emit the 13:00 window)
      mem.addData((6L, t("13:40")), (7L, t("19:30"))); q.processAllAvailable()
      val emitted = spark.table("late_counts").as[(java.sql.Timestamp, Long)]
        .collect().toMap
      assert(emitted == Map(t("10:00") -> 2L, t("13:00") -> 1L, t("14:00") -> 1L),
        s"engine emitted $emitted")
    } finally q.stop()
    // the batch replay must classify exactly the same two drops, with
    // exact lateness — and the distributed prefix max (3 uneven buckets)
    // must agree with the naive single-window definition
    val events = Seq(
      (0L, t("10:00")), (1L, t("10:10")), (2L, t("14:00")), (3L, t("11:00")),
      (4L, t("13:30")), (5L, t("20:00")), (6L, t("13:40")), (7L, t("19:30")))
      .toDF("event_id", "ts")
    val out = EventStreams.lateDataAccounting(events, 7200L, 3)
      .orderBy("bucket")
      .as[(java.sql.Timestamp, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (t("10:00"), 2L, 0L, 2L, 0L),
      (t("11:00"), 1L, 1L, 0L, 3600L),
      (t("13:00"), 2L, 1L, 1L, 15600L),
      (t("14:00"), 1L, 0L, 1L, 0L),
      (t("19:00"), 1L, 0L, 1L, 0L),
      (t("20:00"), 1L, 0L, 1L, 0L)), s"got $out")
  }

  test("streaming top-k leaderboard converges to the batch result") {
    // complete output mode: the sink holds the whole bounded-k result and
    // is rewritten each trigger — after the last micro-batch it must equal
    // the batch plan on the same completed input, including tie order
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dir = Files.createTempDirectory("graft_stream_topk").toString
    // several input files so AvailableNow processes multiple micro-batches
    events.repartition(5).write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val q = EventStreams.topUsers(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir), 20)
      .writeStream
      .format("memory")
      .queryName("top_users")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    val got = spark.table("top_users")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(t => (-t._2, t._1))
    val want = EventStreams.topUsers(events, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // at tiny SFs the corpus can have fewer than k users — both paths
    // must then return that full set in the same order
    assert(got.nonEmpty && got.length == want.length)
    assert(got == want.sortBy(t => (-t._2, t._1)),
      "streaming leaderboard diverged from the batch plan")
  }

  test("stream-stream interval join equals the batch plan on a completed input") {
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dir = Files.createTempDirectory("graft_stream_ivj").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.attributedClicksStreaming(stream)
      .writeStream
      .format("memory")
      .queryName("interval_join")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    val batch = EventStreams.qStreamIntervalJoin(spark, SfDir)
    val streamed = spark.table("interval_join")
    assert(streamed.count() > 0, "stream-stream join produced nothing — vacuous")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      "stream and batch interval-join results differ")
  }

  test("stream-static enrichment join equals the batch plan on a completed input") {
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val dir = Files.createTempDirectory("graft_stream_enrich").toString
    events.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema

    val customer = Tables.customer(spark, SfDir)
    val stream = spark.readStream.schema(schema).parquet(dir)
    val q = EventStreams.enrichedSegmentCountsStreaming(stream, customer)
      .writeStream
      .format("memory")
      .queryName("enrich_counts")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)

    val batch = EventStreams.enrichedSegmentCounts(events, customer)
    val streamed = spark.table("enrich_counts")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermarked streaming dedup removes duplicate event ids") {
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "user_id", "ts", "event_type", "value")
    val dir = Files.createTempDirectory("graft_dedup_in").toString
    // two identical files → every event arrives twice
    events.write.mode("overwrite").parquet(dir + "/a")
    events.write.mode("overwrite").parquet(dir + "/b")
    val schema = spark.read.parquet(dir + "/a").schema
    val stream = spark.readStream.schema(schema).parquet(dir + "/{a,b}")
    val q = stream
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000L)
    val n = spark.table("dedup_out").count()
    assert(n == events.count(), s"deduped stream has $n rows")
    assert(spark.table("dedup_out").select("event_id").distinct().count() == n)
  }

  test("opt-in streaming execution: every registered stream_* entry passes its in-entry parity") {
    // VERDICT r9 ask #6: with the flag on, each registered entry ALSO
    // executes through Trigger.AvailableNow file-source streaming and
    // REQUIRES row-identity (late_data: the engine-bounds invariant)
    // before returning — this test keeps that path green in CI, so the
    // driver can turn the flag on without surprises
    sys.props("graft.stream.execute") = "true"
    try {
      val entries: Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame)] = Seq(
        "stream_window_counts" -> (EventStreams.qStreamWindowCounts _),
        "stream_enrich_join" -> (EventStreams.qStreamEnrichJoin _),
        "stream_interval_join" -> (EventStreams.qStreamIntervalJoin _),
        "stream_dedup" -> (EventStreams.qStreamDedup _),
        "stream_top_users" -> (EventStreams.qStreamTopUsers _),
        "stream_sessionize" -> (EventStreams.qStreamSessionize _),
        "stream_late_data" -> (EventStreams.qStreamLateData _),
        "stream_quality_filter" -> (EventStreams.qStreamQualityFilter _),
        "stream_chunk_dedup" -> (EventStreams.qStreamChunkDedup _),
        // maintains the MV across 4 lake commits by tailing the manifest
        // log as a real stream; in-entry parity vs the batch fold
        "stream_lake_cdf" -> (EventStreams.qStreamLakeCdf _),
        // the registered readStream.format("graftlake") CDC source,
        // in-entry parity vs the direct per-version feed union
        "stream_lake_source" -> (EventStreams.qStreamLakeSource _))
      entries.foreach { case (name, fn) =>
        // the parity requires() fire inside the call; a non-empty result
        // guards against a vacuously-green identity on zero rows
        assertNonEmpty(fn(spark, SfDir), name)
      }
    } finally sys.props.remove("graft.stream.execute")
  }

  test("lake stream pacing: maxVersionsPerTrigger chunks a backfill; restart resumes from checkpoint") {
    import graft.sources.LakeTable
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pacing").toString
    val table = s"$root/table"
    // v1 create + 10 merge commits = a 10-version backfill from v1
    LakeTable.create(spark, table,
      (1L to 50L).map(k => (k, 0L)).toDF("k", "v"), Seq("k"))
    (1 to 10).foreach(i => LakeTable.merge(spark, table,
      Seq((i.toLong, 100L + i)).toDF("k", "v"), Seq("k")))
    // full backfill at 2 versions/trigger -> exactly 5 micro-batches
    val q = spark.readStream.format("graftlake")
      .option("startingVersion", "1").option("maxVersionsPerTrigger", "2")
      .load(table)
      .writeStream.format("memory").queryName("graft_pace_a")
      .option("checkpointLocation", s"$root/ckpt_a").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val fed = spark.table("graft_pace_a")
      .select("k", "_change_type", "_commit_version")
      .collect().map(_.toSeq).sortBy(_.mkString("|"))
    val direct = (2 to 11).flatMap(v =>
      LakeTable.changes(spark, table, v - 1, v, Seq("k"))
        .withColumn("_commit_version", lit(v.toLong))
        .select("k", "_change_type", "_commit_version")
        .collect()).map(_.toSeq).sortBy(_.mkString("|"))
    assert(fed.sameElements(direct), s"paced feed diverged: ${fed.length} vs ${direct.length}")
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches == 5, s"expected 5 paced micro-batches of 2 versions, got $batches")
    // RESTART mid-backfill: first drain only what exists, then commit
    // more and resume the SAME checkpoint — rows arrive exactly once
    val table2 = s"$root/table2"
    LakeTable.create(spark, table2,
      (1L to 20L).map(k => (k, 0L)).toDF("k", "v"), Seq("k"))
    (1 to 4).foreach(i => LakeTable.merge(spark, table2,
      Seq((i.toLong, 200L + i)).toDF("k", "v"), Seq("k")))
    def drain(): Unit = {
      // a recoverable FILE sink: the memory sink refuses checkpoint
      // recovery, and the restart leg is exactly about recovery
      val qq = spark.readStream.format("graftlake")
        .option("startingVersion", "1").option("maxVersionsPerTrigger", "3")
        .load(table2)
        .select("k", "_change_type", "_commit_version")
        .writeStream.format("parquet")
        .option("path", s"$root/out_b")
        .option("checkpointLocation", s"$root/ckpt_b").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try qq.processAllAvailable() finally qq.stop()
    }
    drain()
    assert(spark.read.parquet(s"$root/out_b").count() == 4)
    (5 to 9).foreach(i => LakeTable.merge(spark, table2,
      Seq((i.toLong, 200L + i)).toDF("k", "v"), Seq("k")))
    drain()
    // the resumed drain appends exactly the 5 NEW versions — each row
    // arrives ONCE across both runs (no replay of committed chunks)
    val resumed = spark.read.parquet(s"$root/out_b").select("k", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(resumed == (1 to 9).map(i => (i.toLong, i.toLong + 1)).toSet,
      s"restart must resume from the checkpoint without replay, got $resumed")
    assert(spark.read.parquet(s"$root/out_b").count() == 9,
      "exactly-once across restart: 9 rows total, no duplicates")
    LakeTable.deleteRecursively(root)
  }

  test("CDC apply: terminal deletes remove keys, delete-then-update resurrects") {
    import graft.operators.MergeOps
    import spark.implicits._
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:00:$s%02d")
    val log = Seq(
      // key 1: I then U — survives with the U row's value
      (1L, t(1), 10L, "I", 1.0), (1L, t(2), 11L, "U", 2.0),
      // key 2: I then D — must vanish entirely
      (2L, t(1), 20L, "I", 3.0), (2L, t(3), 21L, "D", 0.0),
      // key 3: D then a LATER I — resurrected
      (3L, t(1), 30L, "D", 0.0), (3L, t(4), 31L, "I", 4.0),
      // key 4: same-ts tie broken by seq — the higher event_id wins
      (4L, t(5), 40L, "U", 5.0), (4L, t(5), 41L, "D", 0.0)
    ).toDF("user_id", "ts", "event_id", "op", "value")
    val out = MergeOps.cdcApply(log, Seq("user_id"), "ts", "event_id", "op")
      .orderBy("user_id")
      .select("user_id", "event_id", "op", "value")
      .as[(Long, Long, String, Double)].collect().toSeq
    assert(out == Seq((1L, 11L, "U", 2.0), (3L, 31L, "I", 4.0)),
      s"CDC final state drifted: $out")
  }

  test("streaming upsert sink converges to batch last-write-wins per key") {
    import graft.operators.MergeOps
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "user_id", "ts", "event_type", "value")
    val in = Files.createTempDirectory("graft_upsert_in").toString
    events.write.mode("overwrite").parquet(in)
    val target = Files.createTempDirectory("graft_upsert_out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_upsert_ckpt").toString

    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = EventStreams.upsertSink(stream, target, ckpt,
      Seq("user_id"), "ts", "event_id")
    try q.processAllAvailable() finally q.stop()

    val streamedState = spark.read.parquet(target).drop("_bkt")
    val batchState = MergeOps.latestByKey(events, Seq("user_id"), "ts", "event_id")
    assert(streamedState.count() == batchState.count())
    assert(streamedState.exceptAll(batchState).count() == 0)
  }

  test("stream lake sink: per-batch atomic versions, recency survives batch order, as-of stays consistent") {
    import graft.sources.LakeTable
    import graft.operators.MergeOps
    // the entry itself (memoized build): final state = batch last-write-wins
    val got = EventStreams.qStreamLakeSink(spark, SfDir)
      .select("user_id", "event_id", "ts", "event_type", "value")
    val expect = MergeOps.latestByKey(
      Tables.events(spark, SfDir)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .select("event_id", "user_id", "ts", "event_type", "value"),
      Seq("user_id"), "ts", "event_id")
      .select("user_id", "event_id", "ts", "event_type", "value") // positional compare
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).count() == 0)
    // the lake halves the oracle can't see: multiple committed versions
    // (one per micro-batch — 8 files / 2 per trigger), and a mid-stream
    // version still readable + internally consistent after later commits
    val table = graft.SessionCache.scratchPath(
      "graft_lakesink_" + graft.SessionCache.dirKey(SfDir)) + "/table"
    val latest = LakeTable.latestVersion(table)
    assert(latest >= 3, s"expected one version per micro-batch, got $latest")
    val mid = LakeTable.read(spark, table, Some(2))
    // a snapshot is a valid upsert state: at most one row per user
    assert(mid.groupBy("user_id").count().filter(col("count") > 1).count() == 0)
    // recency: adversarial arrival order — the NEWER version lands in
    // batch 1, the OLDER in batch 2; the conditional-merge election must
    // keep the newer row (plain arrival-order merge would regress it)
    val p = Files.createTempDirectory("graft_lakesink_late").toString
    import spark.implicits._
    val newer = Seq((2L, 77L, java.sql.Timestamp.valueOf("2026-01-02 00:00:00"), "b", 2.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val older = Seq((1L, 77L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "a", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    LakeTable.create(spark, s"$p/t", newer, Seq("user_id"))
    val cur = LakeTable.read(spark, s"$p/t")
      .join(org.apache.spark.sql.functions.broadcast(older.select("user_id")),
        Seq("user_id"), "left_semi")
    val winners = MergeOps.latestByKey(cur.unionByName(older), Seq("user_id"), "ts", "event_id")
    LakeTable.merge(spark, s"$p/t", winners, Seq("user_id"))
    val fin = LakeTable.read(spark, s"$p/t").collect()
    assert(fin.length == 1 && fin.head.getLong(0) == 2L,
      "older late batch clobbered newer lake state")
  }

  test("upsert sink: a LATE batch carrying an older version must not clobber newer state") {
    // adversarial arrival order: the NEWER version's file gets the older
    // mod-time, so the file source delivers it in batch 1 and the OLDER
    // version arrives afterwards — orderCol must win over arrival order
    // (the r11 order-authoritative merge; the anti-join form failed this)
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val in = Files.createTempDirectory("graft_upsert_ooo").toString
    def stageFile(name: String, rows: Seq[(Long, Long, java.sql.Timestamp, String, Double)],
        modTime: Long): Unit = {
      val tmp = Files.createTempDirectory("graft_ooo_part").toString
      rows.toDF("event_id", "user_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(in, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(modTime))
    }
    val base = System.currentTimeMillis() - 100000
    stageFile("newer.parquet",
      Seq((2L, 7L, t("2026-01-02 00:00:00"), "v2", 2.0)), base)
    stageFile("older.parquet",
      Seq((1L, 7L, t("2026-01-01 00:00:00"), "v1", 1.0)), base + 50000)
    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val target = Files.createTempDirectory("graft_upsert_ooo_out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_upsert_ooo_ckpt").toString
    val q = EventStreams.upsertSink(stream, target, ckpt,
      Seq("user_id"), "ts", "event_id")
    try q.processAllAvailable() finally q.stop()
    val state = spark.read.parquet(target)
      .select("user_id", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(state.toSeq == Seq((7L, 2L, "v2")),
      s"late-arriving older version clobbered newer state: ${state.toSeq}")
  }

  test("commit recovery restores buckets from _old or _staging instead of deleting them") {
    import org.apache.hadoop.fs.Path
    // bucket-layout fixtures: a "table" is a dir of _bkt=N subdirs; the
    // staging write job's _SUCCESS lives at the staging ROOT
    def mkBucket(p: Path, fs: org.apache.hadoop.fs.FileSystem, part: String): Unit = {
      val b = new Path(p, "_bkt=0")
      fs.mkdirs(b); fs.create(new Path(b, part)).close()
    }
    def commit(p: Path, fs: org.apache.hadoop.fs.FileSystem): Unit =
      fs.create(new Path(p, "_SUCCESS")).close()
    val root = Files.createTempDirectory("graft_recover").toString
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

    // crash window A: bucket renamed aside, staged replacement never
    // swapped in, staging already cleared — the bucket exists only in
    // _old; recovery must restore it, not delete it
    val t1 = new Path(root, "t1"); val s1 = new Path(root, "t1_staging"); val o1 = new Path(root, "t1_old")
    mkBucket(o1, fs, "part-old.parquet")
    EventStreams.recoverCommitState(fs, t1, s1, o1)
    assert(fs.exists(new Path(t1, "_bkt=0/part-old.parquet")) && !fs.exists(o1) && !fs.exists(s1))

    // crash window B: staging fully committed (it holds the merge) and the
    // bucket also sits in _old — the staged merge is the richer copy and
    // must win
    val t2 = new Path(root, "t2"); val s2 = new Path(root, "t2_staging"); val o2 = new Path(root, "t2_old")
    mkBucket(s2, fs, "part-staged.parquet"); commit(s2, fs)
    mkBucket(o2, fs, "part-old.parquet")
    EventStreams.recoverCommitState(fs, t2, s2, o2)
    assert(fs.exists(new Path(t2, "_bkt=0/part-staged.parquet")))
    assert(!fs.exists(new Path(t2, "_bkt=0/part-old.parquet")))
    assert(!fs.exists(s2) && !fs.exists(o2))

    // normal path: target bucket intact, stale leftovers just get cleared
    val t3 = new Path(root, "t3"); val s3 = new Path(root, "t3_staging"); val o3 = new Path(root, "t3_old")
    mkBucket(t3, fs, "part-live.parquet"); mkBucket(s3, fs, "part-stale.parquet"); commit(s3, fs)
    EventStreams.recoverCommitState(fs, t3, s3, o3)
    assert(fs.exists(new Path(t3, "_bkt=0/part-live.parquet")) && !fs.exists(s3))
    assert(!fs.exists(new Path(t3, "_bkt=0/part-stale.parquet")))

    // crash window C: first batch died MID-staging-write — partial staging
    // (no _SUCCESS), no target, no _old. The partial dir must be deleted,
    // NOT installed as the merge base; the sink then rebuilds from scratch
    val t4 = new Path(root, "t4"); val s4 = new Path(root, "t4_staging"); val o4 = new Path(root, "t4_old")
    mkBucket(s4, fs, "part-partial.parquet")
    EventStreams.recoverCommitState(fs, t4, s4, o4)
    assert(!fs.exists(t4) && !fs.exists(s4))

    // crash window D: partial staging AND an intact _old bucket — _old must
    // win over the uncommitted merge attempt
    val t5 = new Path(root, "t5"); val s5 = new Path(root, "t5_staging"); val o5 = new Path(root, "t5_old")
    mkBucket(s5, fs, "part-partial.parquet"); mkBucket(o5, fs, "part-old.parquet")
    EventStreams.recoverCommitState(fs, t5, s5, o5)
    assert(fs.exists(new Path(t5, "_bkt=0/part-old.parquet")) && !fs.exists(s5) && !fs.exists(o5))
  }

  test("a single-key micro-batch rewrites ONLY its own bucket directory") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Tables.events(spark, SfDir)
      .withColumn("ts", col("ts").cast("timestamp"))
      .select("event_id", "user_id", "ts", "event_type", "value")
    val in = Files.createTempDirectory("graft_bktprune_in").toString
    events.repartition(4).write.mode("overwrite").parquet(in)
    val target = Files.createTempDirectory("graft_bktprune_out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft_bktprune_ckpt").toString
    val nBuckets = 8

    val schema = spark.read.parquet(in).schema
    val stream = spark.readStream.schema(schema).parquet(in)
    val q = EventStreams.upsertSink(stream, target, ckpt,
      Seq("user_id"), "ts", "event_id", nBuckets)
    try {
      q.processAllAvailable()

      // per-bucket listing fingerprint of the loaded table
      def listing(): Map[String, Set[(String, Long, Long)]] = {
        val dirs = new java.io.File(target).listFiles()
          .filter(f => f.isDirectory && f.getName.startsWith("_bkt="))
        dirs.map(d => d.getName ->
          d.listFiles().map(f => (f.getName, f.lastModified, f.length)).toSet).toMap
      }
      val before = listing()
      assert(before.size > 1, s"expected multiple bucket dirs, got ${before.keySet}")

      // one new row for ONE key, strictly newer than anything in the table
      val singleKey = 7L
      Seq((999999L, singleKey, t("2099-01-01 00:00:00"), "probe", 1.0))
        .toDF("event_id", "user_id", "ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(in)
      q.processAllAvailable()

      val after = listing()
      val expectedBucket = spark.range(1)
        .select(pmod(hash(lit(singleKey)), lit(nBuckets)).as("b"))
        .head().getInt(0)
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k))
      assert(changed == Set(s"_bkt=$expectedBucket"),
        s"single-key batch touched buckets $changed, expected only _bkt=$expectedBucket " +
          s"of ${before.size} — the merge is not bucket-pruned")

      // and the merge inside the touched bucket is still right
      val row = spark.read.parquet(target).filter(col("user_id") === singleKey)
        .select("event_id", "event_type").head()
      assert((row.getLong(0), row.getString(1)) == (999999L, "probe"))
    } finally q.stop()
  }

  test("sub-second timestamps use the batch path's second-floored gap predicate") {
    import spark.implicits._
    import EventStreams.SessionEvent
    // raw gap 1800.8s > 1800 but floored gap = 1800 - 0 = 1800, NOT > 1800:
    // the batch sessionizer and the DuckDB oracle both keep these in ONE
    // session, so the stateful path must too
    val evs = Seq(
      SessionEvent(1L, java.time.Instant.ofEpochMilli(100), 1.0),
      SessionEvent(1L, java.time.Instant.ofEpochMilli(1800900), 2.0),
      // and a genuinely-split pair: floored gap 1801 > 1800
      SessionEvent(2L, java.time.Instant.ofEpochMilli(900), 1.0),
      SessionEvent(2L, java.time.Instant.ofEpochMilli(1801900), 2.0)
    ).toDS()
    val out = EventStreams.sessionizeStateful(evs, 1800L)
      .collect().map(s => (s.user_id, s.session_seq, s.n_events)).toSet
    assert(out == Set((1L, 1L, 2L), (2L, 1L, 1L), (2L, 2L, 1L)), s"got $out")
  }

  test("stateful sessionization equals the window-based batch sessionizer") {
    val stateful = EventStreams.qStreamSessionize(spark, SfDir)
      .select("user_id", "session_seq", "n_events", "session_value")
    val batch = WindowOps.qSessionize(spark, SfDir)
      .select(col("user_id"), col("session_seq"),
        col("n_events"), col("session_value"))
    assert(stateful.count() == batch.count())
    assert(stateful.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(stateful).count() == 0)
  }

  test("sorted-scan kernel equals the stateful kernel on the events table") {
    import spark.implicits._
    import EventStreams.SessionEvent
    val evs = Tables.events(spark, SfDir)
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
      .as[SessionEvent]
    val sorted = EventStreams.sessionizeSorted(evs, 1800L).toDF()
    val stateful = EventStreams.sessionizeStateful(evs, 1800L).toDF()
    assert(sorted.count() > 0)
    assert(sorted.exceptAll(stateful).count() == 0)
    assert(stateful.exceptAll(sorted).count() == 0)
  }

  test("hot user: 200k single-user events sessionize with bounded task memory") {
    import spark.implicits._
    import EventStreams.SessionEvent
    // one user owns the entire dataset — the skew case that would
    // concentrate in a single group buffer under the stateful kernel's
    // batch replay. The sorted kernel routes it through Spark's spillable
    // sort and a linear scan. Every 1000th event jumps >30min -> 200
    // sessions of 1000 events each.
    val n = 200000
    val evs = spark.range(n).select(
      lit(7L).as("user_id"),
      timestamp_micros(col("id") * 1000000L + expr("id div 1000") * 2000000000L).as("ts"),
      lit(1.0).as("value")
    ).as[SessionEvent]
    val out = EventStreams.sessionizeSorted(evs, 1800L).collect()
    assert(out.length == 200, s"got ${out.length} sessions")
    assert(out.forall(s => s.n_events == 1000L && s.session_value == 1000.0))
    assert(out.map(_.session_seq).sorted.toSeq == (1L to 200L))
  }
}
