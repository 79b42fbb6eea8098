package graft

import org.apache.spark.sql.functions._

import graft.similarity.SimilarityOps
import graft.sources.AnnIndexStore

/** Cross-session index persistence: the parquet round-trip must serve
  * IDENTICAL results to the session-built index, and a corpus/index
  * mismatch must fail loudly (silently-wrong neighbors are the worst
  * ANN-store failure mode). */
class AnnIndexStoreSpec extends SparkSpec {

  private val store = java.nio.file.Files
    .createTempDirectory("graft_ann_index").toString

  /** Spark jobs one fresh IVF+PQ build + store write may run at sf0.001:
    * 30 measured, plus headroom. Training the quantizers as distributed
    * Lloyd iterations again would run ~200. */
  private val JobBudget = 40

  test("write/read round-trips the index and serves identical top-10") {
    AnnIndexStore.write(spark, SfDir, store)
    val loaded = AnnIndexStore.read(spark, SfDir, store)
    val live = SimilarityOps.buildIvfPqIndex(spark, SfDir)
    assert(loaded.nCells == live.nCells)
    // codebook bit-identical
    assert(loaded.codebook.length == live.codebook.length)
    for (b <- live.codebook.indices)
      assert(loaded.codebook(b).map(_.toSeq).toSeq == live.codebook(b).map(_.toSeq).toSeq,
        s"codebook block $b drifted through parquet")
    // index tables row-identical
    assert(loaded.cells.exceptAll(live.cells).isEmpty &&
      live.cells.exceptAll(loaded.cells).isEmpty)
    assert(loaded.withCodes.exceptAll(live.withCodes).isEmpty &&
      live.withCodes.exceptAll(loaded.withCodes).isEmpty)
    // and the search served from the LOADED index equals the live path
    val cols = Seq("query_id", "rank", "vec_id", "cos_ppm")
    val fromStore = AnnIndexStore.serve(spark, SfDir, store)
      .select(cols.map(col): _*).orderBy("query_id", "rank").collect()
    val fromLive = SimilarityOps.annTopkIvfPqRanked(spark, SfDir)
      .select(cols.map(col): _*).orderBy("query_id", "rank").collect()
    assert(fromStore.nonEmpty)
    assert(fromStore.toSeq == fromLive.toSeq)
  }

  test("a stale index (corpus mismatch) fails loudly unless forensics-flagged") {
    AnnIndexStore.write(spark, SfDir, store)
    // the sf0.01 corpus has a different embeddings snapshot than sf0.001
    val other = "/root/testdata/sf0.01"
    val e = intercept[IllegalStateException] {
      AnnIndexStore.read(spark, other, store)
    }
    assert(e.getMessage.contains("DIFFERENT corpus"))
    // forensics escape hatch still loads
    assert(AnnIndexStore.read(spark, other, store, allowStale = true).nCells > 0)
  }

  test("append encodes a batch with the frozen quantizer and records the count") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_append").toString
    AnnIndexStore.write(spark, SfDir, dir)
    val before = AnnIndexStore.read(spark, SfDir, dir)
    val nBefore = before.withCodes.count()
    // plant two batch vectors: one EQUAL to an existing corpus vector
    // (must land in the same cell with the same codes), one arbitrary
    val sample = before.withCodes.limit(1).collect().head
    val (knownId, knownCell, knownCodes) =
      (sample.getLong(0), sample.getInt(1), sample.getSeq[Int](2))
    val knownVec = Tables.embeddings(spark, SfDir)
      .filter(col("vec_id") === knownId)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .head().getSeq[Double](0)
    val batch = Seq(
      (5000001L, knownVec),
      (5000002L, knownVec.map(v => 1.0 - v))).toDF("vec_id", "vec")
    AnnIndexStore.append(spark, SfDir, dir, batch)
    val after = AnnIndexStore.read(spark, SfDir, dir)
    assert(after.withCodes.count() == nBefore + 2)
    val dup = after.withCodes.filter(col("vec_id") === 5000001L).collect().head
    assert(dup.getInt(1) == knownCell, "identical vector must land in the same cell")
    assert(dup.getSeq[Int](2) == knownCodes, "identical vector must get identical codes")
    // a second append accumulates the count in meta.json
    AnnIndexStore.append(spark, SfDir, dir, batch.filter(col("vec_id") === 5000002L))
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "meta.json"))
    assert(meta.contains("\"appended\":3"), meta)
  }

  test("an append whose rows are missing from the part-file listing fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_store_parts").toString + "/v"
    spark.range(3).write.parquet(dir)
    val files = graft.sources.StoreParts.list(dir)
    assert(files.nonEmpty)
    assert(graft.sources.StoreParts.added("AnnIndexStore", dir, Set.empty, 3) ==
      files.toSeq.sorted.map(f => s"$dir/$f"))
    // an empty batch may add no file
    assert(graft.sources.StoreParts.added("AnnIndexStore", dir, files, 0).isEmpty)
    // rows written but no new file listed: counting them would leave
    // them unrouteable, so the append must refuse
    val e = intercept[IllegalStateException] {
      graft.sources.StoreParts.added("AnnIndexStore", dir, files, 3)
    }
    assert(e.getMessage.contains("wrote 3 rows"), e.getMessage)
  }

  test("building the IVF+PQ index on a fresh corpus stays within its Spark job budget") {
    // a corpus dir no session cache has seen: the build trains, assigns
    // and encodes from scratch
    val data = java.nio.file.Files.createTempDirectory("graft_ann_jobs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(SfDir, "embeddings.parquet"),
      data.resolve("embeddings.parquet"))
    val group = "ann-build-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "IVF+PQ build")
      try AnnIndexStore.write(spark, data.toString, s"$data/ann")
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    graft.sources.LakeTable.deleteRecursively(data.toFile)
    assert(jobs.get() > 0 && jobs.get() <= JobBudget,
      s"IVF+PQ build ran ${jobs.get()} Spark jobs (budget $JobBudget)")
  }

  test("a corrupt meta.json names the missing field") {
    AnnIndexStore.write(spark, SfDir, store)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(store, "meta.json"), """{"nCells":16}""")
    val e = intercept[IllegalStateException] {
      AnnIndexStore.read(spark, SfDir, store)
    }
    assert(e.getMessage.contains("snapshot"))
  }

  test("serve returns appended vectors: the twin ranks adjacent to its source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_serve_append").toString
    AnnIndexStore.write(spark, SfDir, dir)
    val served0 = AnnIndexStore.serve(spark, SfDir, dir)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // pick a vector that IS a top-9 answer for some query, append an
    // exact twin of it: identical cell+codes -> identical ADC -> both in
    // the shortlist; identical cosine with the (vec_id) tie-break puts
    // the twin right after its source, inside the top-10
    val (qid, srcRank, srcId) = served0.filter(_._2 <= 9).head
    val srcVec = Tables.embeddings(spark, SfDir)
      .filter(col("vec_id") === srcId)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .head().getSeq[Double](0)
    AnnIndexStore.append(spark, SfDir, dir, Seq((7000001L, srcVec)).toDF("vec_id", "vec"))
    val served1 = AnnIndexStore.serve(spark, SfDir, dir)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(_._1 == qid)
    assert(served1.exists(r => r._3 == 7000001L && r._2 == srcRank + 1),
      s"appended twin of $srcId (rank $srcRank for query $qid) not served: " +
        served1.sortBy(_._2).mkString(", "))
    // a REBUILD starts a fresh generation: the appended vectors are gone
    // and serving returns to the pre-append results
    AnnIndexStore.write(spark, SfDir, dir)
    assert(Option(new java.io.File(dir).listFiles).getOrElse(Array.empty)
      .forall(f => !f.getName.startsWith("appended_vectors")),
      "rebuild left a stale appended-vectors generation behind")
    val served2 = AnnIndexStore.serve(spark, SfDir, dir)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served2.toSeq == served0.toSeq,
      "post-rebuild serve must equal the pre-append results")
  }

  test("maintenance: compaction is row-invisible, retract drops codes AND rerank vectors") {
    val dir = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_ann_store_spec_maint").toString
    graft.sources.LakeTable.deleteRecursively(new java.io.File(dir))
    AnnIndexStore.write(spark, SfDir, dir)
    val batch = SimilarityOps.appendBatch(spark, SfDir)
    AnnIndexStore.append(spark, SfDir, dir, batch.filter((col("vec_id") - 2000000L) % 50 === 0))
    AnnIndexStore.append(spark, SfDir, dir, batch.filter((col("vec_id") - 2000000L) % 50 === 25))
    def codes(p: String) = spark.read.parquet(AnnIndexStore.liveCodes(p))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).mkString(","))).toSet
    // compaction: fragments shrink, the codes SET does not
    val pre = codes(dir)
    val fragsBefore = AnnIndexStore.codesFragments(dir)
    assert(fragsBefore > 1, s"fixture not fragmented ($fragsBefore)")
    AnnIndexStore.compactIndexFiles(spark, SfDir, dir, targetFiles = 1)
    assert(AnnIndexStore.codesFragments(dir) == 1)
    assert(codes(dir) == pre, "compaction changed the codes set")
    // retract: the odd twins vanish from codes AND the rerank store,
    // surviving rows are untouched (frozen quantizer: no re-encode)
    val retractedIds = batch.filter((col("vec_id") - 2000000L) % 50 === 25)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(retractedIds.nonEmpty)
    AnnIndexStore.retract(spark, SfDir, dir,
      batch.filter((col("vec_id") - 2000000L) % 50 === 25).select("vec_id"))
    val post = codes(dir)
    assert(post == pre.filterNot(c => retractedIds(c._1)),
      "retract did not leave exactly the survivor codes")
    val rerankIds = spark.read.parquet(AnnIndexStore.liveAppendedVectors(dir))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rerankIds.intersect(retractedIds).isEmpty, "retracted rerank vectors stranded")
    // no retracted id is ever served; hygiene: one live generation, no meta temps
    val served = AnnIndexStore.serve(spark, SfDir, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(retractedIds).isEmpty, "a retracted vector was served")
    val left = Option(new java.io.File(dir).listFiles).getOrElse(Array.empty).map(_.getName)
    assert(!left.exists(_.startsWith(".tmp-meta")), s"stray meta temp: ${left.mkString(",")}")
    assert(left.count(_.startsWith("codes-g")) == 1 &&
      left.count(_.startsWith("appended_vectors-g")) == 1,
      s"old generations survived: ${left.mkString(",")}")
  }

  test("ann_index_serve entry: full lifecycle booleans hold for every gated query") {
    val rows = SimilarityOps.qAnnIndexServe(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4)))
    val nTwins = Tables.embeddings(spark, SfDir).filter(col("vec_id") % 25 === 0).count()
    assert(rows.length.toLong == nTwins && rows.length <= 64,
      s"${rows.length} gate rows for $nTwins sampled queries")
    rows.foreach { case (q, k, meanOk, top1Ok, appendOk) =>
      assert(k == 10L)
      assert(meanOk, s"query $q: post-append mean recall floor broken")
      assert(top1Ok, s"query $q: source not served at rank 1 from the store")
      assert(appendOk, s"query $q: appended exact-copy twin not served at rank 2")
    }
  }
}
