package graft

import org.apache.spark.sql.functions._

import graft.similarity.SimilarityOps
import graft.sources.{AnnIndexStore, LakeTable}

/** Cross-session index persistence: the parquet round-trip must serve
  * IDENTICAL results to the session-built index, a corpus/index
  * mismatch must fail loudly (silently-wrong neighbors are the worst
  * ANN-store failure mode), and every store mutation is a lake commit. */
class AnnIndexStoreSpec extends SparkSpec {

  private val store = java.nio.file.Files
    .createTempDirectory("graft_ann_index").toString

  /** Spark jobs one fresh IVF+PQ build + store write may run at sf0.001:
    * 9 measured, plus headroom. Assigning and encoding the corpus with
    * the frame algebra (cross join, residual join, per-block argmin
    * groupBys, four checkpointed views) ran 26; training the quantizers
    * as distributed Lloyd iterations would run ~200. */
  private val JobBudget = 12

  private def tables(dir: String) = Seq(s"$dir/codes", s"$dir/appended_vectors")

  private def codes(dir: String) = LakeTable.read(spark, s"$dir/codes")
    .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).mkString(","))).toSet

  private def served(dir: String) = AnnIndexStore.serve(spark, SfDir, dir)
    .select("query_id", "rank", "vec_id").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  private def idsOnDisk(dir: String): Set[Long] = longsOnDisk(tables(dir), "vec_id")

  /** An exact twin, under `twinId`, of a vector served at rank <= 9:
    * identical cell+codes and cosine put it right after its source. */
  private def twinOfServed(dir: String, twinId: Long) = {
    import spark.implicits._
    val (qid, srcRank, srcId) = served(dir).filter(_._2 <= 9).head
    val srcVec = Tables.embeddings(spark, SfDir)
      .filter(col("vec_id") === srcId)
      .select(expr("transform(embedding, x -> cast(x as double))"))
      .head().getSeq[Double](0)
    (qid, srcRank, Seq((twinId, srcVec)).toDF("vec_id", "vec"))
  }

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
    // cells bit-identical, codes row-identical
    assert(loaded.quantizer.centroids.map(_.toSeq).toSeq ==
      live.quantizer.centroids.map(_.toSeq).toSeq)
    assert(loaded.quantizer.cnorms.toSeq == live.quantizer.cnorms.toSeq)
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
    // the client shape, appending against a loaded index: one job writes
    // the vectors, and one map-only job encodes exactly the files it
    // added and writes the codes — no join, shuffle, listing, counting
    // or schema-inference job
    val jobs = sparkJobs(AnnIndexStore.append(spark, SfDir, dir, batch, Some(before)))
    assert(jobs == 2, s"append ran $jobs Spark jobs")
    val after = AnnIndexStore.read(spark, SfDir, dir)
    assert(after.withCodes.count() == nBefore + 2)
    val dup = after.withCodes.filter(col("vec_id") === 5000001L).collect().head
    assert(dup.getInt(1) == knownCell, "identical vector must land in the same cell")
    assert(dup.getSeq[Int](2) == knownCodes, "identical vector must get identical codes")
    // a second append: the codes table's log holds one append commit per
    // batch, and the files those commits added hold the 3 appended rows
    AnnIndexStore.append(spark, SfDir, dir, batch.filter(col("vec_id") === 5000002L))
    val codes = s"$dir/codes"
    assert(LakeTable.history(codes).map(_._2) == Seq("create", "append", "append", "append"))
    val built = LakeTable.manifest(codes, 2).filePaths.toSet
    val appended = LakeTable.manifest(codes, LakeTable.latestVersion(codes)).files
      .filterNot(f => built(f.path))
    assert(appended.map(_.rows).sum == 3L, appended)
  }

  test("serve runs within its Spark job budget") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_serve_jobs").toString
    AnnIndexStore.write(spark, SfDir, dir)
    AnnIndexStore.read(spark, SfDir, dir) // loads the quantizer, once per build
    // the query-slice collect, then the plan's jobs: three local-relation
    // broadcasts (per-cell probes + T2, T3, the rerank queries), the
    // rerank vectors' broadcast, the shortlist shuffle and the final
    // ordering's sample and shuffle, and the result stage — no probe
    // window, no T3 aggregation, no quantizer load
    val jobs = sparkJobs(AnnIndexStore.serve(spark, SfDir, dir).collect())
    assert(jobs <= 9, s"serve ran $jobs Spark jobs")
  }

  test("the quantizer loads once per build: memoized reads, a rebuild reloads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_memo").toString
    AnnIndexStore.write(spark, SfDir, dir)
    // the first read loads cells and codebook from parquet, one job each,
    // bit-identical to the session-built quantizer; later reads run none
    var loaded: SimilarityOps.Quantizer = null
    assert(sparkJobs { loaded = AnnIndexStore.read(spark, SfDir, dir).quantizer } == 2)
    val live = SimilarityOps.buildIvfPqIndex(spark, SfDir).quantizer
    assert(loaded.centroids.map(_.toSeq).toSeq == live.centroids.map(_.toSeq).toSeq)
    assert(loaded.cnorms.toSeq == live.cnorms.toSeq)
    assert(loaded.codebook.map(_.map(_.toSeq).toSeq).toSeq ==
      live.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    assert(sparkJobs(AnnIndexStore.read(spark, SfDir, dir)) == 0,
      "a read of an unchanged build loaded the quantizer again")
    // a rebuild stamps a new build id, so the next read loads again
    val build = LakeTable.manifest(s"$dir/codes", 2).props("build")
    AnnIndexStore.write(spark, SfDir, dir)
    assert(LakeTable.manifest(s"$dir/codes", 2).props("build") != build)
    assert(sparkJobs(AnnIndexStore.read(spark, SfDir, dir)) == 2)
  }

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  test("building the IVF+PQ index on a fresh corpus stays within its Spark job budget") {
    // a corpus dir no memo has seen: the build trains and encodes from
    // scratch
    val data = java.nio.file.Files.createTempDirectory("graft_ann_jobs")
    java.nio.file.Files.copy(java.nio.file.Paths.get(SfDir, "embeddings.parquet"),
      data.resolve("embeddings.parquet"))
    val views = tempViews()
    val jobs = sparkJobs(AnnIndexStore.write(spark, data.toString, s"$data/ann"))
    val left = tempViews() -- views
    LakeTable.deleteRecursively(data.toString)
    assert(jobs > 0 && jobs <= JobBudget,
      s"IVF+PQ build ran $jobs Spark jobs (budget $JobBudget)")
    // the quantizer is a driver value and the codes are encoded inside
    // the codes table's append: nothing is checkpointed into the session
    assert(left.isEmpty, s"the build left session views: ${left.mkString(", ")}")
  }

  test("a store log without the snapshot property fails and names it") {
    AnnIndexStore.write(spark, SfDir, store)
    // a commit that drops the property
    val codes = s"$store/codes"
    val m = LakeTable.manifest(codes, LakeTable.latestVersion(codes))
    LakeTable.commitDelta(codes, m.copy(version = m.version + 1, op = "drop-snapshot",
      props = m.props - "snapshot"), Seq.empty, Seq.empty)
    val e = intercept[IllegalStateException] {
      AnnIndexStore.read(spark, SfDir, store)
    }
    assert(e.getMessage.contains("snapshot"), e.getMessage)
    // a path with no committed store, and one whose write() stopped
    // before the codes table's first append
    val none = java.nio.file.Files.createTempDirectory("graft_ann_none").toString
    val e2 = intercept[IllegalStateException] { AnnIndexStore.serve(spark, SfDir, none) }
    assert(e2.getMessage.contains("rebuild with write()"), e2.getMessage)
    LakeTable.createEmpty(s"$none/codes", m.schema, Seq("vec_id"), props = m.props)
    val e3 = intercept[IllegalStateException] { AnnIndexStore.read(spark, SfDir, none) }
    assert(e3.getMessage.contains("rebuild with write()"), e3.getMessage)
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
    // a REBUILD starts clean: the appended vectors are gone and serving
    // returns to the pre-append results
    AnnIndexStore.write(spark, SfDir, dir)
    assert(LakeTable.read(spark, s"$dir/appended_vectors").isEmpty,
      "rebuild left stale appended vectors behind")
    val served2 = AnnIndexStore.serve(spark, SfDir, dir)
      .select("query_id", "rank", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(served2.toSeq == served0.toSeq,
      "post-rebuild serve must equal the pre-append results")
  }

  test("maintenance: compaction is row-invisible, retract drops codes AND rerank vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_maint").toString
    AnnIndexStore.write(spark, SfDir, dir)
    val batch = SimilarityOps.appendBatch(spark, SfDir)
    AnnIndexStore.append(spark, SfDir, dir, batch.filter((col("vec_id") - 2000000L) % 50 === 0))
    AnnIndexStore.append(spark, SfDir, dir, batch.filter((col("vec_id") - 2000000L) % 50 === 25))
    // compaction: fragments shrink, the codes SET does not
    val pre = codes(dir)
    val fragsBefore = AnnIndexStore.codesFragments(dir)
    assert(fragsBefore > 1, s"fixture not fragmented ($fragsBefore)")
    // both tables land one physical schema and carry no sidecar: the
    // compaction stitches row groups on the driver and runs no Spark job
    val jobs = sparkJobSites(AnnIndexStore.compactIndexFiles(spark, SfDir, dir, targetFiles = 1))
    assert(jobs.isEmpty, s"the store compaction ran Spark jobs:\n${jobs.mkString("\n")}")
    assert(AnnIndexStore.codesFragments(dir) == 1)
    assert(codes(dir) == pre, "compaction changed the codes set")
    tables(dir).foreach(assertOnlyLiveFiles)
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
    val rerankIds = LakeTable.read(spark, s"$dir/appended_vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rerankIds.intersect(retractedIds).isEmpty, "retracted rerank vectors stranded")
    // no retracted id is ever served, and erasure is physical: every file
    // on disk is live, and none — read past the manifest — holds one
    val served = AnnIndexStore.serve(spark, SfDir, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served.intersect(retractedIds).isEmpty, "a retracted vector was served")
    tables(dir).foreach(assertOnlyLiveFiles)
    assert(idsOnDisk(dir).intersect(retractedIds).isEmpty, "a retracted vec_id is still on disk")
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

  test("a crashed, uncommitted append is invisible and compaction clears it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ann_crash").toString
    AnnIndexStore.write(spark, SfDir, dir)
    val served0 = served(dir)
    // the crashed append: the twin's vector and codes files land under
    // each table's data/, and neither commit happens
    val (qid, srcRank, twin) = twinOfServed(dir, 7000002L)
    twin.write.parquet(s"$dir/appended_vectors/data/append-v9-crashed")
    SimilarityOps.encodeWithIndex(spark, twin, AnnIndexStore.read(spark, SfDir, dir).quantizer)
      .write.parquet(s"$dir/codes/data/append-v9-crashed")
    assert(idsOnDisk(dir).contains(7000002L), "no orphan file landed")
    assert(served(dir) == served0, "uncommitted append files changed what serve returns")
    // the next append and compaction run over the orphans; the appended
    // twin is served, and the compaction's vacuum removes the orphans
    AnnIndexStore.append(spark, SfDir, dir, twin)
    assert(served(dir).exists(r => r._1 == qid && r._3 == 7000002L && r._2 == srcRank + 1))
    AnnIndexStore.compactIndexFiles(spark, SfDir, dir, targetFiles = 1)
    tables(dir).foreach(assertOnlyLiveFiles)
    assert(LakeTable.read(spark, s"$dir/appended_vectors").count() == 1L)
  }

  test("the store round trip runs on a file: URI path") {
    val plain = java.nio.file.Files.createTempDirectory("graft_ann_fileuri").toString
    val dir = "file:" + plain
    AnnIndexStore.write(spark, SfDir, dir)
    val served0 = served(dir)
    val (qid, srcRank, twin) = twinOfServed(dir, 7000003L)
    AnnIndexStore.append(spark, SfDir, dir, twin)
    // the appended row is indexed and served
    assert(served(dir).exists(r => r._1 == qid && r._3 == 7000003L && r._2 == srcRank + 1))
    val pre = codes(dir)
    assert(pre.exists(_._1 == 7000003L))
    AnnIndexStore.compactIndexFiles(spark, SfDir, dir, targetFiles = 1)
    assert(AnnIndexStore.codesFragments(dir) == 1)
    assert(codes(dir) == pre)
    AnnIndexStore.retract(spark, SfDir, dir, twin.select("vec_id"))
    assert(codes(dir) == pre.filterNot(_._1 == 7000003L))
    assert(served(dir) == served0)
    tables(dir).foreach(assertOnlyLiveFiles)
    assert(!idsOnDisk(dir).contains(7000003L))
    LakeTable.deleteRecursively(dir)
    assert(!new java.io.File(plain).exists)
  }
}
