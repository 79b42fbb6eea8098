package graft

import org.apache.spark.sql.functions._
import graft.sources.{DedupIndexStore, LakeTable}

/** Contracts of the persisted MinHash/LSH dedup index that the
  * dedup_index_serve oracle can't express: append-built ≡
  * rebuilt-from-scratch (signatures are deterministic, banding is
  * frozen), the corpus-snapshot staleness gate, and the lake-log
  * durability of every store mutation. */
class DedupIndexSpec extends SparkSpec {

  /** This spec's fixture root, one per JVM: two test runs on one
    * machine never share (and delete) each other's stores. */
  private lazy val fixtures = java.nio.file.Files.createTempDirectory("graft_dedup_idx_spec")

  private def freshPath(tag: String): String = {
    val p = fixtures.resolve(tag).toString
    LakeTable.deleteRecursively(p)
    p
  }

  private def postings(p: String) = LakeTable.read(spark, s"$p/postings")
    .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet

  private def docIds(p: String, table: String) = LakeTable.read(spark, s"$p/$table")
    .select("doc_id").distinct().collect().map(_.getLong(0)).toSet

  private def decisions(p: String, probes: org.apache.spark.sql.DataFrame) =
    DedupIndexStore.probe(spark, SfDir, p, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  private def idsOnDisk(p: String): Set[Long] =
    longsOnDisk(Seq(s"$p/shingles", s"$p/postings"), "doc_id")

  test("append-built index is row-identical to a from-scratch rebuild, probes agree") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)

    val grown = freshPath("grown")
    DedupIndexStore.write(spark, SfDir, grown, base)
    // two jobs: the shingles write and the postings pass over its files
    val jobs = sparkJobs(DedupIndexStore.append(spark, SfDir, grown, batchA))
    assert(jobs == 2, s"append ran $jobs Spark jobs")
    val scratch = freshPath("scratch")
    DedupIndexStore.write(spark, SfDir, scratch, base.unionByName(batchA))

    assert(postings(grown) == postings(scratch),
      "append produced different postings than a rebuild — banding not frozen")

    val d = decisions(grown, probes)
    assert(d == decisions(scratch, probes))
    assert(d.nonEmpty, "no verified near-dup pair — probe vacuous at this SF")
  }

  test("compaction is row-invisible and heals fragments; retract ≡ rebuild over survivors") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)

    val p = freshPath("maint")
    DedupIndexStore.write(spark, SfDir, p, base)
    DedupIndexStore.append(spark, SfDir, p, batchA.filter(col("doc_id") % 14 === 12))
    DedupIndexStore.append(spark, SfDir, p, batchA.filter(col("doc_id") % 14 === 5))
    // compaction: the fragment count shrinks, the postings SET does not
    val pre = postings(p)
    val fragsBefore = DedupIndexStore.postingsFragments(p)
    assert(fragsBefore > 1, s"fixture not fragmented ($fragsBefore fragments)")
    // both tables land one physical schema and carry no sidecar: the
    // compaction stitches row groups on the driver and runs no Spark job
    val jobs = sparkJobSites(DedupIndexStore.compactIndex(spark, SfDir, p, targetFiles = 1))
    assert(jobs.isEmpty, s"the store compaction ran Spark jobs:\n${jobs.mkString("\n")}")
    assert(DedupIndexStore.postingsFragments(p) == 1)
    assert(postings(p) == pre, "compaction changed the postings set")
    // the pass vacuums: only the compacted files stay on disk
    Seq("shingles", "postings").foreach(t => assertOnlyLiveFiles(s"$p/$t"))
    // retraction under the frozen banding equals a from-scratch rebuild
    // over the survivor set — postings AND probe decisions
    val retracted = docs.filter(col("doc_id") % 14 === 5)
    DedupIndexStore.retract(spark, SfDir, p, retracted.select("doc_id"))
    val survivors = freshPath("maint_scratch")
    DedupIndexStore.write(spark, SfDir, survivors,
      base.unionByName(batchA.filter(col("doc_id") % 14 =!= 5)))
    assert(postings(p) == postings(survivors),
      "retract left different postings than a rebuild over the survivors")
    assert(docIds(p, "shingles") == docIds(survivors, "shingles"),
      "retract stranded (or lost) verification shingles")
    assert(decisions(p, probes) == decisions(survivors, probes))
    // erasure is physical: every file on disk is live, and no file —
    // read past the manifest — still holds a retracted doc_id
    Seq("shingles", "postings").foreach(t => assertOnlyLiveFiles(s"$p/$t"))
    val retractedIds = retracted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(retractedIds.nonEmpty)
    assert(idsOnDisk(p).intersect(retractedIds).isEmpty, "a retracted doc_id is still on disk")
    // the probe still refuses a different corpus after maintenance
    val err = intercept[IllegalStateException] {
      DedupIndexStore.probe(spark, "/root/testdata/sf0.01", p, probes.limit(1))
    }
    assert(err.getMessage.contains("DIFFERENT corpus"))
  }

  test("entry emits append-generation hits and novelty; probing a stale index fails loudly") {
    val out = graft.dedup.DedupOps.qDedupIndexServe(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    assert(out.exists(_._2 > 0), "no probe doc matched the index — gate vacuous")
    assert(out.exists(_._3 > 0),
      "no probe doc matched the APPENDED generation — the append path is untested")
    assert(out.exists(_._4 == 1L), "every probe doc was a dup — novelty branch untested")
    out.foreach { case (id, n, nApp, novel) =>
      assert(nApp <= n && (novel == 1L) == (n == 0L), s"inconsistent row for doc $id")
    }
    // the staleness gate: an index built over THIS corpus must refuse
    // probes resolved against a different one
    val path = graft.SessionCache.scratchPath(
      s"graft_dedup_idx_${graft.SessionCache.dirKey(SfDir)}")
    val err = intercept[IllegalStateException] {
      DedupIndexStore.probe(spark, "/root/testdata/sf0.01", path,
        Tables.documents(spark, SfDir).select("doc_id", "text").limit(1))
    }
    assert(err.getMessage.contains("DIFFERENT corpus"))
  }

  test("a crashed, uncommitted append is invisible and compaction clears it") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)
    val p = freshPath("crash")
    DedupIndexStore.write(spark, SfDir, p, base)
    val pre = decisions(p, probes)
    // the crashed append: batchA's shingle and posting files land under
    // each table's data/ (taken from a store built over batchA alone),
    // and neither commit happens
    val donor = freshPath("crash_donor")
    DedupIndexStore.write(spark, SfDir, donor, batchA)
    Seq("shingles", "postings").foreach { t =>
      val orphanDir = java.nio.file.Paths.get(p, t, "data", "append-v9-crashed")
      java.nio.file.Files.createDirectories(orphanDir)
      partFilesOnDisk(s"$donor/$t").foreach { f =>
        val src = java.nio.file.Paths.get(f)
        java.nio.file.Files.copy(src, orphanDir.resolve(src.getFileName))
      }
    }
    assert(idsOnDisk(p).exists(id => id % 7 == 5), "no orphan file landed")
    assert(decisions(p, probes) == pre, "uncommitted append files changed the probe")
    // the next append and compaction run over the orphans; the batch is
    // then probed like a rebuild over base ∪ batchA, and the compaction's
    // vacuum removes the orphan files
    DedupIndexStore.append(spark, SfDir, p, batchA)
    val scratch = freshPath("crash_scratch")
    DedupIndexStore.write(spark, SfDir, scratch, base.unionByName(batchA))
    assert(decisions(p, probes) == decisions(scratch, probes))
    assert(decisions(p, probes) != pre, "batchA changes no decision — the check is vacuous")
    DedupIndexStore.compactIndex(spark, SfDir, p, targetFiles = 1)
    Seq("shingles", "postings").foreach(t => assertOnlyLiveFiles(s"$p/$t"))
    assert(postings(p) == postings(scratch))
  }

  test("the store round trip runs on a file: URI path") {
    val docs = Tables.documents(spark, SfDir).select("doc_id", "text")
    val cls = col("doc_id") % 7
    val base = docs.filter(cls =!= 3 && cls =!= 5)
    val batchA = docs.filter(cls === 5)
    val probes = docs.filter(cls === 3)
    val plain = freshPath("fileuri")
    val p = "file:" + plain
    DedupIndexStore.write(spark, SfDir, p, base)
    DedupIndexStore.append(spark, SfDir, p, batchA)
    // every appended row is indexed: the store equals a local rebuild
    val scratch = freshPath("fileuri_scratch")
    DedupIndexStore.write(spark, SfDir, scratch, base.unionByName(batchA))
    val all = postings(scratch)
    assert(postings(p) == all)
    assert(decisions(p, probes) == decisions(scratch, probes))
    DedupIndexStore.compactIndex(spark, SfDir, p, targetFiles = 1)
    assert(DedupIndexStore.postingsFragments(p) == 1)
    assert(postings(p) == all)
    val retracted = batchA.filter(col("doc_id") % 14 === 5).select("doc_id")
    val retractedIds = retracted.collect().map(_.getLong(0)).toSet
    DedupIndexStore.retract(spark, SfDir, p, retracted)
    assert(postings(p) == all.filterNot(r => retractedIds(r._3)))
    Seq("shingles", "postings").foreach(t => assertOnlyLiveFiles(s"$p/$t"))
    assert(idsOnDisk(p).intersect(retractedIds).isEmpty)
    LakeTable.deleteRecursively(p)
    assert(!new java.io.File(plain).exists)
  }
}
