package graft

import org.apache.spark.sql.functions._
import graft.sources.LakeTable

/** Transactional contracts of the snapshot-versioned lake table that the
  * lake_merge_asof oracle can't express in rows: snapshot isolation for
  * a reader resolved before a concurrent commit, file-granular
  * copy-on-write (untouched files carry by reference), atomic-publish
  * conflict detection, and as-of resolution. */
class LakeTableSpec extends SparkSpec {

  private def freshPath(tag: String): String = {
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_lake_spec_$tag").toString
    LakeTable.deleteRecursively(new java.io.File(p))
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** Manifest-stored paths are FS-qualified URIs (file:/...); resolve to
    * a local File for the spec's direct corruption/existence probes. */
  private def local(f: String): java.io.File =
    new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath)

  test("merge is a latest-wins upsert: updates replace, inserts add, the rest carries") {
    import spark.implicits._
    val p = freshPath("merge")
    val base = (1L to 100L).map(k => (k, "base", k * 10L)).toDF("k", "s", "v")
    assert(LakeTable.create(spark, p, base, Seq("k")) == 1)
    val batch = Seq((7L, "upd", 777L), (8L, "upd", 888L), (200L, "ins", 2000L))
      .toDF("k", "s", "v")
    assert(LakeTable.merge(spark, p, batch, Seq("k")) == 2)
    val got = rows(LakeTable.read(spark, p).select("k", "s", "v"))
    val expect = (1L to 100L).filterNot(k => k == 7L || k == 8L)
      .map(k => (k, "base", k * 10L)).toSet ++
      Set((7L, "upd", 777L), (8L, "upd", 888L), (200L, "ins", 2000L))
    assert(got == expect)
    // as-of(1) is the pre-merge state, read AFTER v2 committed
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")) ==
      (1L to 100L).map(k => (k, "base", k * 10L)).toSet)
  }

  test("a reader resolved before a commit is unaffected by it (snapshot isolation)") {
    import spark.implicits._
    val p = freshPath("isolation")
    val base = (1L to 50L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"))
    // resolve the reader FIRST (latest-at-call-time = v1)...
    val pinned = LakeTable.read(spark, p).select("k", "s", "v")
    // ...then commit v2 changing every row's payload
    LakeTable.merge(spark, p,
      (1L to 50L).map(k => (k, "V2", k + 1000L)).toDF("k", "s", "v"), Seq("k"))
    assert(LakeTable.latestVersion(p) == 2)
    // the pinned reader still collects exactly the v1 rows — no torn
    // read, no silent upgrade to the new snapshot
    assert(rows(pinned) == (1L to 50L).map(k => (k, "base", k)).toSet)
    // while a fresh resolution sees v2
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      (1L to 50L).map(k => (k, "V2", k + 1000L)).toSet)
  }

  test("merge is file-granular copy-on-write: untouched files carry by reference") {
    import spark.implicits._
    val p = freshPath("cow")
    val base = (1L to 400L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    val v1Files = LakeTable.manifestFiles(p, 1).toSet
    assert(v1Files.size >= 4, s"want file granularity, got ${v1Files.size} files")
    // a single-key batch touches only the file(s) holding that key
    LakeTable.merge(spark, p, Seq((5L, "upd", 55L)).toDF("k", "s", "v"), Seq("k"))
    val v2Files = LakeTable.manifestFiles(p, 2).toSet
    val carried = v1Files.intersect(v2Files)
    val rewritten = v1Files.diff(v2Files)
    assert(carried.nonEmpty, "no file carried by reference — merge rewrote the table")
    assert(rewritten.nonEmpty, "no file was rewritten — the update went nowhere")
    assert(rewritten.size < v1Files.size / 2,
      s"merge of 1 key rewrote ${rewritten.size}/${v1Files.size} files — not O(touched)")
    // and the data files themselves are immutable: v1 is still intact
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")) ==
      (1L to 400L).map(k => (k, "base", k)).toSet)
  }

  test("commit publish is atomic and conflicts fail loudly") {
    import spark.implicits._
    val p = freshPath("conflict")
    LakeTable.create(spark, p, Seq((1L, "a", 1L)).toDF("k", "s", "v"), Seq("k"))
    // two writers race to publish version 2: the winner commits, the
    // loser's hard-link publish hits the existing manifest and fails
    // loudly instead of last-wins-ing the winner's snapshot away
    val m1 = LakeTable.manifest(p, 1)
    LakeTable.commit(p, m1.copy(version = 2, op = "merge"))
    val err = intercept[IllegalStateException] {
      LakeTable.commit(p, m1.copy(version = 2, op = "merge"))
    }
    assert(err.getMessage.contains("conflict"))
    assert(LakeTable.latestVersion(p) == 2)
    // create() refuses to clobber an existing table
    intercept[IllegalArgumentException] {
      LakeTable.create(spark, p, Seq((1L, "a", 1L)).toDF("k", "s", "v"), Seq("k"))
    }
    // no temp files left behind in the log (the advisory `_latest` hint
    // and checkpoint sidecars are the only non-record residents)
    val logs = new java.io.File(s"$p/_log").listFiles.map(_.getName)
    assert(logs.forall(n => n.matches("(chk-)?v\\d{5}\\.json") || n == "_latest"),
      s"stray log files: ${logs.mkString(",")}")
    // a stale or missing hint never wins: probe-forward / listing
    // fallback both resolve the true latest
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$p/_log/_latest"), "1")
    assert(LakeTable.latestVersion(p) == 2, "stale hint leaked into resolution")
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$p/_log/_latest"))
    assert(LakeTable.latestVersion(p) == 2, "listing fallback broken")
  }

  test("as-of reads resolve any committed generation; missing versions fail loudly") {
    import spark.implicits._
    val p = freshPath("asof")
    LakeTable.create(spark, p, Seq((1L, "g1", 1L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((1L, "g2", 2L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((2L, "g3", 3L)).toDF("k", "s", "v"), Seq("k"))
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")) == Set((1L, "g1", 1L)))
    assert(rows(LakeTable.read(spark, p, Some(2)).select("k", "s", "v")) == Set((1L, "g2", 2L)))
    assert(rows(LakeTable.read(spark, p, Some(3)).select("k", "s", "v")) ==
      Set((1L, "g2", 2L), (2L, "g3", 3L)))
    intercept[IllegalArgumentException] { LakeTable.read(spark, p, Some(9)) }
  }

  test("delete is copy-on-write; vacuum turns it into erasure and expires history") {
    import spark.implicits._
    val p = freshPath("delete")
    val base = (1L to 400L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    val gone = Seq(Tuple1(5L), Tuple1(6L)).toDF("k")
    assert(LakeTable.delete(spark, p, gone, Seq("k")) == 2)
    // live state lost exactly the requested keys; v1 still has them
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      (1L to 400L).filterNot(k => k == 5L || k == 6L).map(k => (k, "base", k)).toSet)
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")) ==
      (1L to 400L).map(k => (k, "base", k)).toSet)
    // CoW: at most one file per deleted key rewrote; the rest carried
    val v1f = LakeTable.manifestFiles(p, 1).toSet
    val v2f = LakeTable.manifestFiles(p, 2).toSet
    assert(v1f.intersect(v2f).nonEmpty && v1f.diff(v2f).size <= 2,
      s"delete of 2 keys rewrote ${v1f.diff(v2f).size}/${v1f.size} files")
    // vacuum(keep 1): v1's manifest drops, its orphaned pre-delete file
    // is PHYSICALLY deleted (erasure), shared files survive
    val (droppedManifests, deletedFiles) = LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(droppedManifests == 1 && deletedFiles == v1f.diff(v2f).size)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")).size == 398)
    intercept[IllegalArgumentException] { LakeTable.read(spark, p, Some(1)) }
    v1f.diff(v2f).foreach(f => assert(!local(f).exists, s"orphan $f survived vacuum"))
    v2f.foreach(f => assert(local(f).exists, s"live file $f vacuumed"))
  }

  test("lake_delete_asof entry: erased keys readable as-of v2, gone from live v3") {
    val out = graft.operators.MergeOps.qLakeDeleteAsof(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val v2 = out.filter(_._1 == 2L)
    val v3 = out.filter(_._1 == 3L)
    val erased = v2.map(_._2).filter(_ % 53 == 0).toSet
    assert(erased.nonEmpty, "no erase traffic — gate vacuous")
    assert(v3.map(_._2).toSet.intersect(erased).isEmpty)
    assert(v2.count(_._3 == "U") > 0, "merge stage vacuous")
    assert(v2.length == v3.length + erased.size)
  }

  test("change feed classifies inserts, deletes, and updates; unchanged keys stay silent") {
    import spark.implicits._
    val p = freshPath("cdf")
    LakeTable.create(spark, p,
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.merge(spark, p,
      Seq((2L, "B", 2L), (4L, "d", 4L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.delete(spark, p, Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    val feed = LakeTable.changes(spark, p, 1, 3, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    assert(feed == Set(
      (2L, "update", Some("B"), Some(2L)),
      (3L, "delete", None, None),
      (4L, "insert", Some("d"), Some(4L))), s"got $feed")
    // a same-value re-merge is NOT a change
    LakeTable.merge(spark, p, Seq((1L, "a", 1L)).toDF("k", "s", "v"), Seq("k"))
    assert(LakeTable.changes(spark, p, 3, 4, Seq("k")).count() == 0)
  }

  test("compact shrinks the layout to target, preserves rows and history, vacuum reclaims") {
    import spark.implicits._
    val p = freshPath("compact")
    val base = (1L to 500L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 16)
    LakeTable.merge(spark, p, Seq((7L, "upd", 77L)).toDF("k", "s", "v"), Seq("k"))
    val preFiles = LakeTable.manifestFiles(p, 2)
    assert(preFiles.size > 8, s"fixture not fragmented: ${preFiles.size} files")
    assert(LakeTable.compact(spark, p, targetFiles = 4) == 3)
    assert(LakeTable.manifestFiles(p, 3).size <= 4)
    val expect = (1L to 500L).map(k =>
      if (k == 7L) (k, "upd", 77L) else (k, "base", k)).toSet
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect)
    // pre-compaction versions untouched
    assert(rows(LakeTable.read(spark, p, Some(2)).select("k", "s", "v")) == expect)
    assert(LakeTable.manifestFiles(p, 2) == preFiles)
    // vacuum reclaims every fragment: v1 ∪ v2 files all orphaned by the
    // full-rewrite compaction (deleted = |v1 ∪ v2| ≥ |v2|)
    val (dropped, deleted) = LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(dropped == 2 && deleted >= preFiles.size)
    preFiles.foreach(f => assert(!local(f).exists, s"fragment $f survived"))
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect)
  }

  test("schema evolution: new column unions in, old versions keep the original schema") {
    import spark.implicits._
    val p = freshPath("evolve")
    val base = (1L to 100L).map(k => (k, "base")).toDF("k", "s")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    val v1Files = LakeTable.manifestFiles(p, 1).toSet
    // the batch carries a NEW column `extra`
    LakeTable.merge(spark, p,
      Seq((7L, "upd", 77L), (200L, "ins", 200L)).toDF("k", "s", "extra"), Seq("k"))
    val latest = LakeTable.read(spark, p)
    assert(latest.columns.sorted.toSeq == Seq("extra", "k", "s"))
    val got = latest.collect()
      .map(r => (r.getLong(r.fieldIndex("k")), r.getString(r.fieldIndex("s")),
        if (r.isNullAt(r.fieldIndex("extra"))) None else Some(r.getLong(r.fieldIndex("extra")))))
      .toSet
    val expect = (1L to 100L).filterNot(_ == 7L).map(k => (k, "base", None)).toSet ++
      Set((7L, "upd", Some(77L)), (200L, "ins", Some(200L)))
    assert(got == expect)
    // untouched files carried by reference; as-of(v1) keeps the ORIGINAL schema
    assert(v1Files.intersect(LakeTable.manifestFiles(p, 2).toSet).nonEmpty)
    assert(LakeTable.read(spark, p, Some(1)).columns.sorted.toSeq == Seq("k", "s"))
    // the change feed speaks the TARGET schema across the evolving
    // commit (r14 — the former loud refusal upgraded to the Delta-CDF
    // column policy): the merged row is an update whose pre-image reads
    // null in the added column; survivors rewritten verbatim (extra
    // null on both sides) stay silent
    val feed = LakeTable.changes(spark, p, 1, 2, Seq("k"), includeBefore = true)
      .collect().map(r => (r.getLong(r.fieldIndex("k")),
        r.getString(r.fieldIndex("_change_type")),
        if (r.isNullAt(r.fieldIndex("extra"))) None else Some(r.getLong(r.fieldIndex("extra"))),
        if (r.isNullAt(r.fieldIndex("_before_extra"))) None
        else Some(r.getLong(r.fieldIndex("_before_extra"))))).toSet
    assert(feed == Set(
      (7L, "update", Some(77L), None),
      (200L, "insert", Some(200L), None)), s"got $feed")
  }

  test("change feed before-images enable exact retraction; MV entry matches direct agg") {
    import spark.implicits._
    val p = freshPath("preimage")
    LakeTable.create(spark, p,
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((2L, "B", 20L), (4L, "d", 4L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.delete(spark, p, Seq(Tuple1(3L)).toDF("k"), Seq("k"))
    val feed = LakeTable.changes(spark, p, 1, 3, Seq("k"), includeBefore = true)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), Option(r.getString(4)))).toSet
    // (key, type, after_s, before_s): inserts null-before, deletes null-after
    assert(feed == Set(
      (2L, "update", Some("B"), Some("b")),
      (3L, "delete", None, Some("c")),
      (4L, "insert", Some("d"), None)), s"got $feed")
    // the maintained aggregate equals the direct one on the shared table
    val maintained = graft.operators.MergeOps.qLakeIncrementalMv(spark, SfDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val direct = LakeTable.read(spark,
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
        s"graft_lakedel_${graft.SessionCache.dirKey(SfDir)}").toString, Some(3))
      .groupBy("o_orderstatus").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(maintained == direct)
    assert(maintained.exists(_._1 == "U"), "merge class absent — maintenance vacuous")
  }

  test("change feed is O(delta): carried-by-reference files are never opened by the diff") {
    import spark.implicits._
    val p = freshPath("odelta")
    val base = (1L to 400L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    LakeTable.merge(spark, p, Seq((5L, "upd", 55L), (401L, "ins", 4010L)).toDF("k", "s", "v"), Seq("k"))
    val carried = LakeTable.manifestFiles(p, 1).toSet
      .intersect(LakeTable.manifestFiles(p, 2).toSet)
    assert(carried.size >= 5, s"fixture not file-granular: ${carried.size} carried")
    // physically corrupt every carried file: a diff that regressed to
    // snapshot scans would open one and die; the manifest diff reads
    // only churned files and never notices
    carried.foreach { f =>
      java.nio.file.Files.write(local(f).toPath, Array[Byte](0, 1, 2, 3))
    }
    val feed = LakeTable.changes(spark, p, 1, 2, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((5L, "update"), (401L, "insert")), s"got $feed")
  }

  test("stats pruning: a range scan opens only files whose min/max intersect") {
    import spark.implicits._
    val p = freshPath("prune")
    val base = (1L to 1000L).map(k => (k, s"s$k", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 10, layout = "range")
    val (kept, total) = LakeTable.prunedEntries(p, 1, "k", 101L, 150L)
    assert(total == 10, s"want 10 range files, got $total")
    assert(kept.size <= 2, s"50/1000 keys should prune to <=2/10 files, kept ${kept.size}")
    val got = LakeTable.scan(spark, p, "k", 101L, 150L).select("k", "s", "v")
    assert(rows(got) == (101L to 150L).map(k => (k, s"s$k", k)).toSet)
    // stats survive a CoW merge: the rewritten file gets fresh footer
    // stats and the scan stays correct
    LakeTable.merge(spark, p, Seq((120L, "UPD", 0L)).toDF("k", "s", "v"), Seq("k"))
    val got2 = rows(LakeTable.scan(spark, p, "k", 101L, 150L).select("k", "s", "v"))
    assert(got2.contains((120L, "UPD", 0L)) && got2.size == 50)
    // hash layout spreads every range across every file: nothing prunes,
    // nothing breaks (safety of stats-less / wide-stats files)
    val ph = freshPath("prune_hash")
    LakeTable.create(spark, ph, base, Seq("k"), nBuckets = 10)
    assert(rows(LakeTable.scan(spark, ph, "k", 101L, 150L).select("k", "s", "v"))
      == (101L to 150L).map(k => (k, s"s$k", k)).toSet)
  }

  test("string stats prune in unsigned UTF-8 order, not UTF-16 code-unit order") {
    import spark.implicits._
    // U+E000 (UTF-8 EE 80 80) sorts BELOW U+10000 (UTF-8 F0 90 80 80)
    // in byte order, but its UTF-16 code unit (E000) sorts ABOVE the
    // surrogate pair's lead (D800): a Java-String comparison would see
    // the file's max as U+E000 and wrongly prune the interval below
    val low = ""
    val high = new String(Character.toChars(0x10000))
    val p = freshPath("prune_utf8")
    LakeTable.create(spark, p, Seq((low, 1L), (high, 2L)).toDF("s", "v"),
      Seq("s"), nBuckets = 1)
    // interval strictly between the two values in UTF-8 order, extended
    // to include the supplementary-plane row
    val (kept, total) = LakeTable.prunedEntries(p, 1, "s", "", high)
    assert(total == 1 && kept.size == 1,
      s"file holding U+10000 wrongly pruned (kept ${kept.size}/$total)")
    val got = LakeTable.scan(spark, p, "s", "", high).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set((high, 2L)), s"got $got")
  }

  test("zorder layout: a 2-D box prunes on BOTH dimensions; range layout can't serve the trailing one") {
    import spark.implicits._
    val grid = (for (a <- 0L until 100L; b <- 0L until 100L) yield (a, b, a * 1000 + b))
      .toDF("a", "b", "v")
    val pz = freshPath("zorder")
    LakeTable.create(spark, pz, grid, Seq("a", "b"), nBuckets = 16, layout = "zorder")
    val box = Seq[(String, Any, Any)](("a", 10L, 19L), ("b", 10L, 19L))
    val (keptZ, totalZ) = LakeTable.prunedEntriesBox(pz, 1, box)
    assert(totalZ == 16 && keptZ.size <= 8,
      s"1% 2-D box should prune most Morton files, kept ${keptZ.size}/$totalZ")
    val got = LakeTable.scanBox(spark, pz, box).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expect = (for (a <- 10L to 19L; b <- 10L to 19L) yield (a, b, a * 1000 + b)).toSet
    assert(got == expect)
    // the contrast: a lexicographic range layout clusters only the
    // leading column — a trailing-column slab intersects EVERY file,
    // while the Morton layout still prunes some
    val pr = freshPath("zorder_range")
    LakeTable.create(spark, pr, grid, Seq("a", "b"), nBuckets = 16, layout = "range")
    val bOnly = Seq[(String, Any, Any)](("b", 10L, 19L))
    val (keptR, _) = LakeTable.prunedEntriesBox(pr, 1, bOnly)
    val (keptZb, _) = LakeTable.prunedEntriesBox(pz, 1, bOnly)
    assert(keptZb.size < keptR.size,
      s"Morton should beat lexicographic on the trailing dimension " +
        s"(${keptZb.size} vs ${keptR.size} files kept)")
  }

  test("stats pruning on a DATE key: time-range scan prunes on footer day stats") {
    import spark.implicits._
    val p = freshPath("prune_date")
    val base = (0 until 365).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i)), i.toLong)
    }.toDF("day", "v")
    LakeTable.create(spark, p, base, Seq("day"), nBuckets = 12, layout = "range")
    val lo = java.sql.Date.valueOf("2025-06-01")
    val hi = java.sql.Date.valueOf("2025-06-30")
    val (kept, total) = LakeTable.prunedEntries(p, 1, "day", lo, hi)
    assert(total == 12 && kept.size <= 2,
      s"a 30/365-day interval should prune to <=2/12 range files, kept ${kept.size}/$total")
    val got = LakeTable.scan(spark, p, "day", lo, hi).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1))).toSet
    val expect = (0 until 365).map(i =>
        (java.time.LocalDate.of(2025, 1, 1).plusDays(i), i.toLong))
      .filter { case (d, _) => !d.isBefore(lo.toLocalDate) && !d.isAfter(hi.toLocalDate) }
      .map { case (d, v) => (d.toString, v) }.toSet
    assert(got == expect)
  }

  test("deleteDV on a table whose key is not its first column reads back in manifest order") {
    import spark.implicits._
    val p = freshPath("dv_order")
    // the merge identity is the LAST column: an equality sidecar's USING
    // anti-join would move it first
    LakeTable.create(spark, p,
      (1L to 40L).map(k => ("base", k * 10, k)).toDF("s", "v", "k"), Seq("k"), nBuckets = 4)
    LakeTable.deleteDV(spark, p, Seq(3L, 17L).toDF("k"), Seq("k"))
    val m = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(m.dvPaths.nonEmpty)
    val df = LakeTable.read(spark, p)
    assert(df.columns.toSeq == m.schema.fieldNames.toSeq,
      s"read columns ${df.columns.mkString(", ")} != manifest ${m.schema.fieldNames.mkString(", ")}")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (1L to 40L).filterNot(Set(3L, 17L)).map(k => ("base", k * 10, k)).toSet)
  }

  test("deleteDV: scattered erasure rewrites NO data file; compact materializes; vacuum reclaims") {
    import spark.implicits._
    val p = freshPath("dv")
    val base = (1L to 400L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    // keys scattered across every hash bucket — the CoW worst case
    val erased = (1L to 400L).filter(_ % 50 == 3)
    LakeTable.deleteDV(spark, p, erased.map(Tuple1(_)).toDF("k"), Seq("k"))
    // zero data files rewritten: the file SET is identical, only
    // sidecar references changed (the churn record re-adds flipped
    // entries at the end, so compare as sets, not sequences)
    assert(LakeTable.manifestFiles(p, 2).toSet == LakeTable.manifestFiles(p, 1).toSet)
    assert(LakeTable.manifestFiles(p, 2).size == LakeTable.manifestFiles(p, 1).size)
    assert(LakeTable.manifest(p, 2).dvPaths.size == 1)
    val expect2 = (1L to 400L).filterNot(erased.contains).map(k => (k, "base", k)).toSet
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect2)
    // time travel still sees the erased rows
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")).size == 400)
    // the change feed sees the DV commit as deletes, O(delta)
    val feed = LakeTable.changes(spark, p, 1, 2, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == erased.map(k => (k, "delete")).toSet, s"got $feed")
    // a merge can re-insert a DV-deleted key (and must not resurrect others)
    LakeTable.merge(spark, p, Seq((3L, "back", 33L)).toDF("k", "s", "v"), Seq("k"))
    val got3 = rows(LakeTable.read(spark, p).select("k", "s", "v"))
    assert(got3 == expect2 + ((3L, "back", 33L)))
    // compact materializes the sidecars away: no dvs, same rows
    LakeTable.compact(spark, p, targetFiles = 4)
    assert(LakeTable.manifest(p, 4).dvPaths.isEmpty)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == got3)
    // vacuum reclaims the sidecar parquet along with orphaned data files
    val dvLeaf = new java.io.File(LakeTable.manifest(p, 2).dvPaths.head)
    assert(dvLeaf.exists)
    LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(Option(dvLeaf.listFiles).getOrElse(Array.empty)
      .forall(f => !f.getName.endsWith(".parquet")), "dv sidecar survived vacuum")
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == got3)
  }

  test("deletePos: positional bitmaps rewrite NO data file; V2 ordinal probe; coexist with equality DVs; compact heals") {
    import spark.implicits._
    val p = freshPath("dvpos")
    val base = (1L to 400L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 8)
    val erased = (1L to 400L).filter(_ % 50 == 3)
    LakeTable.deletePos(spark, p, erased.map(Tuple1(_)).toDF("k"), Seq("k"))
    // ZERO data-file rewrite: the file list is bit-identical, only
    // positional sidecar references changed (the lake_delete_pos gate)
    assert(LakeTable.manifestFiles(p, 2).toSet == LakeTable.manifestFiles(p, 1).toSet)
    assert(LakeTable.manifest(p, 2).posDvPaths.size == 1)
    assert(LakeTable.manifest(p, 2).dvPaths.isEmpty)
    val expect2 = (1L to 400L).filterNot(erased.contains).map(k => (k, "base", k)).toSet
    // V1 read path (ordinal anti-join on (_metadata.file_path, row_index))
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect2)
    // V2 read path (composite reader's executor-side long-set probe)
    assert(rows(spark.read.format("graftlake").load(p).select("k", "s", "v")) == expect2)
    // time travel still sees the erased rows; the feed is O(delta) deletes
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")).size == 400)
    val feed = LakeTable.changes(spark, p, 1, 2, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == erased.map(k => (k, "delete")).toSet, s"got $feed")
    // a merge re-inserts a position-deleted key into a NEW file — the
    // old file's sidecar pins ordinals of the OLD file only, so the
    // fresh row is untouched by construction
    LakeTable.merge(spark, p, Seq((3L, "back", 33L)).toDF("k", "s", "v"), Seq("k"))
    val got3 = rows(LakeTable.read(spark, p).select("k", "s", "v"))
    assert(got3 == expect2 + ((3L, "back", 33L)))
    // COEXISTENCE: an equality DV lands on top of the positional state
    // (different keys) — both sidecar families apply on one snapshot
    LakeTable.deleteDV(spark, p, Seq(Tuple1(100L)).toDF("k"), Seq("k"))
    val got4 = got3.filterNot(_._1 == 100L)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == got4)
    assert(rows(spark.read.format("graftlake").load(p).select("k", "s", "v")) == got4)
    // compact materializes BOTH sidecar families away: clean manifest,
    // same rows
    LakeTable.compact(spark, p, targetFiles = 4)
    val mc = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(mc.posDvPaths.isEmpty && mc.dvPaths.isEmpty)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == got4)
    // vacuum reclaims the positional sidecar parquet
    val posLeaf = local(LakeTable.manifest(p, 2).posDvPaths.head)
    assert(posLeaf.exists)
    LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(Option(posLeaf.listFiles).getOrElse(Array.empty)
      .forall(f => !f.getName.endsWith(".parquet")), "pos sidecar survived vacuum")
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == got4)
  }

  test("deletePosWhere: predicate-only positional delete; NULL predicate rows survive") {
    import spark.implicits._
    val p = freshPath("dvposw")
    // v nullable: NULL rows make the predicate three-valued
    val base = (1L to 50L).map(k =>
      (k, if (k % 10 == 0) "flag" else "keep",
        if (k % 7 == 0) null else java.lang.Long.valueOf(k))).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"))
    // predicate touches a NON-key column and is NULL where v is NULL:
    // only definitively-true rows are doomed (v > 25 AND s = 'flag')
    LakeTable.deletePosWhere(spark, p, col("v") > 25L && col("s") === "flag")
    assert(LakeTable.manifestFiles(p, 2).toSet == LakeTable.manifestFiles(p, 1).toSet)
    val got = LakeTable.read(spark, p).select("k").as[Long].collect().toSet
    val doomed = (1L to 50L).filter(k => k % 10 == 0 && k % 7 != 0 && k > 25)
    assert(got == (1L to 50L).toSet -- doomed, s"doomed=$doomed got=$got")
    // V2 parity
    assert(spark.read.format("graftlake").load(p).select("k").as[Long]
      .collect().toSet == got)
  }

  test("positional deletes of already-deleted rows count once: repeated deletePos, overlapping deletePosWhere") {
    import spark.implicits._
    val p = freshPath("dvposagain")
    LakeTable.create(spark, p, (1L to 100L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      nBuckets = 4)
    // the API count, the rows it collects and the graftlake source's
    // count (metadata-only: rows - posDel) must agree
    def counts(): Seq[Long] = Seq(LakeTable.read(spark, p).count(),
      LakeTable.read(spark, p).collect().length.toLong,
      spark.read.format("graftlake").load(p).count())
    LakeTable.deletePos(spark, p, Seq(5L).toDF("k"), Seq("k"))
    LakeTable.deletePos(spark, p, Seq(5L).toDF("k"), Seq("k"))
    assert(counts() == Seq(99L, 99L, 99L))
    LakeTable.deletePosWhere(spark, p, col("v") <= 20L)
    LakeTable.deletePosWhere(spark, p, col("v") <= 30L)
    assert(counts() == Seq(70L, 70L, 70L))
    val m = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(m.files.map(_.posDel).sum == 30L)
    assert(LakeTable.read(spark, p).select("k").as[Long].collect().toSet == (31L to 100L).toSet)
  }

  test("bloom index: no false negative on any value; lifecycle declare->write->backfill; rename refusal") {
    import spark.implicits._
    val p = freshPath("bloomidx")
    // secondary unique id scattered by the hash layout: min/max cannot
    // prune it, blooms must — and must NEVER skip a file holding a match
    val base = (1L to 2000L).map(k => (k, s"u$k", "base")).toDF("k", "uid", "s")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 16, indexCols = Seq("uid"))
    assert(LakeTable.manifest(p, 1).files.forall(_.blooms.contains("uid")))
    // NO FALSE NEGATIVE: every one of the 2000 ids must be found via the
    // bloom-pruned V2 read (one query with all ids — each present id
    // must keep its holder file)
    val allHit = spark.read.format("graftlake").load(p)
      .filter(col("uid").isin((1L to 2000L).map(k => s"u$k"): _*))
      .count()
    assert(allHit == 2000L, s"bloom false negative: only $allHit of 2000 ids found")
    // a point lookup prunes: one id lives in exactly one file (+ rare fp)
    val one = spark.read.format("graftlake").load(p)
      .filter(col("uid") === "u137").select("k").as[Long].collect().toSeq
    assert(one == Seq(137L))
    val (kept, total) = graft.sources.GraftLakeSource.lastPrune(p)
    assert(total == 16 && kept <= 4, s"expected bloom skip, kept $kept/$total")
    // LIFECYCLE on an undeclared table: setIndexColumns is header-only
    // (old files bloom-less and never pruned), a merge's new files
    // collect bits, compact BACKFILLS the whole table
    val p2 = freshPath("bloomidx2")
    LakeTable.create(spark, p2, base, Seq("k"), nBuckets = 8)
    LakeTable.setIndexColumns(p2, Seq("uid"))
    assert(LakeTable.manifestFiles(p2, 2) == LakeTable.manifestFiles(p2, 1),
      "set-index must be a header-only commit")
    assert(LakeTable.manifest(p2, 2).files.forall(_.blooms.isEmpty))
    LakeTable.merge(spark, p2, Seq((3000L, "u3000", "ins")).toDF("k", "uid", "s"), Seq("k"))
    val m3 = LakeTable.manifest(p2, 3)
    assert(m3.files.exists(_.blooms.contains("uid")), "merge must collect blooms")
    assert(m3.files.exists(_.blooms.isEmpty), "untouched files stay bloom-less")
    // undeclared-column reads stay correct while only SOME files carry bits
    assert(spark.read.format("graftlake").load(p2)
      .filter(col("uid") === "u3000").count() == 1L)
    LakeTable.compact(spark, p2, targetFiles = 4)
    val mc = LakeTable.manifest(p2, LakeTable.latestVersion(p2))
    assert(mc.indexCols == Seq("uid") && mc.files.forall(_.blooms.contains("uid")),
      "compact must backfill blooms for the declared index")
    // rename of an INDEXED column refuses loudly (bits are keyed by its
    // physical name); partition/index declaration checks refuse too
    val e = intercept[IllegalArgumentException](
      LakeTable.renameColumn(p2, "uid", "uid2"))
    assert(e.getMessage.contains("INDEXED"))
    // partition evolution onto an INDEXED column refuses too (review
    // r18 #4): blooms are skipped for partition columns, so the
    // declaration would go silently stale while still advertised
    val ep = intercept[IllegalArgumentException](
      LakeTable.evolvePartitioning(p2, Seq("uid")))
    assert(ep.getMessage.contains("INDEXED"))
    // TBLPROPERTIES + CALL surface
    spark.sql("SET spark.sql.catalog.graft_bx=graft.sources.GraftLakeCatalog")
    spark.sql(s"SET spark.sql.catalog.graft_bx.warehouse=${new java.io.File(p2).getParent}")
    val tbl = new java.io.File(p2).getName
    val props = spark.sql(s"SHOW TBLPROPERTIES graft_bx.`$tbl`").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("index_columns").contains("uid"))
    val v = spark.sql(
      s"CALL graft_bx.system.set_index_columns('$tbl', 'uid,s')").head().getInt(0)
    assert(LakeTable.manifest(p2, v).indexCols == Seq("uid", "s"))
  }

  test("vacuum safety rail: young versions refuse to expire; dry run previews and touches nothing") {
    import spark.implicits._
    val p = freshPath("vacguard")
    LakeTable.create(spark, p, (1L to 50L).map(k => (k, k)).toDF("k", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((1L, 100L)).toDF("k", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((2L, 200L)).toDF("k", "v"), Seq("k"))
    // the guard: versions committed seconds ago are inside the default
    // retention horizon — expiring them would strand as-of readers
    val e = intercept[IllegalArgumentException](LakeTable.vacuum(p, keepLast = 1))
    assert(e.getMessage.contains("retention horizon") && e.getMessage.contains("force"))
    // nothing was deleted by the refusal
    assert(LakeTable.history(p).size == 3)
    // DRY RUN is exempt (it deletes nothing): reports what WOULD drop
    val (wouldDrop, wouldDelete) = LakeTable.vacuum(p, keepLast = 1, dryRun = true)
    assert(wouldDrop == 2 && wouldDelete > 0, s"preview: $wouldDrop/$wouldDelete")
    assert(LakeTable.history(p).size == 3, "dry run must touch nothing")
    assert(LakeTable.read(spark, p, Some(1)).count() == 50, "v1 must still read")
    // force overrides — the real deletion matches the preview
    val (dropped, deleted) = LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(dropped == wouldDrop && deleted == wouldDelete,
      s"preview promised $wouldDrop/$wouldDelete, force did $dropped/$deleted")
    assert(LakeTable.history(p).size == 1)
    // a shrunken horizon also admits the vacuum (the tunable rail)
    val p2 = freshPath("vacguard2")
    LakeTable.create(spark, p2, (1L to 10L).map(k => (k, k)).toDF("k", "v"), Seq("k"))
    LakeTable.merge(spark, p2, Seq((1L, 1L)).toDF("k", "v"), Seq("k"))
    val (d2, _) = LakeTable.vacuum(p2, keepLast = 1, minRetainMs = 0L)
    assert(d2 == 1)
  }

  test("optimistic concurrency: disjoint racing writers both land; overlapping fails loudly") {
    import spark.implicits._
    val p = freshPath("occ")
    LakeTable.create(spark, p,
      (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v"), Seq("k"))
    // writer B lands v2 in A's read-to-commit window (deterministic via
    // the test interleave hook); A's publish conflicts, classifies B's
    // churn as DISJOINT via the O(delta) feed, rebases, and lands v3
    var fired = false
    LakeTable.testInterleave = () => if (!fired) {
      fired = true
      LakeTable.merge(spark, p,
        (200L to 210L).map(k => (k, "B", k)).toDF("k", "s", "v"), Seq("k"))
      ()
    }
    try {
      val v = LakeTable.merge(spark, p,
        (50L to 60L).map(k => (k, "A", k)).toDF("k", "s", "v"), Seq("k"))
      assert(v == 3, s"rebased writer should land as v3, got v$v")
    } finally LakeTable.testInterleave = () => ()
    val got = rows(LakeTable.read(spark, p).select("k", "s", "v"))
    assert((200L to 210L).forall(k => got.contains((k, "B", k))), "winner's rows lost")
    assert((50L to 60L).forall(k => got.contains((k, "A", k))), "rebased writer's rows lost")
    assert(got.size == 111)
    // overlapping keys: the loser must NOT silently decide latest-wins
    // order for a key both writers touched
    var fired2 = false
    LakeTable.testInterleave = () => if (!fired2) {
      fired2 = true
      LakeTable.merge(spark, p, Seq((70L, "C", 1L)).toDF("k", "s", "v"), Seq("k"))
      ()
    }
    try {
      intercept[java.util.ConcurrentModificationException] {
        LakeTable.merge(spark, p, Seq((70L, "D", 2L)).toDF("k", "s", "v"), Seq("k"))
      }
    } finally LakeTable.testInterleave = () => ()
    // the winner's commit stands
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")).contains((70L, "C", 1L)))
  }

  test("delete rides the merge kernel's OCC: a disjoint competitor rebases, an overlapping one throws") {
    import spark.implicits._
    val p = freshPath("occ_delete")
    LakeTable.create(spark, p,
      (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v"), Seq("k"))
    // a competing merge lands inside the delete's read-to-commit window
    def racing(competitor: org.apache.spark.sql.DataFrame)(body: => Unit): Unit = {
      var fired = false
      LakeTable.testInterleave = () => if (!fired) {
        fired = true
        LakeTable.merge(spark, p, competitor, Seq("k"))
        ()
      }
      try body finally LakeTable.testInterleave = () => ()
      assert(fired, "the competing commit never landed inside the delete")
    }
    racing(Seq((200L, "B", 200L)).toDF("k", "s", "v")) {
      assert(LakeTable.delete(spark, p, Seq(5L).toDF("k"), Seq("k")) == 3,
        "the rebased delete should land as v3")
    }
    val afterDisjoint = (1L to 100L).filterNot(_ == 5L).map(k => (k, "base", k)).toSet +
      ((200L, "B", 200L))
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == afterDisjoint)
    racing(Seq((70L, "C", 1L)).toDF("k", "s", "v")) {
      intercept[java.util.ConcurrentModificationException] {
        LakeTable.delete(spark, p, Seq(70L).toDF("k"), Seq("k"))
      }
    }
    // the winner's commit stands; the refused delete committed nothing
    assert(LakeTable.latestVersion(p) == 4)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      afterDisjoint - ((70L, "base", 70L)) + ((70L, "C", 1L)))
  }

  test("table services write a fresh directory: a file under data/<op>-v<next> is left alone") {
    import spark.implicits._
    val base = (1L to 60L).map(k => (k, if (k % 2 == 0) "a" else "b", k * 10)).toDF("k", "seg", "v")
    val services: Seq[(String, Seq[String], String => Int)] = Seq(
      ("zorder", Nil, p => LakeTable.rezorder(spark, p, Seq("k", "v"), targetFiles = 2)),
      ("recluster", Nil, p => LakeTable.recluster(spark, p, 2)),
      ("compact", Nil, p => LakeTable.compact(spark, p, 2)),
      ("compactw", Seq("seg"), p => LakeTable.compactWhere(spark, p, Map("seg" -> "a"), 2)))
    services.foreach { case (op, parts, run) =>
      val p = freshPath(s"fresh_dir_$op")
      LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4, partitionBy = parts)
      // another writer's batch for the same next version, never committed
      val planted = new java.io.File(s"$p/data/$op-v${LakeTable.latestVersion(p) + 1}")
      Seq((999L, "a", 9L)).toDF("k", "seg", "v").write.parquet(planted.getPath)
      val plantedFiles = planted.listFiles().filter(_.getName.endsWith(".parquet")).toSeq
      assert(plantedFiles.nonEmpty)
      run(p)
      plantedFiles.foreach(f => assert(f.exists, s"$op deleted another writer's file $f"))
      val got = LakeTable.read(spark, p).select("k", "seg", "v").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(got == base.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet,
        s"$op changed the table's rows")
    }
  }

  test("delete after a schema-evolving merge keeps the evolved column (ADVICE r13)") {
    import spark.implicits._
    val p = freshPath("del_evolve")
    LakeTable.create(spark, p, (1L to 100L).map(k => (k, "base")).toDF("k", "s"),
      Seq("k"), nBuckets = 8)
    LakeTable.merge(spark, p,
      Seq((7L, "upd", 77L), (8L, "upd", 88L)).toDF("k", "s", "extra"), Seq("k"))
    // the delete touches the rewrite file holding BOTH evolved rows;
    // survivors must keep `extra` (manifest-schema read, not
    // footer-inferred from whichever heterogeneous file lists first)
    LakeTable.delete(spark, p, Seq(Tuple1(7L)).toDF("k"), Seq("k"))
    val live = LakeTable.read(spark, p)
    assert(live.columns.sorted.toSeq == Seq("extra", "k", "s"))
    val r8 = live.filter(col("k") === 8L).collect()
    assert(r8.length == 1 && r8.head.getLong(r8.head.fieldIndex("extra")) == 88L,
      "evolved column lost through the delete rewrite")
    assert(live.count() == 99)
  }

  test("key-only table: change feed classifies inserts/deletes without update predicate") {
    import spark.implicits._
    val p = freshPath("keyonly")
    LakeTable.create(spark, p, Seq(1L, 2L, 3L).toDF("k"), Seq("k"))
    LakeTable.merge(spark, p, Seq(3L, 4L).toDF("k"), Seq("k"))
    LakeTable.delete(spark, p, Seq(Tuple1(2L)).toDF("k"), Seq("k"))
    val feed = LakeTable.changes(spark, p, 1, 3, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "delete"), (4L, "insert")), s"got $feed")
  }

  test("shallow clone: zero-copy branch, independent evolution, compact cuts the dependency") {
    import spark.implicits._
    val src = freshPath("clone_src")
    val dst = freshPath("clone_dst")
    val base = (1L to 200L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, src, base, Seq("k"), nBuckets = 8)
    LakeTable.shallowClone(spark, src, dst)
    // zero copy: the clone's manifest points at the SOURCE's files and
    // nothing landed under the clone's own data dir
    assert(LakeTable.manifestFiles(dst, 1) == LakeTable.manifestFiles(src, 1))
    assert(!new java.io.File(s"$dst/data").exists)
    // independent evolution: the clone's merge rewrites into ITS dir,
    // the source stays at v1 bit-unchanged
    LakeTable.merge(spark, dst, Seq((5L, "upd", 55L)).toDF("k", "s", "v"), Seq("k"))
    assert(LakeTable.latestVersion(src) == 1)
    assert(rows(LakeTable.read(spark, src).select("k", "s", "v")) ==
      (1L to 200L).map(k => (k, "base", k)).toSet)
    val got = rows(LakeTable.read(spark, dst).select("k", "s", "v"))
    assert(got == (1L to 200L).filterNot(_ == 5L).map(k => (k, "base", k)).toSet
      + ((5L, "upd", 55L)))
    // a second clone cannot clobber an existing table
    intercept[IllegalArgumentException] { LakeTable.shallowClone(spark, src, dst) }
    // the vacuum caveat, and its documented cure: compact the clone
    // (every row lands in the clone's own files), then destroying the
    // source leaves the clone fully readable
    LakeTable.compact(spark, dst, targetFiles = 4)
    LakeTable.deleteRecursively(new java.io.File(src))
    assert(rows(LakeTable.read(spark, dst).select("k", "s", "v")) == got)
  }

  test("restore re-references a past state as a forward commit; history records the ops") {
    import spark.implicits._
    val p = freshPath("restore")
    val base = (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"))
    Thread.sleep(15)
    LakeTable.merge(spark, p, Seq((7L, "bad", 0L)).toDF("k", "s", "v"), Seq("k"))
    Thread.sleep(15)
    LakeTable.restore(spark, p, 1)
    // restore is zero data I/O: v3's file list IS v1's
    assert(LakeTable.manifestFiles(p, 3) == LakeTable.manifestFiles(p, 1))
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      (1L to 100L).map(k => (k, "base", k)).toSet)
    // the bad interval stays auditable until vacuum
    assert(rows(LakeTable.read(spark, p, Some(2)).select("k", "s", "v"))
      .contains((7L, "bad", 0L)))
    assert(LakeTable.history(p).map(h => (h._1, h._2)) ==
      Seq((1, "create"), (2, "merge"), (3, "restore-v1")))
    // timestamp travel: the newest version committed at or before t
    assert(LakeTable.versionAsOf(p, System.currentTimeMillis()) == 3)
    assert(LakeTable.versionAsOf(p, LakeTable.commitTimestamp(p, 1)) == 1)
    assert(LakeTable.versionAsOf(p, LakeTable.commitTimestamp(p, 2)) == 2)
    intercept[IllegalArgumentException] {
      LakeTable.versionAsOf(p, LakeTable.commitTimestamp(p, 1) - 10000)
    }
  }

  test("graftlake SQL source: pinned snapshot, pushdown prunes manifest files, DVs apply") {
    import spark.implicits._
    import graft.sources.GraftLakeSource
    val p = freshPath("sqlsource")
    val base = (1L to 1000L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 10, layout = "range")
    Thread.sleep(15)
    LakeTable.deleteDV(spark, p, Seq(Tuple1(150L)).toDF("k"), Seq("k"))
    // latest resolution sees v2; the DV applies through the SQL path
    spark.read.format("graftlake").load(p).createOrReplaceTempView("lt")
    val q = spark.sql("SELECT k, s, v FROM lt WHERE k BETWEEN 101 AND 200 ORDER BY k")
    val got = q.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == (101L to 200L).filterNot(_ == 150L).map(k => (k, "base", k)).toSet)
    // the scan is DataSource V2: a columnar BatchScan, never the V1
    // RDD[Row] conversion (VERDICT r14 missing #2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"lake SQL read is not a V2 BatchScan:\n$plan")
    assert(!plan.contains("Scan ExistingRDD"), s"V1 RDD conversion leaked back:\n$plan")
    // the range predicate pruned the manifest (10 range files, a 10% slice)
    val (kept, total) = GraftLakeSource.lastPrune(p)
    assert(total == 10 && kept <= 2, s"pushdown pruning missing: kept $kept/$total")
    // column pruning reaches the scan: a single-column projection works
    assert(spark.sql("SELECT count(s) FROM lt WHERE k > 900").head().getLong(0) == 100)
    // versionAsOf pins the pre-DV snapshot
    val v1 = spark.read.format("graftlake").option("versionAsOf", "1").load(p)
    assert(v1.filter(col("k") === 150L).count() == 1)
    // a DV-free snapshot's plan is the PURE vectorized parquet scan —
    // columnar batches end-to-end (no DV wrapper in the way)
    val v1plan = v1.filter(col("k") <= 100L).queryExecution.executedPlan.toString
    assert(v1plan.contains("BatchScan"), s"versionAsOf read is not V2:\n$v1plan")
    assert(v1plan.contains("ColumnarToRow"), s"V2 scan not columnar:\n$v1plan")
    // timestampAsOf resolves through commit mtimes
    val t1 = LakeTable.commitTimestamp(p, 1)
    val byTs = spark.read.format("graftlake").option("timestampAsOf", t1.toString).load(p)
    assert(byTs.count() == 1000)
    // loud errors: missing path, conflicting travel options
    intercept[IllegalArgumentException] {
      spark.read.format("graftlake").options(Map.empty[String, String])
        .load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graftlake").option("versionAsOf", "1")
        .option("timestampAsOf", "0").load(p)
    }
  }

  test("graftlake write path: overwrite creates, append is a keyed MERGE, modes behave") {
    import spark.implicits._
    val p = freshPath("sqlwrite")
    val base = (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v")
    base.write.format("graftlake").option("keys", "k").mode("overwrite").save(p)
    assert(LakeTable.latestVersion(p) == 1)
    // append = transactional latest-wins upsert, not a blind file add
    Seq((7L, "upd", 77L), (200L, "ins", 2000L)).toDF("k", "s", "v")
      .write.format("graftlake").option("keys", "k").mode("append").save(p)
    assert(LakeTable.latestVersion(p) == 2)
    val got = rows(spark.read.format("graftlake").load(p).select("k", "s", "v"))
    assert(got == (1L to 100L).filterNot(_ == 7L).map(k => (k, "base", k)).toSet
      ++ Set((7L, "upd", 77L), (200L, "ins", 2000L)))
    // errorIfExists refuses; ignore no-ops; keys option is mandatory
    intercept[IllegalArgumentException] {
      base.write.format("graftlake").option("keys", "k").mode("errorifexists").save(p)
    }
    base.write.format("graftlake").option("keys", "k").mode("ignore").save(p)
    assert(LakeTable.latestVersion(p) == 2)
    intercept[IllegalArgumentException] {
      base.write.format("graftlake").mode("overwrite").save(freshPath("sqlwrite2"))
    }
    // appending with the WRONG identity is refused, never silently
    // merged on a different key (code-review r14 F5)
    val e = intercept[IllegalArgumentException] {
      Seq((1L, "x", 1L)).toDF("k", "s", "v")
        .write.format("graftlake").option("keys", "s").mode("append").save(p)
    }
    assert(e.getMessage.contains("merge identity"))
    // overwrite is a FORWARD commit: pinned readers and history survive
    // (code-review r14 F3 — a delete-and-recreate would yank files from
    // under the pinned frame)
    val pinned = LakeTable.read(spark, p, Some(2))
    Seq((999L, "new", 9L)).toDF("k", "s", "v")
      .write.format("graftlake").option("keys", "k").mode("overwrite").save(p)
    assert(LakeTable.latestVersion(p) == 3)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == Set((999L, "new", 9L)))
    assert(pinned.count() == 101, "overwrite destroyed the pinned reader's files")
    assert(LakeTable.history(p).last._2 == "overwrite")
  }

  test("zorder layout survives high-offset narrow key ranges (no long-mul overflow, min shift)") {
    import spark.implicits._
    val p = freshPath("zorder_hi")
    // ids around 1e9 in a 1000-wide band: the unshifted value*w scaling
    // collapsed every row into one z-bucket (one file); timestamps-micros
    // magnitudes overflowed the multiply outright
    val hi = (0L until 1000L).map(i => (1000000000L + i, 4000000000000000L + i * 1000, i))
      .toDF("a", "b", "v")
    LakeTable.create(spark, p, hi, Seq("a", "b"), nBuckets = 8, layout = "zorder")
    assert(LakeTable.manifestFiles(p, 1).size == 8,
      s"zorder collapsed to ${LakeTable.manifestFiles(p, 1).size} files")
    val box = Seq[(String, Any, Any)](
      ("a", 1000000100L, 1000000199L), ("b", 4000000000000000L, 4000000001000000L))
    val (kept, total) = LakeTable.prunedEntriesBox(p, 1, box)
    assert(kept.size < total, "no pruning on the shifted/bucketized layout")
    val got = LakeTable.scanBox(spark, p, box).collect().map(_.getLong(2)).toSet
    assert(got == (100L to 199L).toSet)
  }

  test("graftlake streaming source and sink: commits stream as CDC batches; batches commit as versions") {
    import spark.implicits._
    // ---- source: readStream over the manifest log ----
    val p = freshPath("streamsrc")
    LakeTable.create(spark, p,
      (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.merge(spark, p, Seq((7L, "upd", 77L), (200L, "ins", 2000L)).toDF("k", "s", "v"), Seq("k"))
    LakeTable.delete(spark, p, Seq(Tuple1(9L)).toDF("k"), Seq("k"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lakesrc_ckpt").toString
    val q = spark.readStream.format("graftlake")
      .option("startingVersion", "1").load(p)
      .writeStream.format("memory").queryName("graft_lake_cdc_spec")
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("graft_lake_cdc_spec").collect().map(r =>
      (r.getLong(r.fieldIndex("k")), r.getString(r.fieldIndex("_change_type")),
        Option(r.getString(r.fieldIndex("s"))),
        Option(r.getString(r.fieldIndex("_before_s"))),
        r.getLong(r.fieldIndex("_commit_version")))).toSet
    assert(got == Set(
      (7L, "update", Some("upd"), Some("base"), 2L),
      (200L, "insert", Some("ins"), None, 2L),
      (9L, "delete", None, Some("base"), 3L)), s"got $got")
    // tail-the-log default: a source started WITHOUT startingVersion
    // sees only commits after stream start
    // tail default + CHECKPOINT RESTART: run 1 with no startingVersion
    // pins "latest at first start" (v3) in the query's metadata dir and
    // sees nothing; a new commit lands; run 2 from the SAME checkpoint
    // must reuse the pinned resolution (re-resolving against the new
    // latest would swallow the commit — code-review r14 F1) and deliver
    // exactly v4's rows. foreachBatch because the memory sink refuses
    // checkpoint recovery.
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_lakesrc_ckpt2").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def runTail(): Unit = {
      val q = spark.readStream.format("graftlake").load(p)
        .writeStream
        .option("checkpointLocation", ckpt2)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach(r => seen.add((r.getLong(r.fieldIndex("k")),
            r.getString(r.fieldIndex("_change_type")),
            r.getLong(r.fieldIndex("_commit_version")))))
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    runTail()
    assert(seen.isEmpty, "tail source replayed history")
    LakeTable.merge(spark, p, Seq((30L, "late", 303L)).toDF("k", "s", "v"), Seq("k"))
    runTail()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSet == Set((30L, "update", 4L)),
      s"restart recovery broken: ${seen.asScala.toSet}")

    // ---- sink: writeStream commits one version per micro-batch ----
    val p2 = freshPath("streamsink")
    val stage = java.nio.file.Files.createTempDirectory("graft_lakesink_src").toString
    (1L to 80L).map(k => (k, s"s$k", k)).toDF("k", "s", "v")
      .repartition(4).write.mode("overwrite").parquet(stage)
    val schema = spark.read.parquet(stage).schema
    val q3 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 2).parquet(stage)
      .writeStream.format("graftlake")
      .option("path", p2).option("keys", "k")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_lakesink_ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(LakeTable.latestVersion(p2) >= 2, "sink did not commit per micro-batch")
    assert(rows(LakeTable.read(spark, p2).select("k", "s", "v")) ==
      (1L to 80L).map(k => (k, s"s$k", k)).toSet)
  }

  test("the whole protocol runs against a file: URI through the Hadoop FS log store") {
    import spark.implicits._
    // A URI-SCHEMED path routes every log and data-plane touch through
    // the Hadoop FileSystem API (HadoopFsLogStore + LakeIo): any
    // remaining java.io.File/java.nio direct-path walk would treat
    // "file:/..." as a relative path and fail immediately — running the
    // full lifecycle here IS the proof no escape remains (VERDICT r14 #1).
    val plain = freshPath("hadoopfs")
    val p = "file:" + plain
    def df(ks: Range, s: String) = ks.map(k => (k.toLong, s, k.toLong)).toDF("k", "s", "v")
    LakeTable.create(spark, p, df(1 to 400, "a"), Seq("k"), nBuckets = 8, layout = "range")
    // manifest paths are fully qualified through the scheme's FS
    assert(LakeTable.manifestFiles(p, 1).forall(_.startsWith("file:")),
      s"unqualified manifest paths: ${LakeTable.manifestFiles(p, 1).take(2)}")
    // CoW merge carries untouched files by reference (normKey matching
    // must hold across input_file_name's file:/// rendering)
    LakeTable.merge(spark, p, df(1 to 5, "b").unionByName(df(401 to 410, "b")), Seq("k"))
    val v1f = LakeTable.manifestFiles(p, 1).toSet
    val v2f = LakeTable.manifestFiles(p, 2).toSet
    assert(v1f.intersect(v2f).size >= 5, "CoW carry broken through the FS store")
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      ((6 to 400).map(k => (k.toLong, "a", k.toLong)) ++
        ((1 to 5) ++ (401 to 410)).map(k => (k.toLong, "b", k.toLong))).toSet)
    // stats pruning reads manifests through the store
    val (kept, total) = LakeTable.prunedEntries(p, 2, "k", 100, 120)
    assert(kept.size < total, s"no pruning through the FS store ($kept/$total)")
    // DV delete, change feed, history, restore — the metadata plane
    LakeTable.deleteDV(spark, p, Seq(7L, 8L).toDF("k"), Seq("k"))
    val feed = LakeTable.changes(spark, p, 2, 3, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((7L, "delete"), (8L, "delete")), s"got $feed")
    LakeTable.restore(spark, p, 2)
    assert(LakeTable.history(p).map(_._2) == Seq("create", "merge", "delete-dv", "restore-v2"))
    // put-if-absent refuses an existing version through the FS store
    val err = intercept[IllegalStateException] {
      LakeTable.commit(p, LakeTable.manifest(p, 4).copy(version = 4))
    }
    assert(err.getMessage.contains("conflict"))
    // vacuum erases orphans through the FS API
    val (dropped, deleted) = LakeTable.vacuum(p, keepLast = 1, force = true)
    assert(dropped == 3 && deleted > 0)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")).size == 410)
    LakeTable.deleteRecursively(p)
    assert(!new java.io.File(plain).exists)
  }

  test("commit metadata is bounded by churn, not table size; checkpoints bound reconstruction") {
    import spark.implicits._
    val p = freshPath("churnlog")
    val base = (1L to 3200L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 32)
    def recBytes(v: Int) = new java.io.File(f"$p/_log/v$v%05d.json").length
    val fullBytes = recBytes(1)
    // 12 single-key merges on the 32-file table → 12 churn records
    (1 to 12).foreach { i =>
      LakeTable.merge(spark, p, Seq((i * 37L, s"u$i", i.toLong)).toDF("k", "s", "v"), Seq("k"))
    }
    // each commit's metadata tracks its churn (~1 removed path + ~1
    // added entry), NOT the 32-entry table state — the bound that makes
    // a one-row commit on a 100k-file table affordable
    (2 to 13).foreach { v =>
      assert(recBytes(v) < fullBytes / 4,
        s"delta record v$v is ${recBytes(v)} B vs full-state $fullBytes B — O(table) metadata")
    }
    // checkpoint anchors exist at the interval cadence, so reconstruction
    // reads O(interval) records, not the whole log
    assert(new java.io.File(f"$p/_log/chk-v${LakeTable.ChkInterval}%05d.json").exists,
      "interval checkpoint missing")
    // reconstruction is exact at every version: v1 pristine, latest has
    // all 12 updates applied
    assert(rows(LakeTable.read(spark, p, Some(1)).select("k", "s", "v")) ==
      (1L to 3200L).map(k => (k, "base", k)).toSet)
    val expect13 = (1L to 3200L).map { k =>
      val i = k / 37L
      if (k % 37L == 0 && i >= 1 && i <= 12) (k, s"u$i", i) else (k, "base", k)
    }.toSet
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect13)
    // history replays forward — one record read per version, ops intact
    assert(LakeTable.history(p).map(_._2) == "create" +: Seq.fill(12)("merge"))
    // the latest hint keeps resolution O(1)-ish (no O(#versions) listing)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$p/_log/_latest")).trim.toInt == 13)
    // vacuum to a floor whose record is a CHURN record (v11, not on the
    // checkpoint cadence): vacuum must pin a floor checkpoint so the
    // retained delta chain stays reconstructable after its ancestry drops
    LakeTable.vacuum(p, keepLast = 3, force = true)
    assert(new java.io.File(f"$p/_log/chk-v${11}%05d.json").exists,
      "vacuum dropped the floor's ancestry without anchoring it")
    assert(!new java.io.File(f"$p/_log/v${1}%05d.json").exists)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) == expect13)
    assert(rows(LakeTable.read(spark, p, Some(11)).select("k", "s", "v")) ==
      (1L to 3200L).map { k =>
        val i = k / 37L
        if (k % 37L == 0 && i >= 1 && i <= 10) (k, s"u$i", i) else (k, "base", k)
      }.toSet)
    assert(LakeTable.history(p).map(_._1) == Seq(11, 12, 13))
  }

  test("partition-directory layout: col=value dirs, whole-directory pruning, lifecycle") {
    import spark.implicits._
    val p = freshPath("partlayout")
    val day0 = java.time.LocalDate.of(2025, 1, 1)
    val base = (0L until 600L).map { i =>
      (i, java.sql.Date.valueOf(day0.plusDays(i % 6)), s"v$i")
    }.toDF("k", "d", "s")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4, partitionBy = Seq("d"))
    val m1 = LakeTable.manifest(p, 1)
    // files physically live in Hive-style d=<value> directories and
    // their entries carry the lifted partition value
    assert(m1.files.nonEmpty && m1.files.forall(_.path.contains("d=")),
      s"no partition directories: ${m1.filePaths.take(2)}")
    assert(m1.files.forall(e => e.part.get("d").exists(_.startsWith("2025-01-"))))
    // a one-day predicate prunes five of six partition DIRECTORIES from
    // the manifest alone (exact min==max stats on the partition axis)
    val day2 = java.sql.Date.valueOf(day0.plusDays(2))
    val (kept, total) = LakeTable.prunedEntries(p, 1, "d", day2, day2)
    assert(kept.nonEmpty && kept.size * 6 <= total,
      s"partition pruning missing: kept ${kept.size}/$total")
    assert(kept.forall(_.part("d") == day2.toString))
    // the scan reconstructs the partition column with its real TYPE
    val got = LakeTable.scan(spark, p, "d", day2, day2).collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(got == (0L until 600L).filter(_ % 6 == 2)
      .map(i => (i, day2.toString, s"v$i")).toSet)
    // copy-on-write merge lands its rewrite back into the partition
    // dirs; untouched partitions carry by reference
    LakeTable.merge(spark, p,
      Seq((2L, java.sql.Date.valueOf(day0.plusDays(2)), "UPD")).toDF("k", "d", "s"),
      Seq("k"))
    val m2 = LakeTable.manifest(p, 2)
    assert(m2.files.forall(_.part.contains("d")), "rewrite lost partition values")
    assert(m1.files.map(_.path).toSet.intersect(m2.files.map(_.path).toSet).nonEmpty)
    val live = LakeTable.read(spark, p).filter(col("k") === 2L).collect()
    assert(live.length == 1 && live(0).getString(2) == "UPD")
    // a merge batch MISSING the partition column is refused loudly
    intercept[IllegalArgumentException] {
      LakeTable.merge(spark, p, Seq((3L, "oops")).toDF("k", "s"), Seq("k"))
    }
    // the change feed classifies across partition reconstruction
    val feed = LakeTable.changes(spark, p, 1, 2, Seq("k")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed == Set((2L, "update")), s"got $feed")
    // merge-on-read DV delete (a day2 key) + SQL-source read both ride
    // the layout: the sidecar anti-joins inside the partition read
    LakeTable.deleteDV(spark, p, Seq(Tuple1(8L)).toDF("k"), Seq("k"))
    spark.read.format("graftlake").load(p).createOrReplaceTempView("plt")
    val sqlGot = spark.sql(s"SELECT k, s FROM plt WHERE d = DATE'${day2.toString}'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sqlGot == (0L until 600L).filter(i => i % 6 == 2 && i != 2L && i != 8L)
      .map(i => (i, s"v$i")).toSet + ((2L, "UPD")))
    // compaction preserves the directory layout and the rows
    LakeTable.compact(spark, p, targetFiles = 2)
    val m4 = LakeTable.manifest(p, 4)
    assert(m4.files.forall(_.part.contains("d")), "compact lost the layout")
    assert(LakeTable.read(spark, p).count() == 599)
  }

  test("partition evolution without rewrite: header-only commit, mixed layouts read correctly") {
    import spark.implicits._
    val p = freshPath("partevolve")
    val day0 = java.time.LocalDate.of(2025, 3, 1)
    val base = (0L until 300L).map { i =>
      (i, java.sql.Date.valueOf(day0.plusDays(i % 3)), s"v$i")
    }.toDF("k", "d", "s")
    // start UNPARTITIONED: d lives in the data files
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4)
    val v1Files = LakeTable.manifestFiles(p, 1).toSet
    // evolve to PARTITIONED BY d — zero bytes rewritten
    assert(LakeTable.evolvePartitioning(p, Seq("d")) == 2)
    assert(LakeTable.manifestFiles(p, 2).toSet == v1Files,
      "evolution rewrote data files")
    assert(LakeTable.manifest(p, 2).parts == Seq("d"))
    // new writes land in the NEW layout; old files keep reading d from
    // their DATA (per-entry layout, not the header's)
    LakeTable.merge(spark, p,
      Seq((1000L, java.sql.Date.valueOf(day0), "new")).toDF("k", "d", "s"), Seq("k"))
    val m3 = LakeTable.manifest(p, 3)
    val newEntries = m3.files.filterNot(e => v1Files.contains(e.path))
    assert(newEntries.nonEmpty && newEntries.forall(_.part.contains("d")),
      "post-evolution write did not land in the directory layout")
    assert(m3.files.exists(_.part.isEmpty), "old-layout files vanished")
    // the MIXED snapshot reads correctly through the API...
    val expect = (0L until 300L).map(i =>
      (i, day0.plusDays(i % 3).toString, s"v$i")).toSet + ((1000L, day0.toString, "new"))
    def state(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDate(1).toString, r.getString(2))).toSet
    assert(state(LakeTable.read(spark, p).select("k", "d", "s")) == expect)
    // ...and through SQL (the composite V2 scan remaps mixed layouts)
    spark.read.format("graftlake").load(p).createOrReplaceTempView("pevt")
    assert(state(spark.sql("SELECT k, d, s FROM pevt")) == expect)
    val day1 = java.sql.Date.valueOf(day0.plusDays(1))
    assert(state(spark.sql(s"SELECT k, d, s FROM pevt WHERE d = DATE'$day1'")) ==
      expect.filter(_._2 == day1.toString))
    // compact migrates everything to the CURRENT layout — uniform again
    LakeTable.compact(spark, p, targetFiles = 2)
    val m4 = LakeTable.manifest(p, 4)
    assert(m4.files.forall(_.part.contains("d")), "compact did not migrate the layout")
    assert(state(LakeTable.read(spark, p).select("k", "d", "s")) == expect)
    // pruning on the partition column now cuts whole directories
    val (kept, total) = LakeTable.prunedEntries(p, 4, "d", day1, day1)
    assert(kept.nonEmpty && kept.size < total)
  }

  test("SQL catalog: CREATE/INSERT/DELETE/OVERWRITE/TRUNCATE/DROP lifecycle via spark.sql") {
    import spark.implicits._
    val root = freshPath("sqlcat")
    spark.conf.set("spark.sql.catalog.graft_cat_spec",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cat_spec.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_cat_spec.t")
    spark.sql("CREATE TABLE graft_cat_spec.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    // schema-only v1: SELECT over the empty table typed, zero rows
    assert(spark.sql("SELECT * FROM graft_cat_spec.t").count() == 0)
    assert(LakeTable.latestVersion(s"$root/t") == 1)
    // duplicate create and a create without the merge identity are loud
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE graft_cat_spec.t (k BIGINT) TBLPROPERTIES ('keys'='k')")
    }
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE graft_cat_spec.nokeys (k BIGINT)")
    }
    // INSERT INTO is the keyed latest-wins MERGE, not a blind append
    (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("catsrc")
    spark.sql("INSERT INTO graft_cat_spec.t SELECT * FROM catsrc")
    spark.sql("INSERT INTO graft_cat_spec.t VALUES (7, 'upd', 77), (200, 'ins', 2000)")
    assert(rows(spark.sql("SELECT k, s, v FROM graft_cat_spec.t")) ==
      (1L to 100L).filterNot(_ == 7L).map(k => (k, "base", k)).toSet
        ++ Set((7L, "upd", 77L), (200L, "ins", 2000L)))
    assert(LakeTable.latestVersion(s"$root/t") == 3)
    // the catalog read is the columnar V2 BatchScan
    val plan = spark.sql("SELECT k FROM graft_cat_spec.t WHERE k > 50")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"catalog read is not V2:\n$plan")
    // DELETE FROM = merge-on-read DV commit: zero data files rewritten
    val pre = LakeTable.manifestFiles(s"$root/t", 3).toSet
    spark.sql("DELETE FROM graft_cat_spec.t WHERE k > 90 AND k <= 100")
    assert(LakeTable.manifestFiles(s"$root/t", 4).toSet == pre,
      "SQL DELETE rewrote data files instead of committing a sidecar")
    assert(spark.sql("SELECT count(*) FROM graft_cat_spec.t").head().getLong(0) == 91)
    // INSERT OVERWRITE replaces as a FORWARD commit (history survives)
    spark.sql("INSERT OVERWRITE graft_cat_spec.t SELECT k, s, v FROM catsrc WHERE k <= 5")
    assert(spark.sql("SELECT count(*) FROM graft_cat_spec.t").head().getLong(0) == 5)
    assert(LakeTable.read(spark, s"$root/t", Some(4)).count() == 91)
    // SQL time travel: VERSION AS OF resolves any retained commit
    assert(spark.sql("SELECT count(*) FROM graft_cat_spec.t VERSION AS OF 3")
      .head().getLong(0) == 101)
    assert(spark.sql("SELECT count(*) FROM graft_cat_spec.t VERSION AS OF 4")
      .head().getLong(0) == 91)
    // TRUNCATE rides the DV path with an always-true predicate
    spark.sql("TRUNCATE TABLE graft_cat_spec.t")
    assert(spark.sql("SELECT count(*) FROM graft_cat_spec.t").head().getLong(0) == 0)
    // ALTER ADD COLUMN is the header-only evolution commit; anything
    // else (drop/rename/retype) is still refused with the reason
    val preAlter = LakeTable.manifestFiles(s"$root/t",
      LakeTable.latestVersion(s"$root/t"))
    spark.sql("ALTER TABLE graft_cat_spec.t ADD COLUMN x BIGINT")
    assert(spark.sql("SELECT * FROM graft_cat_spec.t").columns.toSeq ==
      Seq("k", "s", "v", "x"))
    assert(LakeTable.manifestFiles(s"$root/t",
      LakeTable.latestVersion(s"$root/t")) == preAlter,
      "ALTER ADD COLUMN must not move a byte of data")
    // DROP COLUMN is header-only since r17 (column mapping); identity
    // columns still refuse
    spark.sql("ALTER TABLE graft_cat_spec.t DROP COLUMN x")
    assert(spark.sql("SELECT * FROM graft_cat_spec.t").columns.toSeq ==
      Seq("k", "s", "v"))
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat_spec.t DROP COLUMN k")
    }
    // SHOW TABLES sees it — and everything listed RESOLVES: a stray
    // _log FILE or an empty _log dir (crashed pre-v1 create) must not
    // be listed (review r16 #6)
    new java.io.File(s"$root/junk1").mkdirs()
    new java.io.File(s"$root/junk1/_log").createNewFile()
    new java.io.File(s"$root/junk2/_log").mkdirs()
    val listed = spark.sql("SHOW TABLES IN graft_cat_spec").collect()
      .map(_.getString(1)).toSet
    assert(listed.contains("t"))
    assert(!listed.contains("junk1") && !listed.contains("junk2"),
      "SHOW TABLES listed identifiers that cannot resolve")
    spark.sql("DROP TABLE graft_cat_spec.t")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft_cat_spec.t").collect()
    }
    // PARTITIONED BY maps onto the lake's directory layout end-to-end
    spark.sql("CREATE TABLE graft_cat_spec.pt (k BIGINT, d DATE, s STRING) " +
      "PARTITIONED BY (d) TBLPROPERTIES ('keys'='k')")
    spark.sql("INSERT INTO graft_cat_spec.pt VALUES " +
      "(1, DATE'2025-01-01', 'a'), (2, DATE'2025-01-02', 'b'), (3, DATE'2025-01-02', 'c')")
    assert(LakeTable.manifest(s"$root/pt", 2).files.forall(_.path.contains("d=")),
      "PARTITIONED BY did not produce a directory layout")
    assert(spark.sql("SELECT k, s FROM graft_cat_spec.pt WHERE d = DATE'2025-01-02'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == Set((2L, "b"), (3L, "c")))
  }

  test("SQL procedures: CALL compact/vacuum/history/restore/evolve_partitioning") {
    import spark.implicits._
    val root = freshPath("sqlproc")
    spark.conf.set("spark.sql.catalog.graft_proc_spec",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_proc_spec.warehouse", root)
    spark.sql("CREATE TABLE graft_proc_spec.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 200L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("proc_src")
    spark.sql("INSERT INTO graft_proc_spec.t SELECT * FROM proc_src")
    spark.sql("INSERT INTO graft_proc_spec.t VALUES (7, 'upd', 77)")
    // history lists every commit with its op
    val hist = spark.sql("CALL graft_proc_spec.system.history(`table` => 't')")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(hist.map(_._2).toSeq == Seq("create", "merge", "merge"), s"got ${hist.toSeq}")
    // compact commits a new version and shrinks the layout
    val v = spark.sql(
      "CALL graft_proc_spec.system.compact(`table` => 't', target_files => 2)")
      .head().getInt(0)
    assert(v == 4 && LakeTable.manifestFiles(s"$root/t", 4).size <= 2)
    // restore rolls back to the pre-compact state as a forward commit
    assert(spark.sql(
      "CALL graft_proc_spec.system.restore(`table` => 't', version => 2)")
      .head().getInt(0) == 5)
    assert(rows(spark.sql("SELECT k, s, v FROM graft_proc_spec.t")) ==
      (1L to 200L).map(k => (k, "base", k)).toSet)
    // evolve_partitioning is the header-only layout switch
    assert(spark.sql("CALL graft_proc_spec.system.evolve_partitioning(" +
      "`table` => 't', partition_by => 's')").head().getInt(0) == 6)
    assert(LakeTable.manifest(s"$root/t", 6).parts == Seq("s"))
    // vacuum reports (manifests dropped, files deleted); reads stay green
    val vac = spark.sql(
      "CALL graft_proc_spec.system.vacuum(`table` => 't', keep_last => 2, force => true)").head()
    assert(vac.getInt(0) == 4 && vac.getInt(1) > 0, s"got $vac")
    assert(spark.sql("SELECT count(*) FROM graft_proc_spec.t").head().getLong(0) == 200)
    // unknown procedure is loud
    intercept[Exception] {
      spark.sql("CALL graft_proc_spec.system.frobnicate(`table` => 't')")
    }
  }

  test("paths with URL-encodable characters: touched-file discovery and DV matching survive") {
    import spark.implicits._
    // input_file_name() renders percent-ENCODED URIs while manifests
    // store raw qualified paths — a space in the table path must not
    // break the normKey set membership (a miss here silently duplicates
    // merged keys and turns deletes into no-ops)
    val p = freshPath("enc odd+chars")
    assert(p.contains(" "), "fixture lost its space")
    val base = (1L to 80L).map(k => (k, "base", k)).toDF("k", "s", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4)
    LakeTable.merge(spark, p, Seq((5L, "upd", 55L)).toDF("k", "s", "v"), Seq("k"))
    val got = rows(LakeTable.read(spark, p).select("k", "s", "v"))
    assert(got == (1L to 80L).filterNot(_ == 5L).map(k => (k, "base", k)).toSet
      + ((5L, "upd", 55L)), "merge duplicated or lost keys under an encoded path")
    // CoW actually narrowed: not every file rewrote
    assert(LakeTable.manifestFiles(p, 1).toSet
      .intersect(LakeTable.manifestFiles(p, 2).toSet).nonEmpty,
      "touched-file discovery missed: merge rewrote the whole table")
    LakeTable.delete(spark, p, Seq(Tuple1(7L)).toDF("k"), Seq("k"))
    assert(LakeTable.read(spark, p).count() == 79,
      "delete was a silent no-op under an encoded path")
    LakeTable.deleteDV(spark, p, Seq(Tuple1(9L)).toDF("k"), Seq("k"))
    assert(LakeTable.read(spark, p).count() == 78)
  }

  test("Hive-escaped partition VALUES (':', '%'): merge and DV-delete find their files") {
    import spark.implicits._
    // partitionBy escapes ':' to %3A and '%' to %25 in the directory
    // name; input_file_name() then DOUBLE-encodes that rendering. The
    // raw-vs-URI normalization split (normKey/normUri) must land both
    // sides on the raw name — decoding the manifest side as if it were
    // a URI turned `c=10%3A30` into `c=10:30` and made touched-file
    // discovery miss the file: old rows carried AND updates re-added
    // (silent key duplication), deletes missed (ADVICE r15)
    val p = freshPath("hiveesc")
    val base = (1L to 60L).map(k =>
      (k, if (k % 2 == 0) "10:30" else "50%", k)).toDF("k", "c", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 2,
      partitionBy = Seq("c"))
    assert(LakeTable.manifest(p, 1).files.exists(_.path.contains("%3A")),
      "fixture must produce a Hive-escaped ':' partition directory")
    LakeTable.merge(spark, p,
      Seq((4L, "10:30", 444L), (5L, "50%", 555L)).toDF("k", "c", "v"), Seq("k"))
    val got = LakeTable.read(spark, p).select("k", "c", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expect = (1L to 60L).filterNot(k => k == 4L || k == 5L).map(k =>
      (k, if (k % 2 == 0) "10:30" else "50%", k)).toSet ++
      Set((4L, "10:30", 444L), (5L, "50%", 555L))
    assert(got == expect,
      "merge duplicated or lost keys under a Hive-escaped partition value")
    // CoW narrowed: the 2-key merge must carry at least one file
    assert(LakeTable.manifestFiles(p, 1).toSet
      .intersect(LakeTable.manifestFiles(p, 2).toSet).nonEmpty,
      "touched-file discovery missed: merge rewrote the whole table")
    LakeTable.delete(spark, p, Seq(Tuple1(6L)).toDF("k"), Seq("k"))
    assert(LakeTable.read(spark, p).count() == 59,
      "delete was a silent no-op under a Hive-escaped partition value")
    LakeTable.deleteDV(spark, p, Seq(Tuple1(8L)).toDF("k"), Seq("k"))
    assert(LakeTable.read(spark, p).count() == 58)
  }

  test("addColumns: header-only schema evolution; as-of keeps the committed schema") {
    import spark.implicits._
    val p = freshPath("addcol")
    val base = (1L to 40L).map(k => (k, "base")).toDF("k", "s")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4)
    val preFiles = LakeTable.manifestFiles(p, 1)
    assert(LakeTable.addColumns(p,
      Seq(org.apache.spark.sql.types.StructField("note",
        org.apache.spark.sql.types.StringType))) == 2)
    // header-only: the file list is bit-identical across the commit
    assert(LakeTable.manifestFiles(p, 2) == preFiles,
      "ADD COLUMN must not move a byte of data")
    // live reads see the new column as null; as-of(1) keeps the 2-col shape
    assert(LakeTable.read(spark, p).columns.toSeq == Seq("k", "s", "note"))
    assert(LakeTable.read(spark, p).filter(col("note").isNotNull).count() == 0)
    assert(LakeTable.read(spark, p, Some(1)).columns.toSeq == Seq("k", "s"))
    // a merge can now land values in the new column; old rows stay null
    LakeTable.merge(spark, p,
      Seq((3L, "upd", "hello")).toDF("k", "s", "note"), Seq("k"))
    val m = LakeTable.read(spark, p)
    assert(m.filter(col("note") === "hello").count() == 1)
    assert(m.filter(col("note").isNull).count() == 39)
    // duplicate column refused
    intercept[IllegalArgumentException] {
      LakeTable.addColumns(p, Seq(org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    }
  }

  test("rezorder: a hash-layout table re-clusters so 2-D boxes prune >= half the files") {
    import spark.implicits._
    val p = freshPath("rezorder")
    val n = 4096L
    val side = 64L
    val base = (0L until n).map(i => (i, i % side, i / side)).toDF("k", "x", "y")
    // hash layout on the key: x/y envelopes are wide in every file, a
    // box over (x, y) prunes nothing
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 16, layout = "hash")
    val (preKept, preTotal) = LakeTable.prunedEntriesBox(p, 1,
      Seq(("x", 0L, 15L), ("y", 0L, 15L)))
    assert(preKept.size == preTotal, "hash layout should not prune the box")
    assert(LakeTable.rezorder(spark, p, Seq("x", "y"), targetFiles = 16) == 2)
    // rows identical, layout changed, the same box now prunes >= half
    assert(LakeTable.read(spark, p).count() == n)
    assert(LakeTable.read(spark, p).agg(sum("k")).head().getLong(0)
      == n * (n - 1) / 2)
    val (kept, total) = LakeTable.prunedEntriesBox(p, 2,
      Seq(("x", 0L, 15L), ("y", 0L, 15L)))
    assert(total >= 12 && kept.size * 2 <= total,
      s"rezorder should let the 2-D box prune >= half (kept ${kept.size}/$total)")
    // and the box scan is row-correct
    assert(LakeTable.scanBox(spark, p,
      Seq(("x", 0L, 15L), ("y", 0L, 15L))).count() ==
      base.filter(col("x") <= 15 && col("y") <= 15).count())
  }

  test("mergeDelete: upsert batch + delete keys commit as ONE version; update wins ties") {
    import spark.implicits._
    val p = freshPath("mergedel")
    LakeTable.create(spark, p,
      (1L to 30L).map(k => (k, "base", k)).toDF("k", "s", "v"), Seq("k"))
    val v = LakeTable.mergeDelete(spark, p,
      Some(Seq((2L, "upd", 22L), (31L, "ins", 310L), (5L, "tie", 50L)).toDF("k", "s", "v")),
      Some(Seq(Tuple1(3L), Tuple1(4L), Tuple1(5L)).toDF("k")), Seq("k"))
    assert(v == 2, "one statement, one version")
    assert(LakeTable.latestVersion(p) == 2)
    assert(rows(LakeTable.read(spark, p).select("k", "s", "v")) ==
      ((1L to 30L).filterNot(k => k == 2L || k == 3L || k == 4L || k == 5L)
        .map(k => (k, "base", k)).toSet ++
        Set((2L, "upd", 22L), (31L, "ins", 310L), (5L, "tie", 50L))),
      "deletes must vanish, updates/inserts land, a key in both sets resolves update-wins")
  }

  test("V2 scan applies a >=100k-key accumulated sidecar set EXECUTOR-side") {
    import spark.implicits._
    // every case reads through BOTH the API and the SQL source: the two
    // are one scan, so they must agree row for row
    def reads(p: String): Seq[org.apache.spark.sql.DataFrame] =
      Seq(LakeTable.read(spark, p), spark.read.format("graftlake").load(p))
    val p = freshPath("dvexec")
    val n = 400000L
    LakeTable.create(spark, p,
      (1L to n).map(k => (k, k % 7)).toDF("k", "v"), Seq("k"), nBuckets = 8)
    // two accumulated erasure batches (the between-compactions shape):
    // 120k keys total across two sidecar commits
    LakeTable.deleteDV(spark, p,
      (1L to 60000L).map(k => Tuple1(k * 3)).toDF("k"), Seq("k"))
    LakeTable.deleteDV(spark, p,
      (1L to 60000L).map(k => Tuple1(k * 5)).toDF("k"), Seq("k"))
    val expect = (1L to n).filterNot(k =>
      (k % 3 == 0 && k <= 180000) || (k % 5 == 0 && k <= 300000))
    reads(p).foreach { got =>
      assert(got.count() == expect.size.toLong)
      assert(got.agg(sum("k")).head().getLong(0) == expect.sum)
    }
    // string keys ride the executor path too (UTF8String byte layout)
    val ps = freshPath("dvexecstr")
    LakeTable.create(spark, ps,
      (1L to 5000L).map(k => (f"key$k%06d", k)).toDF("k", "v"), Seq("k"), nBuckets = 4)
    LakeTable.deleteDV(spark, ps,
      (1L to 1000L).map(k => Tuple1(f"key${k * 3}%06d")).toDF("k"), Seq("k"))
    reads(ps).foreach(df => assert(df.count() == 4000))
    // timestamp and decimal keys decode through Spark's own parquet
    // reader like every other key type
    val pt = freshPath("dvts")
    LakeTable.create(spark, pt,
      (1L to 300L).map(k => (new java.sql.Timestamp(k * 60000L), k))
        .toDF("k", "v"), Seq("k"), nBuckets = 2)
    LakeTable.deleteDV(spark, pt,
      (1L to 100L).map(k => Tuple1(new java.sql.Timestamp(k * 3 * 60000L)))
        .toDF("k"), Seq("k"))
    reads(pt).foreach { df =>
      assert(df.count() == 200)
      assert(df.agg(sum("v")).head().getLong(0) ==
        (1L to 300L).filterNot(_ % 3 == 0).sum)
    }
    val pd = freshPath("dvdec")
    LakeTable.create(spark, pd,
      (1L to 300L).map(k => (BigDecimal(k) / 100, k)).toDF("k", "v")
        .select(col("k").cast("decimal(12,2)").as("k"), col("v")), Seq("k"), nBuckets = 2)
    LakeTable.deleteDV(spark, pd,
      (1L to 100L).map(k => Tuple1(BigDecimal(k * 3) / 100)).toDF("k"), Seq("k"))
    reads(pd).foreach { df =>
      assert(df.count() == 200)
      assert(df.agg(sum("v")).head().getLong(0) ==
        (1L to 300L).filterNot(_ % 3 == 0).sum)
    }
    // +-0.0 double keys: the executor probe must agree with Spark's
    // join-key NormalizeNaNAndZero semantics (review r16 #8 — a
    // byte-wise probe would resurrect a DV-deleted -0.0)
    val pz = freshPath("dvzero")
    LakeTable.create(spark, pz,
      Seq((-0.0d, 1L), (1.5d, 2L), (2.5d, 3L)).toDF("k", "v"),
      Seq("k"), nBuckets = 1)
    LakeTable.deleteDV(spark, pz, Seq(Tuple1(0.0d)).toDF("k"), Seq("k"))
    reads(pz).foreach(df => assert(df.count() == 2,
      "the executor probe must erase a -0.0 key when 0.0 was DV-deleted"))
    // NULL key semantics (review r17 #2): NULL never equi-joins, so a
    // NULL-bearing sidecar key can never claim a NULL-key target row —
    // the byte-wise probe must KEEP it
    val pn = freshPath("dvnull")
    LakeTable.create(spark, pn,
      Seq((java.lang.Long.valueOf(1L), 10L), (java.lang.Long.valueOf(2L), 20L),
        (null.asInstanceOf[java.lang.Long], 30L)).toDF("k", "v"),
      Seq("k"), nBuckets = 1)
    LakeTable.deleteDV(spark, pn,
      Seq(java.lang.Long.valueOf(2L), null.asInstanceOf[java.lang.Long])
        .map(Tuple1(_)).toDF("k"), Seq("k"))
    reads(pn).foreach { df =>
      assert(df.count() == 2,
        "the probe must keep the NULL-key row when the sidecar carries a NULL key")
      assert(df.agg(sum("v")).head().getLong(0) == 40L)
    }
  }

  test("reading a path with no committed version through the SQL source fails loudly") {
    val p = freshPath("uncreated")
    val e = intercept[Exception](spark.read.format("graftlake").load(p).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => t.getMessage != null && t.getMessage.contains("no committed version")),
      s"expected the no-committed-version error, got $e")
  }

  test("sidecar groups cost a read no Spark job: the read runs no more jobs than after compact") {
    import spark.implicits._
    val p = freshPath("dvjobs")
    LakeTable.create(spark, p,
      (1L to 2000L).map(k => (k, k % 11)).toDF("k", "v"), Seq("k"), nBuckets = 4)
    // one equality-sidecar group and one positional-sidecar group
    LakeTable.deleteDV(spark, p, (1L to 50L).map(k => Tuple1(k * 7)).toDF("k"), Seq("k"))
    LakeTable.deletePos(spark, p, (1L to 50L).map(k => Tuple1(k * 13)).toDF("k"), Seq("k"))
    val m = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(m.files.exists(_.dvs.nonEmpty) && m.files.exists(_.pos.nonEmpty))
    val expect = (1L to 2000L).filterNot(k => k % 7 == 0 && k <= 350 || k % 13 == 0 && k <= 650)
    LakeTable.read(spark, p).collect() // warm-up
    var got = Array.empty[org.apache.spark.sql.Row]
    val withSidecars = sparkJobs { got = LakeTable.read(spark, p).collect() }
    assert(got.map(_.getLong(0)).sorted.toSeq == expect)
    LakeTable.compact(spark, p, 4)
    LakeTable.read(spark, p).collect()
    val compacted = sparkJobs { got = LakeTable.read(spark, p).collect() }
    assert(got.map(_.getLong(0)).sorted.toSeq == expect)
    assert(withSidecars <= compacted,
      s"a read with two sidecar groups ran $withSidecars jobs, the compacted read $compacted")
  }

  test("LakeTable.scan records the pruning decision prunedEntries computes") {
    import spark.implicits._
    val p = freshPath("scanprune")
    LakeTable.create(spark, p,
      (1L to 10000L).map(k => (k, k % 13)).toDF("k", "v"), Seq("k"),
      nBuckets = 10, layout = "range")
    val v = LakeTable.latestVersion(p)
    val (kept, total) = LakeTable.prunedEntries(p, v, "k", 2500L, 3400L)
    assert(total == 10 && kept.size < total, s"fixture must prune (kept ${kept.size}/$total)")
    assert(LakeTable.scan(spark, p, "k", 2500L, 3400L).count() == 901L)
    assert(graft.sources.GraftLakeSource.lastPrune(p) == ((kept.size, total)))
  }

  test("runtime filtering: a dimension filter prunes lake manifest entries at execution time") {
    import spark.implicits._
    val root = freshPath("rtfilter")
    val fact = s"$root/fact"
    LakeTable.create(spark, fact,
      (1L to 100000L).map(k => (k, k % 97)).toDF("k", "v"),
      Seq("k"), nBuckets = 32, layout = "range")
    // dim in parquet (a LocalRelation dim constant-folds its filter away
    // and DPP never triggers); hot keys are scattered multiples of 3
    (1L to 100L).map(k => (k * 3, if (k <= 5) "hot" else "cold"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(s"$root/dim")
    spark.read.format("graftlake").load(fact).createOrReplaceTempView("rtf_fact")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rtf_dim")
    def run(): (Long, String) = {
      val q = spark.sql("SELECT sum(f.v) AS s FROM rtf_fact f " +
        "JOIN rtf_dim d ON f.k = d.dk WHERE d.tag = 'hot'")
      (q.collect()(0).getLong(0), q.queryExecution.executedPlan.toString)
    }
    val (s1, plan1) = run()
    assert(s1 == (1L to 5L).map(k => (k * 3) % 97).sum)
    assert(plan1.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-pruning runtime filter on the lake scan:\n$plan1")
    val (kept1, total1) = graft.sources.GraftLakeSource.lastPrune(s"$fact@runtime")
    assert(total1 == 32 && kept1 * 4 <= total1,
      s"runtime filter should skip most files (kept $kept1/$total1)")
    // the 5 hot keys (3,6,9,12,15) live in ONE of 32 range files: the
    // per-value matcher should pin exactly it
    assert(kept1 <= 2, s"per-value runtime matching too coarse (kept $kept1)")
    // DV sidecars route the scan through the COMPOSITE path — runtime
    // filtering must hold there too (group structure pinned, reader
    // factory stays interchangeable), and results stay DV-correct
    LakeTable.deleteDV(spark, fact, Seq(3L, 9L).map(Tuple1(_)).toDF("k"), Seq("k"))
    spark.read.format("graftlake").load(fact).createOrReplaceTempView("rtf_fact")
    val (s2, plan2) = run()
    assert(s2 == Seq(6L, 12L, 15L).map(_ % 97).sum,
      "DV'd keys must stay erased under runtime filtering")
    assert(plan2.toLowerCase.contains("dynamicpruning"))
    val (kept2, total2) = graft.sources.GraftLakeSource.lastPrune(s"$fact@runtime")
    assert(total2 == 32 && kept2 * 4 <= total2,
      s"composite runtime filter should still skip files (kept $kept2/$total2)")
  }

  test("clustered lake tables: equal-bucketed join plans with ZERO Exchange and stays correct") {
    import spark.implicits._
    val root = freshPath("cluster")
    spark.conf.set("spark.sql.catalog.graft_clu",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_clu.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_clu.a")
    spark.sql("DROP TABLE IF EXISTS graft_clu.b")
    spark.sql("CREATE TABLE graft_clu.a (k BIGINT, va BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='8')")
    spark.sql("CREATE TABLE graft_clu.b (k BIGINT, vb BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='8')")
    (1L to 4000L).map(k => (k, k * 2)).toDF("k", "va")
      .createOrReplaceTempView("clu_a_src")
    (500L to 4500L).map(k => (k, k * 3)).toDF("k", "vb")
      .createOrReplaceTempView("clu_b_src")
    spark.sql("INSERT INTO graft_clu.a SELECT * FROM clu_a_src")
    spark.sql("INSERT INTO graft_clu.b SELECT * FROM clu_b_src")
    // a merge into one side must PRESERVE the clustering (bucket-routed
    // rewrite), or the join below would silently mis-align
    spark.sql("INSERT INTO graft_clu.a VALUES (17, 1700), (4999, 9998)")
    assert(LakeTable.manifest(s"$root/a",
      LakeTable.latestVersion(s"$root/a")).files.forall(_.bucket >= 0),
      "merge lost the file->bucket mapping")
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      // this test pins the CONSERVATIVE mismatched-count behavior
      // (exchanges return); with compatible transforms ON, 4 vs 8 would
      // FOLD exchange-free instead — that path is pinned by the
      // dedicated "SPJ across MISMATCHED bucket counts" test, and the
      // conf may have been left on by an entry run earlier in the JVM
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "false")
      // broadcast would trivially avoid the exchange; force the real
      // co-partitioned path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.sql("SELECT a.k, a.va, b.vb FROM graft_clu.a a " +
        "JOIN graft_clu.b b ON a.k = b.k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"expected a shuffle-family join operator:\n$plan")
      assert(!plan.contains("Exchange"),
        s"clustered fact-to-fact join must plan with ZERO Exchange:\n$plan")
      val got = joined.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = (500L to 4000L).map { k =>
        val va = if (k == 17L) 1700L else k * 2 // 17 < 500: not in join range anyway
        (k, va, k * 3)
      }.toSet
      assert(got == expect, "storage-partitioned join lost or duplicated rows")
      // POINT LOOKUP: the full-key equality pins one hash bucket — the
      // scan reads 1/n of the files before stats pruning even starts
      val one = spark.sql("SELECT va FROM graft_clu.a WHERE k = 1234")
      assert(one.collect().map(_.getLong(0)).toSeq == Seq(2468L))
      val (kept, total) = graft.sources.GraftLakeSource.lastPrune(s"$root/a")
      assert(total >= 8 && kept * 4 <= total,
        s"point lookup should bucket-prune to ~1/8 of the files (kept $kept/$total)")
      // aggregation on the clustering key is exchange-free too
      val agg = spark.sql("SELECT k, sum(va) AS s FROM graft_clu.a GROUP BY k")
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
        "groupBy on the clustering key must not shuffle a clustered table")
      assert(agg.count() == 4001)
      // CALL recluster changes the bucket count as a forward commit;
      // mismatched bucket counts make SPJ conservatively inapplicable —
      // the join re-plans WITH exchanges and stays correct
      val v = spark.sql("CALL graft_clu.system.recluster(`table` => 'a', " +
        "buckets => 4)").head().getInt(0)
      assert(LakeTable.manifest(s"$root/a", v).clusterBuckets == 4)
      val joined2 = spark.sql("SELECT a.k, a.va, b.vb FROM graft_clu.a a " +
        "JOIN graft_clu.b b ON a.k = b.k")
      assert(joined2.queryExecution.executedPlan.toString.contains("Exchange"),
        "4-bucket vs 8-bucket tables must NOT storage-partition join")
      assert(joined2.count() == expect.size.toLong)
      // INSERT OVERWRITE keeps the declared clustering (review r16 #2)
      spark.sql("INSERT OVERWRITE graft_clu.a SELECT * FROM clu_a_src")
      val mo = LakeTable.manifest(s"$root/a", LakeTable.latestVersion(s"$root/a"))
      assert(mo.clusterBuckets == 4 && mo.files.forall(_.bucket >= 0),
        "INSERT OVERWRITE dropped the declared clustering property")
      // zorder / partition evolution REFUSE rather than silently
      // dropping the clustering (review r16 #4)
      val ez = intercept[IllegalArgumentException] {
        LakeTable.rezorder(spark, s"$root/a", Seq("k", "va"))
      }
      assert(ez.getMessage.contains("CLUSTERED"))
      val ep = intercept[IllegalArgumentException] {
        LakeTable.evolvePartitioning(s"$root/a", Seq("va"))
      }
      assert(ep.getMessage.contains("CLUSTERED"))
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }

  test("clustered x DV lifecycle: SPJ survives sidecars (bucket-local anti-join); compact restores columnar") {
    import spark.implicits._
    val root = freshPath("cludv")
    spark.conf.set("spark.sql.catalog.graft_cdv",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cdv.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_cdv.a")
    spark.sql("DROP TABLE IF EXISTS graft_cdv.b")
    spark.sql("CREATE TABLE graft_cdv.a (k BIGINT, va BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='4')")
    spark.sql("CREATE TABLE graft_cdv.b (k BIGINT, vb BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='4')")
    (1L to 1000L).map(k => (k, k)).toDF("k", "va").createOrReplaceTempView("cdv_a")
    (1L to 1000L).map(k => (k, k * 2)).toDF("k", "vb").createOrReplaceTempView("cdv_b")
    spark.sql("INSERT INTO graft_cdv.a SELECT * FROM cdv_a")
    spark.sql("INSERT INTO graft_cdv.b SELECT * FROM cdv_b")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val savedBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def joinPlan = spark.sql("SELECT a.k FROM graft_cdv.a a " +
        "JOIN graft_cdv.b b ON a.k = b.k").queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange"), "clean clustered tables must SPJ")
      // a DV sidecar routes the read through the clustered COMPOSITE:
      // the anti-join is bucket-local (erased keys never move surviving
      // rows across buckets), so the snapshot KEEPS reporting its bucket
      // layout — the join stays exchange-free WITH the sidecar applied
      // (r17, VERDICT r16 ask #2; the read is row-based until compact —
      // that part of the composite price stands)
      spark.sql("DELETE FROM graft_cdv.a WHERE k > 990")
      assert(!joinPlan.contains("Exchange"),
        "a DV'd clustered snapshot must keep its exchange-free join " +
          "(the sidecar anti-join is bucket-local)")
      assert(spark.sql("SELECT count(*) FROM graft_cdv.a a JOIN graft_cdv.b b " +
        "ON a.k = b.k").head().getLong(0) == 990)
      // erased keys stay erased THROUGH the bucket-grouped partitions
      assert(spark.sql("SELECT count(*) FROM graft_cdv.a WHERE k > 985")
        .head().getLong(0) == 5)
      // a SECOND sidecar batch accumulates; the join still plans
      // exchange-free and both erasure generations apply
      spark.sql("DELETE FROM graft_cdv.a WHERE k BETWEEN 981 AND 985")
      assert(!joinPlan.contains("Exchange"),
        "accumulated sidecars must not suspend the storage-partitioned join")
      assert(spark.sql("SELECT count(*) FROM graft_cdv.a a JOIN graft_cdv.b b " +
        "ON a.k = b.k").head().getLong(0) == 985)
      // compact materializes the sidecars away — SPJ stays, and the
      // scan is pure columnar again
      spark.sql("CALL graft_cdv.system.compact(`table` => 'a', target_files => 4)")
      val mc = LakeTable.manifest(s"$root/a", LakeTable.latestVersion(s"$root/a"))
      assert(mc.clusterBuckets == 4 && mc.files.forall(_.bucket >= 0) &&
        mc.dvPaths.isEmpty, "compact must heal the clustered layout")
      assert(!joinPlan.contains("Exchange"), "compaction must keep SPJ")
      assert(spark.sql("SELECT count(*) FROM graft_cdv.a a JOIN graft_cdv.b b " +
        "ON a.k = b.k").head().getLong(0) == 985)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBroadcast)
  }

  test("SPJ across MISMATCHED bucket counts: 16 x 8 folds exchange-free; non-divisible re-plans with exchanges") {
    import spark.implicits._
    val root = freshPath("clufold")
    spark.conf.set("spark.sql.catalog.graft_cf",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cf.warehouse", root)
    Seq(("a", 16), ("b", 8), ("c", 12)).foreach { case (t, n) =>
      spark.sql(s"DROP TABLE IF EXISTS graft_cf.$t")
      spark.sql(s"CREATE TABLE graft_cf.$t (k BIGINT, v$t BIGINT) " +
        s"TBLPROPERTIES ('keys'='k', 'cluster_buckets'='$n')")
      (1L to 1000L).map(k => (k, k * (t.head - 'a' + 1)))
        .toDF("k", s"v$t").createOrReplaceTempView(s"cf_$t")
      spark.sql(s"INSERT INTO graft_cf.$t SELECT * FROM cf_$t")
    }
    val saved = Seq("spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def plan(l: String, r: String) = spark.sql(
        s"SELECT a.k FROM graft_cf.$l a JOIN graft_cf.$r b ON a.k = b.k")
        .queryExecution.executedPlan.toString
      // 16 x 8: the 16-side folds (bucket % 8 — pmod(h,16)%8 == pmod(h,8),
      // the ReducibleFunction contract) — ZERO exchange, exact rows
      assert(!plan("a", "b").contains("Exchange"),
        "16x8 clustered pair must fold to an exchange-free SPJ")
      val rows = spark.sql("SELECT a.k, a.va, b.vb FROM graft_cf.a a " +
        "JOIN graft_cf.b b ON a.k = b.k")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == (1L to 1000L).map(k => (k, k, k * 2)).toSet)
      // both orders fold (the reducer lives on the LARGER side)
      assert(!plan("b", "a").contains("Exchange"),
        "8x16 must fold too — direction-independent")
      // 12 x 8: no division relationship — conservative exchanges, and
      // rows still exact (correctness never depends on the fold)
      assert(plan("c", "b").contains("Exchange"),
        "non-divisible bucket counts must re-plan with exchanges")
      assert(spark.sql("SELECT count(*) FROM graft_cf.c a JOIN graft_cf.b b " +
        "ON a.k = b.k").head().getLong(0) == 1000)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("clustered write bucket purity survives shuffle elision + AQE coalescing") {
    import spark.implicits._
    // the r17 regression shape: the merge batch arrives ALREADY shuffled
    // by the key at EXACTLY nBuckets == shuffle.partitions, so the
    // write's repartition(n, keys) is elided as redundant and AQE may
    // legally coalesce the surviving upstream shuffle — bucket identity
    // must come from the writer's directory split, not part numbering
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val p = freshPath("bucketpure")
    LakeTable.createEmpty(p,
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, n BIGINT"),
      Seq("k"), clusterBuckets = 4)
    val batch = (1L to 4000L).map(k => (k % 500, 1L)).toDF("k", "v")
      .groupBy("k").agg(count("*").as("n")) // aggregate pre-shuffles by k at 4
    LakeTable.merge(spark, p, batch, Seq("k"))
    val m = LakeTable.manifest(p, 2)
    assert(m.files.nonEmpty && m.files.forall(_.bucket >= 0))
    // PURITY: every row of every file hashes to the file's labeled bucket
    m.files.foreach { e =>
      val buckets = spark.read.parquet(e.path)
        .select(pmod(hash(col("k")), lit(4)).as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(buckets == Set(e.bucket),
        s"file ${e.path} labeled bucket ${e.bucket} but holds $buckets")
    }
    // and the rows are intact
    assert(LakeTable.read(spark, p).count() == 500)
  }

  test("partition-scoped compaction: only the scoped directory rewrites; sidecars heal in scope") {
    import spark.implicits._
    val p = freshPath("compactw")
    val segs = Seq("a", "b", "c")
    val base = (1L to 300L).map(k => (k, segs((k % 3).toInt), k * 10)).toDF("k", "seg", "v")
    LakeTable.create(spark, p, base, Seq("k"), nBuckets = 4,
      partitionBy = Seq("seg"))
    // sidecar'd deletes in TWO partitions
    LakeTable.deleteDV(spark, p,
      Seq(3L, 6L).toDF("k"), Seq("k"))                    // seg a (k%3==0)
    LakeTable.deleteDV(spark, p,
      Seq(1L, 4L).toDF("k"), Seq("k"))                    // seg b (k%3==1)
    val vPre = LakeTable.latestVersion(p)
    val mPre = LakeTable.manifest(p, vPre)
    def segFiles(m: LakeTable.Manifest, s: String) =
      m.files.filter(_.part.get("seg").contains(s))
    assert(segFiles(mPre, "a").exists(_.dvs.nonEmpty) &&
      segFiles(mPre, "b").exists(_.dvs.nonEmpty))
    // scoped compact of seg a only
    val vPost = LakeTable.compactWhere(spark, p, Map("seg" -> "a"), 2)
    assert(vPost == vPre + 1)
    val mPost = LakeTable.manifest(p, vPost)
    // untouched partitions carry BY REFERENCE, sidecar refs intact
    assert(segFiles(mPost, "b").map(e => (e.path, e.dvs)).toSet ==
      segFiles(mPre, "b").map(e => (e.path, e.dvs)).toSet,
      "unscoped partition b must carry bit-identical")
    assert(segFiles(mPost, "c").map(_.path).toSet ==
      segFiles(mPre, "c").map(_.path).toSet)
    // scoped partition: rewritten fresh, sidecars materialized away
    assert(segFiles(mPost, "a").forall(e =>
      e.dvs.isEmpty && e.pos.isEmpty && e.path.contains("compactw-v")),
      "scoped partition a must rewrite with sidecars healed")
    // rows exact everywhere (b's sidecar still applies at read)
    val got = LakeTable.read(spark, p).select("k").as[Long].collect().toSet
    assert(got == (1L to 300L).toSet -- Set(3L, 6L, 1L, 4L))
    // refusals: non-partition column, clustered table
    val e1 = intercept[IllegalArgumentException](
      LakeTable.compactWhere(spark, p, Map("k" -> "1"), 2))
    assert(e1.getMessage.contains("partition"))
    // no matching partition: NO commit
    assert(LakeTable.compactWhere(spark, p, Map("seg" -> "zzz"), 2) == vPost)
    assert(LakeTable.latestVersion(p) == vPost)
    val pc = freshPath("compactwclu")
    LakeTable.create(spark, pc, (1L to 50L).map(k => (k, k)).toDF("k", "v"),
      Seq("k"), nBuckets = 4, layout = "cluster")
    val e2 = intercept[IllegalArgumentException](
      LakeTable.compactWhere(spark, pc, Map("v" -> "1"), 2))
    assert(e2.getMessage.contains("bucket map"))
    // column mapping CARRIES across a scoped compact (no heal)
    LakeTable.renameColumn(p, "v", "value")
    val vMap = LakeTable.compactWhere(spark, p, Map("seg" -> "c"), 2)
    val mMap = LakeTable.manifest(p, vMap)
    assert(mMap.colMap.nonEmpty,
      "scoped compaction must not heal the column mapping")
    assert(LakeTable.read(spark, p).filter(col("k") === 2L)
      .select("value").as[Long].head() == 20L)
    // SQL surface: CALL system.compact(..., where => 'seg=b') heals b
    spark.conf.set("spark.sql.catalog.graft_cw",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cw.warehouse",
      new java.io.File(p).getParent)
    val tbl = new java.io.File(p).getName
    spark.sql(s"CALL graft_cw.system.compact(`table` => '$tbl', " +
      "target_files => 2, where => 'seg=b')")
    val mSql = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(segFiles(mSql, "b").forall(e => e.dvs.isEmpty && e.pos.isEmpty))
    assert(LakeTable.read(spark, p).count() == 296)
  }

  test("aggregate pushdown: manifest-only count/min/max; sidecars, filters, strings refuse") {
    import spark.implicits._
    import graft.sources.GraftLakeSource
    val root = freshPath("aggpush")
    spark.conf.set("spark.sql.catalog.graft_ap",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ap.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_ap.t")
    spark.sql("CREATE TABLE graft_ap.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 1000L).map(k => (k, s"s$k", k * 3)).toDF("k", "s", "v")
      .createOrReplaceTempView("ap_src")
    spark.sql("INSERT INTO graft_ap.t SELECT * FROM ap_src")
    val p = s"$root/t"
    // clean snapshot: the aggregate answers from the manifest, and the
    // executed plan carries the metadata scan (no parquet read)
    val q1 = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM graft_ap.t")
    val r1 = q1.head()
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == (1000L, 1L, 1000L))
    assert(GraftLakeSource.lastAggPush(p),
      "clean snapshot must serve count/min/max from the manifest")
    assert(q1.queryExecution.executedPlan.toString.contains("GraftLakeAggScan"),
      "the executed plan must carry the metadata-only scan")
    // string extremes refuse (footer stats are bounds, not answers) —
    // and the fallback row scan stays exact
    assert(spark.sql("SELECT max(s) AS mxs FROM graft_ap.t")
      .head().getString(0) == "s999")
    assert(!GraftLakeSource.lastAggPush(p),
      "string min/max must not answer from footer stats")
    // a filter blocks the pushdown (our filters are all residual, so
    // Spark's own rule keeps the Filter node and never pushes the agg)
    assert(spark.sql("SELECT count(*) AS n FROM graft_ap.t WHERE k > 500")
      .head().getLong(0) == 500L)
    assert(!GraftLakeSource.lastAggPush(p))
    // GROUP BY blocks
    assert(spark.sql(
      "SELECT k % 2 AS par, count(*) AS n FROM graft_ap.t GROUP BY k % 2")
      .collect().map(_.getLong(1)).sum == 1000L)
    assert(!GraftLakeSource.lastAggPush(p))
    // a merge-on-read DELETE leaves sidecars: pushdown must refuse
    // (deleted rows still live in the files) and the fallback is exact
    spark.sql("DELETE FROM graft_ap.t WHERE k <= 10")
    val r2 = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn FROM graft_ap.t").head()
    assert((r2.getLong(0), r2.getLong(1)) == (990L, 11L))
    assert(!GraftLakeSource.lastAggPush(p),
      "a sidecar'd snapshot must not answer aggregates from the manifest")
    // compact materializes the sidecars away and re-enables the pushdown
    spark.sql("CALL graft_ap.system.compact(`table` => 't', target_files => 4)")
    val r3 = spark.sql(
      "SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM graft_ap.t").head()
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) == (990L, 11L, 1000L))
    assert(GraftLakeSource.lastAggPush(p),
      "compact must heal the snapshot back to manifest-served aggregates")
    // POSITIONAL delete: the sidecar's cardinality rides the manifest,
    // so COUNT(*) stays metadata-only; MIN/MAX refuse under it (a
    // deleted ordinal may hold the extreme)
    LakeTable.deletePos(spark, p, Seq(20L, 21L).toDF("k"), Seq("k"))
    assert(spark.sql("SELECT count(*) AS n FROM graft_ap.t")
      .head().getLong(0) == 988L)
    assert(GraftLakeSource.lastAggPush(p),
      "positional-DV count must subtract the manifest cardinality")
    assert(spark.sql("SELECT min(k) AS mn FROM graft_ap.t")
      .head().getLong(0) == 11L)
    assert(!GraftLakeSource.lastAggPush(p),
      "min/max under positional DVs must row-scan")
    // a second positional delete ACCUMULATES cardinality correctly
    LakeTable.deletePos(spark, p, Seq(22L).toDF("k"), Seq("k"))
    assert(spark.sql("SELECT count(*) AS n FROM graft_ap.t")
      .head().getLong(0) == 987L)
    assert(GraftLakeSource.lastAggPush(p))
  }

  test("rename -> re-add: the vacated logical name gets a fresh physical; CDC crosses the chain") {
    import spark.implicits._
    val p = freshPath("renreadd")
    val base = (1L to 50L).map(k => (k, s"a$k")).toDF("k", "a")
    LakeTable.create(spark, p, base, Seq("k"))
    LakeTable.renameColumn(p, "a", "alpha")
    // re-adding the VACATED old name must allocate a fresh physical —
    // the live physical `a` now serves logical `alpha`, so a naive
    // identity mapping for the re-added `a` would resurrect its bytes
    LakeTable.addColumns(p, Seq(org.apache.spark.sql.types.StructField(
      "a", org.apache.spark.sql.types.StringType)))
    val live = LakeTable.read(spark, p)
    assert(live.filter(col("a").isNotNull).count() == 0,
      "renamed-away column bytes resurrected under the re-added name")
    assert(live.filter(col("alpha") === "a5").count() == 1,
      "the renamed column lost its original bytes")
    // writes land in the fresh physical and stay separable from alpha
    LakeTable.merge(spark, p,
      Seq((5L, "upd", "NEW")).toDF("k", "alpha", "a"), Seq("k"))
    val r5 = LakeTable.read(spark, p).filter(col("k") === 5L)
      .select("alpha", "a").head()
    assert(r5.getString(0) == "upd" && r5.getString(1) == "NEW")
    assert(LakeTable.read(spark, p).filter(col("a").isNotNull).count() == 1)
    // ONE change feed across rename + re-add + merge: target-version
    // names, the k=5 row classifies as an update carrying both columns
    val feed = LakeTable.changes(spark, p, 1, LakeTable.latestVersion(p),
      Seq("k"), includeBefore = true)
    assert(feed.columns.toSet ==
      Set("k", "_change_type", "alpha", "a", "_before_alpha", "_before_a"),
      s"cross-rename/re-add feed columns: ${feed.columns.mkString(",")}")
    val f5 = feed.filter(col("k") === 5L).head()
    assert(f5.getAs[String]("_change_type") == "update" &&
      f5.getAs[String]("alpha") == "upd" && f5.getAs[String]("a") == "NEW" &&
      f5.getAs[String]("_before_alpha") == "a5" &&
      f5.getAs[String]("_before_a") == null)
    assert(feed.count() == 1, "untouched rows leaked into the feed")
  }

  test("column mapping: RENAME/DROP COLUMN are header-only; retired names never resurrect") {
    import spark.implicits._
    val root = freshPath("colmap")
    spark.conf.set("spark.sql.catalog.graft_cm",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cm.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_cm.t")
    spark.sql("CREATE TABLE graft_cm.t (k BIGINT, a STRING, b BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 100L).map(k => (k, s"a$k", k * 2)).toDF("k", "a", "b")
      .createOrReplaceTempView("cm_src")
    spark.sql("INSERT INTO graft_cm.t SELECT * FROM cm_src")
    val p = s"$root/t"
    val files2 = LakeTable.manifestFiles(p, 2).toSet
    // RENAME: header-only — the file list is bit-identical
    spark.sql("ALTER TABLE graft_cm.t RENAME COLUMN a TO alpha")
    assert(LakeTable.manifestFiles(p, 3).toSet == files2,
      "RENAME COLUMN must move zero data files")
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 5")
      .head().getString(0) == "a5")
    intercept[Exception] { spark.sql("SELECT a FROM graft_cm.t").collect() }
    // as-of reads keep their version's names
    assert(spark.read.format("graftlake").option("versionAsOf", "2").load(p)
      .select("a").count() == 100)
    // a mapped snapshot still reads COLUMNAR (r17: the renamed scan
    // reports logical names over the physical positions — no composite
    // row path for a clean mapped table)
    val planCm = spark.sql("SELECT alpha FROM graft_cm.t WHERE k < 10")
      .queryExecution.executedPlan.toString
    assert(planCm.contains("ColumnarToRow"),
      s"a clean mapped table must keep the columnar scan:\n$planCm")
    // writes after the rename keep merging under the stable physical
    spark.sql("INSERT INTO graft_cm.t VALUES (5, 'upd', 10)")
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 5")
      .head().getString(0) == "upd")
    assert(spark.sql("SELECT count(*) FROM graft_cm.t").head().getLong(0) == 100)
    // stats pruning still bites on the renamed column's physical stats
    // (merge-identity k is unmapped, but the residual read is via alpha)
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 50")
      .head().getString(0) == "a50")
    // DROP: header-only; the column leaves the schema, data files stay
    val vBeforeDrop = LakeTable.latestVersion(p)
    spark.sql("ALTER TABLE graft_cm.t DROP COLUMN b")
    assert(LakeTable.manifestFiles(p, vBeforeDrop + 1).toSet ==
      LakeTable.manifestFiles(p, vBeforeDrop).toSet,
      "DROP COLUMN must move zero data files")
    intercept[Exception] { spark.sql("SELECT b FROM graft_cm.t").collect() }
    assert(spark.read.format("graftlake").option("versionAsOf", "2").load(p)
      .select("b").agg(sum("b")).head().getLong(0) == (1L to 100L).map(_ * 2).sum)
    // RE-ADD of the dropped name: fresh physical — the old b bytes MUST
    // NOT resurrect (every pre-add row reads null)
    spark.sql("ALTER TABLE graft_cm.t ADD COLUMN b BIGINT")
    assert(spark.sql("SELECT count(*) FROM graft_cm.t WHERE b IS NOT NULL")
      .head().getLong(0) == 0,
      "dropped column data resurrected under a re-added name")
    spark.sql("INSERT INTO graft_cm.t VALUES (7, 'seven', 777)")
    assert(spark.sql("SELECT b FROM graft_cm.t WHERE k = 7").head().getLong(0) == 777)
    assert(spark.sql("SELECT count(*) FROM graft_cm.t WHERE b IS NOT NULL")
      .head().getLong(0) == 1)
    // V1 read path agrees with the V2/SQL one
    val v1row = LakeTable.read(spark, p).filter(col("k") === 7L)
      .select("alpha", "b").head()
    assert(v1row.getString(0) == "seven" && v1row.getLong(1) == 777L)
    // refusals: identity/partition columns and retypes stay loud
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cm.t RENAME COLUMN k TO kk") }
    assert(e1.getMessage.contains("identity"))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cm.t DROP COLUMN k") }
    assert(e2.getMessage.contains("identity"))
    // retype refuses loudly (ours or Spark's own V2 refusal — both loud)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cm.t ALTER COLUMN alpha TYPE BIGINT") }
    assert(e3.getMessage != null && e3.getMessage.nonEmpty)
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 7")
      .head().getString(0) == "seven", "a refused retype must not corrupt reads")
    // compact HEALS the mapping: files rewritten under current logical
    // names, identity map, pure columnar V2 again — and rows identical
    spark.sql("CALL graft_cm.system.compact(`table` => 't', target_files => 2)")
    val mHealed = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(mHealed.colMap.isEmpty && mHealed.retired.isEmpty,
      "compact must heal the column mapping to identity")
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 7")
      .head().getString(0) == "seven")
    assert(spark.sql("SELECT count(*) FROM graft_cm.t WHERE b IS NOT NULL")
      .head().getLong(0) == 1)
    // drop + re-add AFTER the heal: the healed files carry real `b`
    // bytes (k=7 -> 777), so the retire/fresh-physical cycle must again
    // keep them from resurrecting
    spark.sql("ALTER TABLE graft_cm.t DROP COLUMN b")
    spark.sql("ALTER TABLE graft_cm.t ADD COLUMN b BIGINT")
    assert(spark.sql("SELECT count(*) FROM graft_cm.t WHERE b IS NOT NULL")
      .head().getLong(0) == 0,
      "healed-file column data resurrected after drop + re-add")
    // the WHOLE DML surface works over the mapped names: UPDATE,
    // DELETE and MERGE INTO (all lowered by LakeDml) classify/rewrite
    // under the logical schema while files stay physical
    spark.sql("UPDATE graft_cm.t SET alpha = 'U9' WHERE k = 9")
    assert(spark.sql("SELECT alpha FROM graft_cm.t WHERE k = 9")
      .head().getString(0) == "U9")
    spark.sql("DELETE FROM graft_cm.t WHERE alpha = 'U9'")
    assert(spark.sql("SELECT count(*) FROM graft_cm.t WHERE k = 9")
      .head().getLong(0) == 0)
    Seq((10L, "M10", 100L)).toDF("k", "alpha", "b")
      .createOrReplaceTempView("cm_merge_src")
    spark.sql("""MERGE INTO graft_cm.t AS tg USING cm_merge_src AS s
      ON tg.k = s.k WHEN MATCHED THEN UPDATE SET *""")
    assert(spark.sql("SELECT alpha, b FROM graft_cm.t WHERE k = 10")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("M10", 100L)))
    // SHOW TBLPROPERTIES surfaces the live mapping (alpha healed to
    // identity at the compact above; the re-added b carries the fresh
    // physical)
    val cmProps = spark.sql("SHOW TBLPROPERTIES graft_cm.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cmProps.get("column_mapping").exists(_.startsWith("b->")),
      s"mapping not surfaced: $cmProps")
    // multi-change ALTER is ATOMIC (review r17-2 #1): an invalid later
    // change must leave earlier ones UNAPPLIED — validation runs for
    // the whole statement before any commit
    val vPre = LakeTable.latestVersion(p)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cm.t DROP COLUMNS (b, k)")
    }
    assert(LakeTable.latestVersion(p) == vPre,
      "a refused multi-change ALTER committed a version")
    assert(spark.sql("SELECT b FROM graft_cm.t").columns.toSeq == Seq("b"),
      "a refused multi-change ALTER half-applied an earlier drop")
    // CDC across a RENAME (review r17-2 #2): the rename commit churns
    // zero keys, identity is physical — the feed reads under the
    // TARGET version's names instead of refusing
    val renameV = spark.sql(
      "SELECT version FROM graft_cm.t.history WHERE op LIKE 'rename%'")
      .head().getInt(0)
    val feed = LakeTable.changes(spark, p, renameV - 1, renameV + 1, Seq("k"))
    assert(feed.columns.contains("alpha"),
      "the cross-rename feed must speak the target version's names")
    assert(feed.filter(col("_change_type") === "update").count() > 0)
  }

  test("runtime filtering on the CLUSTERED scan: value-bucket pruning, partitioning preserved") {
    import spark.implicits._
    val root = freshPath("rtclu")
    spark.conf.set("spark.sql.catalog.graft_rc",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rc.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_rc.f")
    spark.sql("CREATE TABLE graft_rc.f (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='8')")
    (1L to 20000L).map(k => (k, k % 97)).toDF("k", "v")
      .createOrReplaceTempView("rc_src")
    spark.sql("INSERT INTO graft_rc.f SELECT * FROM rc_src")
    // parquet dim (a LocalRelation's filter constant-folds; DPP needs a
    // real scan): 3 hot keys, scattered
    Seq((3L, "hot"), (1003L, "hot"), (7777L, "hot"), (15000L, "cold"))
      .toDF("dk", "tag").write.mode("overwrite").parquet(s"$root/dim")
    spark.read.parquet(s"$root/dim").createOrReplaceTempView("rc_dim")
    val fact = s"$root/f"
    def run(): Long = {
      val q = spark.sql("SELECT sum(f.v) AS s FROM graft_rc.f f " +
        "JOIN rc_dim d ON f.k = d.dk WHERE d.tag = 'hot'")
      val got = q.collect()(0).getLong(0)
      assert(q.queryExecution.executedPlan.toString.toLowerCase
        .contains("dynamicpruning"), "DPP did not reach the clustered scan")
      got
    }
    assert(run() == Seq(3L, 1003L, 7777L).map(_ % 97).sum)
    val (kept, total) = graft.sources.GraftLakeSource.lastPrune(s"$fact@runtime")
    // 3 values hash to <= 3 of 8 buckets: the value-bucket tier must
    // prune at least the other 5 buckets' files
    assert(total == 8 && kept <= 3,
      s"value-bucket runtime pruning too weak (kept $kept/$total)")
    // the same join with v2 bucketing ON: the reported partitioning
    // must survive runtime filtering (emptied buckets keep an empty
    // partition), and the result stays exact
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      assert(run() == Seq(3L, 1003L, 7777L).map(_ % 97).sum,
        "runtime filtering under v2 bucketing lost rows")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    }
    // a DV sidecar routes the table through the clustered COMPOSITE:
    // runtime filtering (incl. the value-bucket tier) must hold there
    // too, the erased key stays erased, and the partitioning survives
    spark.sql("DELETE FROM graft_rc.f WHERE k = 1003")
    assert(run() == Seq(3L, 7777L).map(_ % 97).sum,
      "the DV'd clustered composite lost erasure or rows under runtime filtering")
    val (kc, tc) = graft.sources.GraftLakeSource.lastPrune(s"$fact@runtime")
    assert(tc == 8 && kc <= 3,
      s"composite value-bucket runtime pruning too weak (kept $kc/$tc)")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      assert(run() == Seq(3L, 7777L).map(_ % 97).sum,
        "the DV'd clustered composite lost rows under v2 bucketing + runtime filters")
    } finally {
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      spark.conf.unset("spark.sql.sources.v2.bucketing.pushPartValues.enabled")
    }
  }

  test("SPJ x skew: partially-clustered distribution splits a multi-file bucket, zero Exchange") {
    import spark.implicits._
    val root = freshPath("spjskew")
    spark.conf.set("spark.sql.catalog.graft_sk",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_sk.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_sk.f")
    spark.sql("DROP TABLE IF EXISTS graft_sk.d")
    spark.sql("CREATE TABLE graft_sk.f (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='4')")
    spark.sql("CREATE TABLE graft_sk.d (k BIGINT, w BIGINT) " +
      "TBLPROPERTIES ('keys'='k', 'cluster_buckets'='4')")
    (1L to 4000L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("sk_f")
    (1L to 4000L).map(k => (k, k * 7)).toDF("k", "w").createOrReplaceTempView("sk_d")
    // three commits give each FACT bucket several files (a real ingest's
    // shape — the skewed side); the dim stays one file per bucket
    spark.sql("INSERT INTO graft_sk.f SELECT * FROM sk_f")
    spark.sql("INSERT INTO graft_sk.f SELECT k + 4000, v FROM sk_f")
    spark.sql("INSERT INTO graft_sk.f SELECT k + 8000, v FROM sk_f")
    spark.sql("INSERT INTO graft_sk.d SELECT * FROM sk_d")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def join = spark.sql(
        "SELECT f.k, f.v, d.w FROM graft_sk.f f JOIN graft_sk.d d ON f.k = d.k")
      val expect = (1L to 4000L).map(k => (k, k, k * 7)).toSet
      // default: fully-grouped SPJ — one task per bucket, zero Exchange
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
      val j1 = join
      assert(!j1.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(j1.rdd.getNumPartitions == 4,
        "grouped SPJ should plan one partition per bucket")
      assert(j1.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        == expect)
      // partially-clustered: the bigger (multi-file) side KEEPS its
      // per-file splits — a hot bucket no longer serializes into one
      // task — while the join still plans with ZERO Exchange
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "true")
      val j2 = join
      assert(!j2.queryExecution.executedPlan.toString.contains("Exchange"),
        "partially-clustered SPJ must stay exchange-free")
      assert(j2.rdd.getNumPartitions > 4,
        s"partially-clustered SPJ should keep the skewed side split, " +
          s"got ${j2.rdd.getNumPartitions} partitions")
      assert(j2.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        == expect, "partially-clustered SPJ lost or duplicated rows")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      spark.conf.set(
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled", "false")
    }
  }

  test("metadata tables: SELECT from <t>.history and <t>.files reads the manifest, zero data I/O") {
    import spark.implicits._
    val root = freshPath("metatbl")
    spark.conf.set("spark.sql.catalog.graft_mt",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mt.warehouse", root)
    spark.sql("DROP TABLE IF EXISTS graft_mt.t")
    spark.sql("CREATE TABLE graft_mt.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 100L).map(k => (k, k)).toDF("k", "v").createOrReplaceTempView("mt_src")
    spark.sql("INSERT INTO graft_mt.t SELECT * FROM mt_src")
    spark.sql("DELETE FROM graft_mt.t WHERE k > 90") // DV commit
    // history: one row per version, ops in order, joinable/filterable
    val hist = spark.sql(
      "SELECT version, op, n_files, n_dvs FROM graft_mt.t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(hist.map(_._1).toSeq == Seq(1, 2, 3))
    assert(hist(0)._2 == "create" && hist(1)._2 == "merge")
    assert(hist(2)._4 > 0, "the DV commit must report its sidecars")
    // committed_at is the TIMESTAMP-AS-OF clock, monotone over versions
    val times = spark.sql(
      "SELECT committed_at FROM graft_mt.t.history ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(times.sliding(2).forall(w => w(0) <= w(1)))
    // files: one row per current-snapshot entry, matching the manifest
    val m = LakeTable.manifest(s"$root/t", 3)
    val files = spark.sql(
      "SELECT path, n_dvs FROM graft_mt.t.files ORDER BY path").collect()
    assert(files.length == m.files.size)
    assert(files.map(_.getString(0)).toSet == m.files.map(_.path).toSet)
    assert(files.map(_.getInt(1)).sum == m.files.map(_.dvs.size).sum)
    // the relations are real SQL citizens: aggregate over history
    assert(spark.sql("SELECT max(n_files) FROM graft_mt.t.history")
      .head().getInt(0) == m.files.size)
    // `snapshots` is the Iceberg-named sibling of `history`
    assert(spark.sql("SELECT version, op FROM graft_mt.t.snapshots ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      hist.map(h => (h._1, h._2)).toSeq)
    // a missing parent still refuses loudly
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_mt.nosuch.history").collect()
    }
  }

  test("convert: an existing Hive-partitioned parquet dir becomes a lake table in place") {
    import spark.implicits._
    val root = freshPath("convert")
    spark.conf.set("spark.sql.catalog.graft_cv",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_cv.warehouse", root)
    val p = s"$root/conv_t"
    // the pre-existing corpus: plain partitioned parquet, no lake
    (1L to 200L).map(k => (k, k % 4, s"v$k")).toDF("k", "d", "s")
      .write.partitionBy("d").parquet(p)
    val pre = graft.sources.LakeIo.leafParquet(p)
      .map(graft.sources.LakeIo.normKey).toSet
    // conversion through the SQL surface
    val v = spark.sql("CALL graft_cv.system.convert(`table` => 'conv_t', " +
      "keys => 'k')").head().getInt(0)
    assert(v == 1)
    assert(LakeTable.manifestFiles(p, 1)
      .map(graft.sources.LakeIo.normKey).toSet == pre,
      "convert must reference the pre-existing files in place")
    val m = LakeTable.manifest(p, 1)
    assert(m.parts == Seq("d"), s"partition dirs must lift, got ${m.parts}")
    // reads: full, partition-filtered, and through the catalog SQL
    assert(LakeTable.read(spark, p).count() == 200)
    assert(spark.sql("SELECT count(*) FROM graft_cv.conv_t WHERE d = 2")
      .head().getLong(0) == 50)
    // lifted partition values prune as exact-range stats
    val (kept, total) = LakeTable.prunedEntries(p, 1, "d", 2L, 2L)
    assert(total >= 4 && kept.size * 2 <= total,
      s"partition-lifted stats should prune (kept ${kept.size}/$total)")
    // the converted table is a full citizen: keyed merge + time travel
    // directory inference typed `d` as INT — the merge batch must match
    LakeTable.merge(spark, p,
      Seq((5L, (5L % 4).toInt, "upd")).toDF("k", "d", "s"), Seq("k"))
    assert(LakeTable.read(spark, p).filter(col("k") === 5L)
      .select("s").head().getString(0) == "upd")
    assert(LakeTable.read(spark, p, Some(1)).filter(col("k") === 5L)
      .select("s").head().getString(0) == "v5",
      "as-of v1 must still read the raw corpus")
    // converting an existing lake table refuses loudly
    val e = intercept[IllegalArgumentException] {
      LakeTable.convert(spark, p, Seq("k"))
    }
    assert(e.getMessage.contains("already"))
  }

  test("CTAS through the catalog; DESCRIBE/SHOW TBLPROPERTIES render honest metadata") {
    import spark.implicits._
    val root = freshPath("ctas")
    spark.conf.set("spark.sql.catalog.graft_ctas",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ctas.warehouse", root)
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "s")
      .createOrReplaceTempView("ctas_src")
    // CREATE TABLE AS SELECT: catalog createTable from the query schema,
    // then the V1-fallback keyed write lands the rows as version 2
    spark.sql("CREATE TABLE graft_ctas.t TBLPROPERTIES('keys'='k') " +
      "AS SELECT k, s FROM ctas_src")
    assert(spark.sql("SELECT count(*) FROM graft_ctas.t").head().getLong(0) == 100)
    // the CTAS table is a full citizen: INSERT is still the keyed merge
    spark.sql("INSERT INTO graft_ctas.t VALUES (7, 'upd')")
    assert(spark.sql("SELECT count(*) FROM graft_ctas.t").head().getLong(0) == 100)
    assert(spark.sql("SELECT s FROM graft_ctas.t WHERE k = 7").head().getString(0) == "upd")
    // metadata renders from the manifest header
    val props = spark.sql("SHOW TBLPROPERTIES graft_ctas.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("keys").contains("k"))
    // a clustered table's DESCRIBE shows the bucket transform
    spark.sql("CREATE TABLE graft_ctas.c (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('keys'='k','cluster_buckets'='4')")
    spark.sql("INSERT INTO graft_ctas.c VALUES (1, 10)")
    val desc = spark.sql("DESCRIBE EXTENDED graft_ctas.c").collect()
      .map(_.toString).mkString("\n")
    assert(desc.contains("bucket(4, k)"), s"DESCRIBE missing the clustering:\n$desc")
  }

  test("cross-PROCESS OCC race: two JVMs' log-store clients never both win a version") {
    // The in-JVM race specs share one process's FileSystem cache; an
    // object-store deployment runs INDEPENDENT clients. This forks a
    // second JVM (graft.RaceMain — no Spark, the log protocol is pure
    // metadata I/O) and races putIfAbsent publishes for 60 versions of
    // one file:-URI table log through two unrelated FileContext
    // instances. The OCC invariant under test: for every version,
    // EXACTLY ONE racer wins and the loser detects the conflict — never
    // a lost/torn commit, never both believing they won.
    val dirRaw = freshPath("xprocrace")
    val dir = "file:" + dirRaw
    val n = 60
    val tmp = java.nio.file.Files.createTempDirectory("graft_race")
    val childOut = tmp.resolve("child.txt")
    val goFile = tmp.resolve("go")
    val java17 = java.nio.file.Paths.get(System.getProperty("java.home"),
      "bin", "java").toString
    val pb = new ProcessBuilder(java17, "-cp",
      System.getProperty("java.class.path"),
      "graft.RaceMain", dir, n.toString, "child",
      childOut.toString, goFile.toString)
    pb.redirectErrorStream(true)
    pb.redirectOutput(java.io.File.createTempFile("graft_race_log", ".txt"))
    val child = pb.start()
    try {
      // parent racer: its own store instance, started on the barrier
      val store = graft.sources.LakeLogStore.forPath(dir)
      Thread.sleep(1500) // let the child JVM reach the barrier spin
      java.nio.file.Files.createFile(goFile)
      // per-version RENDEZVOUS markers (mirrored in RaceMain), plus a
      // deterministic split: ODD versions race for real from the
      // synchronized point; on EVEN versions the parent waits (bounded)
      // for the child's publish to LAND and then attempts — exercising
      // the cross-process conflict-detection path from the losing side.
      // Without the split, host load starves the cold child JVM and the
      // warm parent sweeps all 60 (a scheduler artifact, not the OCC
      // property under test — observed under full-suite runs).
      val parentWins = (1 to n).map { v =>
        val target = new org.apache.hadoop.fs.Path(s"$dir/_log", f"v$v%05d.json")
        java.nio.file.Files.createFile(tmp.resolve(s"rdv-parent-$v"))
        val peerMark = tmp.resolve(s"rdv-child-$v")
        val waitUntil = System.nanoTime() + 5L * 1000 * 1000 * 1000
        while (!java.nio.file.Files.exists(peerMark) &&
          System.nanoTime() < waitUntil) Thread.`yield`()
        if (v % 2 == 0) {
          val landBy = System.nanoTime() + 5L * 1000 * 1000 * 1000
          while (!store.exists(target) && System.nanoTime() < landBy)
            Thread.`yield`()
        }
        val won =
          try { store.putIfAbsent(target, s"""{"racer":"parent","v":$v}"""); true }
          catch {
            case e: IllegalStateException if e.getMessage.contains("conflict") => false
          }
        v -> won
      }.toMap
      assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "forked racer did not finish")
      assert(child.exitValue() == 0, "forked racer failed")
      val childWins = scala.io.Source.fromFile(childOut.toFile).getLines()
        .map(_.split(' ')).map(a => a(0).toInt -> (a(1) == "won")).toMap
      assert(childWins.size == n, "forked racer under-reported")
      val store2 = graft.sources.LakeLogStore.forPath(dir)
      (1 to n).foreach { v =>
        assert(parentWins(v) ^ childWins(v),
          s"version $v: parent=${parentWins(v)} child=${childWins(v)} — " +
            "exactly one racer must win each version")
        // the committed bytes are exactly the winner's payload — no torn
        // or replaced commit
        val winner = if (parentWins(v)) "parent" else "child"
        val content = store2.read(
          new org.apache.hadoop.fs.Path(s"$dir/_log", f"v$v%05d.json"))
        assert(content == s"""{"racer":"$winner","v":$v}""",
          s"version $v: committed bytes are not the winner's payload")
      }
      // genuine contention, not one process sweeping an idle log
      val p = (1 to n).count(parentWins)
      assert(p > 0 && p < n,
        s"race was one-sided ($p/$n parent wins) — raise n or re-balance the barrier")
    } finally { child.destroyForcibly(); () }
  }

  test("lake_merge_asof entry: both generations present, non-vacuous, decision replay") {
    val out = graft.operators.MergeOps.qLakeMergeAsof(spark, SfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val v1 = out.filter(_._1 == 1L)
    val v2 = out.filter(_._1 == 2L)
    assert(v1.nonEmpty && v2.nonEmpty)
    // inserts exist only in v2; updated statuses only in v2
    assert(v2.count(_._2 >= graft.operators.MergeOps.LakeInsertOffset) > 0)
    assert(v2.count(_._3 == "U") > 0 && v1.count(_._3 == "U") == 0)
    // same key count plus inserts
    assert(v2.length == v1.length + v2.count(_._2 >= graft.operators.MergeOps.LakeInsertOffset))
  }

  test("table properties survive every commit kind and checkpoint reconstruction") {
    import spark.implicits._
    val p = freshPath("props")
    val props = Map("snapshot" -> "5f3a9c01", "nCells" -> "16")
    LakeTable.createEmpty(p, org.apache.spark.sql.types.StructType.fromDDL(
      "k BIGINT, s STRING, v BIGINT"), Seq("k"), props = props)
    def df(ks: Range, s: String) = ks.map(k => (k.toLong, s, k.toLong)).toDF("k", "s", "v")
    def latestProps = LakeTable.manifest(p, LakeTable.latestVersion(p)).props
    val steps: Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => LakeTable.merge(spark, p, df(1 to 40, "a"), Seq("k"))),
      "append" -> (() => LakeTable.append(spark, p, df(41 to 50, "b"))),
      "delete-dv" -> (() => LakeTable.deleteDV(spark, p, Seq(3L).toDF("k"), Seq("k"))),
      "compact" -> (() => LakeTable.compact(spark, p, 2)),
      "rename-column:s->t" -> (() => LakeTable.renameColumn(p, "s", "t")),
      "delete" -> (() => LakeTable.delete(spark, p, Seq(4L).toDF("k"), Seq("k"))),
      "merge" -> (() => LakeTable.merge(spark, p,
        df(5 to 6, "c").withColumnRenamed("s", "t"), Seq("k"))),
      "merge" -> (() => LakeTable.merge(spark, p,
        df(7 to 8, "d").withColumnRenamed("s", "t"), Seq("k"))))
    steps.foreach { case (op, run) =>
      run()
      assert(LakeTable.manifest(p, LakeTable.latestVersion(p)).op == op)
      assert(latestProps == props, s"$op dropped the table properties")
    }
    // version 9 reconstructs from the version-8 checkpoint plus one delta
    assert(LakeTable.latestVersion(p) == LakeTable.ChkInterval + 1)
    assert(local(f"$p/_log/chk-v${LakeTable.ChkInterval}%05d.json").exists)
    (1 to LakeTable.latestVersion(p)).foreach(v =>
      assert(LakeTable.manifest(p, v).props == props, s"version $v"))
    assert(LakeTable.read(spark, p).count() == 48L)
  }
}

