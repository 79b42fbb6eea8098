package graft

import graft.sources.LakeTable

/** SQL MERGE INTO / UPDATE over graftlake catalog tables — the planner
  * extension (graft.plans.LakeDml) lowering onto the lake's
  * transactional keyed merge/delete: semantics per clause, one atomic
  * version per statement, first-match-wins clause precedence, loud
  * refusals for the unsupported surface, and non-graftlake targets
  * untouched. */
class LakeDmlSpec extends SparkSpec {

  /** This spec's fixture root, one per JVM: two test runs on one
    * machine never share (and delete) each other's tables. */
  private lazy val fixtures = java.nio.file.Files.createTempDirectory("graft_lakedml")

  private def freshRoot(tag: String): String = {
    val p = fixtures.resolve(tag).toString
    LakeTable.deleteRecursively(new java.io.File(p))
    p
  }

  private def setupCatalog(tag: String): String = {
    val root = freshRoot(tag)
    spark.conf.set(s"spark.sql.catalog.dml_$tag",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.dml_$tag.warehouse", root)
    root
  }

  private def stateOf(cat: String): Set[(Long, String, Long)] =
    spark.sql(s"SELECT k, s, v FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("MERGE INTO: matched rows update, unmatched insert, one version per statement") {
    import spark.implicits._
    val root = setupCatalog("upsert")
    spark.sql("CREATE TABLE dml_upsert.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 100L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_base")
    spark.sql("INSERT INTO dml_upsert.t SELECT * FROM dml_base")
    // source: updates for k % 10 = 3, plus brand-new keys
    ((1L to 100L).filter(_ % 10 == 3).map(k => (k, "M", k * 2)) ++
      Seq((201L, "N", 1L), (202L, "N", 2L))).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_src")
    val v0 = LakeTable.latestVersion(s"$root/t")
    spark.sql("""MERGE INTO dml_upsert.t AS tg USING dml_src AS src
      ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    assert(LakeTable.latestVersion(s"$root/t") == v0 + 1,
      "update ∪ insert must commit as ONE merge version")
    val expect = (1L to 100L).map(k =>
      if (k % 10 == 3) (k, "M", k * 2) else (k, "base", k)).toSet ++
      Set((201L, "N", 1L), (202L, "N", 2L))
    assert(stateOf("dml_upsert") == expect)
    // conditional matched update: source-only condition scopes the class
    spark.sql("""MERGE INTO dml_upsert.t AS tg USING dml_src AS src
      ON tg.k = src.k
      WHEN MATCHED AND src.k < 30 THEN UPDATE SET *""")
    assert(stateOf("dml_upsert") == expect, "idempotent re-merge changed rows")
    // WHEN MATCHED THEN DELETE erases exactly the matched keys
    Seq(Tuple1(13L), Tuple1(201L), Tuple1(999L)).toDF("k")
      .createOrReplaceTempView("dml_doomed")
    spark.sql("""MERGE INTO dml_upsert.t AS tg USING dml_doomed AS d
      ON tg.k = d.k WHEN MATCHED THEN DELETE""")
    assert(stateOf("dml_upsert") ==
      expect.filterNot(r => r._1 == 13L || r._1 == 201L))
  }

  test("MATCHED DELETE is scoped to pre-statement matched keys; DELETE+INSERT is one version") {
    import spark.implicits._
    val root = setupCatalog("delscope")
    spark.sql("CREATE TABLE dml_delscope.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 40L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_ds_base")
    spark.sql("INSERT INTO dml_delscope.t SELECT * FROM dml_ds_base")
    // source rows 30..50 all satisfy the delete condition; 41..50 are
    // UNMATCHED and satisfy the insert condition too. MERGE semantics:
    // matched 30..40 delete, unmatched 41..50 insert AND SURVIVE — the
    // pre-fix lowering inserted then deleted them (ADVICE r15 high).
    (30L to 50L).map(k => (k, "I", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_ds_src")
    val v0 = LakeTable.latestVersion(s"$root/t")
    spark.sql("""MERGE INTO dml_delscope.t AS tg USING dml_ds_src AS src
      ON tg.k = src.k
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT *""")
    assert(LakeTable.latestVersion(s"$root/t") == v0 + 1,
      "matched-delete + unmatched-insert must commit as ONE atomic version")
    assert(stateOf("dml_delscope") ==
      ((1L to 29L).map(k => (k, "base", k)) ++
        (41L to 50L).map(k => (k, "I", k))).toSet,
      "an unmatched source row satisfying the delete condition must survive as an insert")
  }

  test("row-level MERGE: target-referencing conditions, partial SET, clause precedence") {
    import spark.implicits._
    setupCatalog("row")
    spark.sql("CREATE TABLE dml_row.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 60L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_row_base")
    spark.sql("INSERT INTO dml_row.t SELECT * FROM dml_row_base")
    // source shares column names with the target (provenance must
    // disambiguate), carries a delta column, and includes new keys
    ((1L to 60L).filter(_ % 3 == 0).map(k => (k, k * 10, "U")) ++
      Seq((101L, 7L, "N"))).toDF("k", "d", "s")
      .createOrReplaceTempView("dml_row_src")
    // clause order: big-v rows DELETE first; remaining matched rows take
    // a PARTIAL update whose value reads BOTH sides (tg.v + src.d) under
    // a condition reading BOTH sides (tg.v < src.d)
    spark.sql("""MERGE INTO dml_row.t AS tg USING dml_row_src AS src
      ON tg.k = src.k
      WHEN MATCHED AND tg.v >= 48 THEN DELETE
      WHEN MATCHED AND tg.v < src.d THEN UPDATE SET v = tg.v + src.d, s = src.s
      WHEN NOT MATCHED THEN INSERT (k, v, s) VALUES (src.k, src.d, src.s)""")
    val expect = (1L to 60L).flatMap { k =>
      if (k % 3 == 0 && k >= 48) None // first clause wins: deleted
      else if (k % 3 == 0) Some((k, "U", k + k * 10)) // k < k*10 always
      else Some((k, "base", k))
    }.toSet + ((101L, "N", 7L))
    assert(stateOf("dml_row") == expect)
  }

  test("WHEN NOT MATCHED BY SOURCE updates/deletes target rows outside the source") {
    import spark.implicits._
    setupCatalog("nmbs")
    spark.sql("CREATE TABLE dml_nmbs.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 30L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_nmbs_base")
    spark.sql("INSERT INTO dml_nmbs.t SELECT * FROM dml_nmbs_base")
    (1L to 10L).map(k => (k, "keep", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_nmbs_src")
    val v0 = LakeTable.latestVersion(
      fixtures.resolve("nmbs").resolve("t").toString)
    spark.sql("""MERGE INTO dml_nmbs.t AS tg USING dml_nmbs_src AS src
      ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET s = src.s
      WHEN NOT MATCHED BY SOURCE AND tg.v > 25 THEN DELETE
      WHEN NOT MATCHED BY SOURCE AND tg.k % 2 = 0 THEN UPDATE SET s = 'orphan'""")
    val root = fixtures.resolve("nmbs").resolve("t").toString
    assert(LakeTable.latestVersion(root) == v0 + 1,
      "matched-update + NMBS update + NMBS delete must commit as ONE version")
    assert(stateOf("dml_nmbs") == (1L to 30L).flatMap { k =>
      if (k <= 10) Some((k, "keep", k)) // matched
      else if (k > 25) None // NMBS delete (first NMBS clause wins)
      else if (k % 2 == 0) Some((k, "orphan", k)) // NMBS update
      else Some((k, "base", k))
    }.toSet)
  }

  test("merge classification reads an envelope-pruned key scan, not the full table") {
    import spark.implicits._
    val root = setupCatalog("prune")
    // range layout: key envelopes per file are narrow, so a tight-range
    // source must classify against a small fraction of the files
    LakeTable.create(spark, s"$root/t",
      (1L to 4000L).map(k => (k, "base", k)).toDF("k", "s", "v"),
      Seq("k"), nBuckets = 16, layout = "range")
    (100L to 140L).map(k => (k, "M", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_prune_src")
    spark.sql("""MERGE INTO dml_prune.t AS tg USING dml_prune_src AS src
      ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val (kept, total) = graft.sources.GraftLakeSource.lastPrune(s"$root/t@classify")
    assert(total >= 12 && kept * 4 <= total,
      s"classification scan should be envelope-pruned (kept $kept/$total)")
    assert(stateOf("dml_prune") == (1L to 4000L).map(k =>
      if (k >= 100 && k <= 140) (k, "M", k) else (k, "base", k)).toSet)
    // UPDATE and row-level DELETE reads are predicate-pruned the same
    // way: a narrow key range opens O(matching files), not the table
    spark.sql("UPDATE dml_prune.t SET s = 'P' WHERE k BETWEEN 200 AND 260")
    val (ku, tu) = graft.sources.GraftLakeSource.lastPrune(s"$root/t@dml")
    assert(tu >= 12 && ku * 4 <= tu,
      s"UPDATE read should be predicate-pruned (kept $ku/$tu)")
    spark.sql("DELETE FROM dml_prune.t WHERE k BETWEEN 300 AND 320 AND v % 2 = 1")
    val (kd, td) = graft.sources.GraftLakeSource.lastPrune(s"$root/t@dml")
    assert(td >= 12 && kd * 4 <= td,
      s"row-level DELETE read should be predicate-pruned (kept $kd/$td)")
    assert(stateOf("dml_prune") == (1L to 4000L).flatMap { k =>
      if (k >= 300 && k <= 320 && k % 2 == 1) None
      else if (k >= 200 && k <= 260) Some((k, "P", k))
      else if (k >= 100 && k <= 140) Some((k, "M", k))
      else Some((k, "base", k))
    }.toSet)
  }

  test("row-level DELETE: non-pushable predicates lower onto the DV commit") {
    import spark.implicits._
    val root = setupCatalog("rowdel")
    spark.sql("CREATE TABLE dml_rowdel.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 50L).map(k => (k, "s" * (k % 5).toInt, k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_rowdel_base")
    spark.sql("INSERT INTO dml_rowdel.t SELECT * FROM dml_rowdel_base")
    // `v % 7 = 3` has no source-filter translation — previously refused;
    // now a read-filter-DV lowering that rewrites NO data file
    val pre = LakeTable.manifestFiles(s"$root/t", 2).toSet
    spark.sql("DELETE FROM dml_rowdel.t WHERE v % 7 = 3 AND length(s) > 1")
    assert(LakeTable.manifestFiles(s"$root/t", 3).toSet == pre,
      "row-level DELETE must commit a sidecar, not rewrite data files")
    assert(stateOf("dml_rowdel") == (1L to 50L)
      .filterNot(k => k % 7 == 3 && (k % 5) > 1)
      .map(k => (k, "s" * (k % 5).toInt, k)).toSet)
    // subqueries stay refused, loudly
    val e = intercept[UnsupportedOperationException] {
      spark.sql("DELETE FROM dml_rowdel.t WHERE k IN " +
        "(SELECT k FROM dml_rowdel_base WHERE v > 40)")
    }
    assert(e.getMessage.contains("subquer"))
    // a DELETE matching nothing commits nothing — no spurious empty
    // versions for CDC consumers or the vacuum horizon
    val vNow = LakeTable.latestVersion(s"$root/t")
    spark.sql("DELETE FROM dml_rowdel.t WHERE v % 7 = 3 AND v > 100000")
    assert(LakeTable.latestVersion(s"$root/t") == vNow,
      "a no-op row-level DELETE must not commit a version")
    // an UNSELECTIVE delete rewrites the survivors as one forward
    // commit instead of committing a table-sized sidecar
    val savedCap = graft.plans.LakeDml.DvDeleteCap
    try {
      graft.plans.LakeDml.DvDeleteCap = 3
      spark.sql("DELETE FROM dml_rowdel.t WHERE v % 2 = 0")
      val m = LakeTable.manifest(s"$root/t", LakeTable.latestVersion(s"$root/t"))
      assert(m.op == "overwrite",
        s"an over-cap delete should rewrite survivors, committed op ${m.op}")
      assert(stateOf("dml_rowdel") == (1L to 50L)
        .filterNot(k => k % 7 == 3 && (k % 5) > 1)
        .filter(_ % 2 == 1)
        .map(k => (k, "s" * (k % 5).toInt, k)).toSet)
    } finally graft.plans.LakeDml.DvDeleteCap = savedCap
  }

  test("UPDATE / DELETE classification filters on the scan, below the file column") {
    import spark.implicits._
    val p = freshRoot("classfilter")
    LakeTable.create(spark, p, (1L to 100L).map(k => (k, k)).toDF("k", "v"), Seq("k"),
      nBuckets = 4)
    val snap = graft.plans.LakeDml.prunedByPredicate(spark, p, None, $"v" > 60L)
    // `input_file_name()` is nondeterministic: a WHERE above it would
    // never reach the scan's pushdown (row-group skipping, blooms,
    // bucket pin)
    val plan = snap.rows.queryExecution.optimizedPlan
    val filtered = plan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.child
    }
    assert(filtered.nonEmpty && filtered.forall(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]), plan.treeString)
    assert(snap.rows.select("k").as[Long].collect().toSet == (61L to 100L).toSet)
    assert(snap.rows.select(graft.plans.LakeDml.FileCol).as[String].collect()
      .forall(_.nonEmpty))
  }

  test("UPDATE: partial SET with target-row expressions; key reassignment refused") {
    import spark.implicits._
    val root = setupCatalog("upd")
    spark.sql("CREATE TABLE dml_upd.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to 50L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_upd_base")
    spark.sql("INSERT INTO dml_upd.t SELECT * FROM dml_upd_base")
    // partial SET, value an expression over the target row
    spark.sql("UPDATE dml_upd.t SET s = 'Z', v = v + 1000 WHERE k BETWEEN 10 AND 12")
    assert(stateOf("dml_upd") == (1L to 50L).map(k =>
      if (k >= 10 && k <= 12) (k, "Z", k + 1000) else (k, "base", k)).toSet)
    // merge-identity columns cannot be reassigned
    val e = intercept[UnsupportedOperationException] {
      spark.sql("UPDATE dml_upd.t SET k = k + 1 WHERE k = 1")
    }
    assert(e.getMessage.contains("identity"))
    // copy-on-write held: the 3-key update carried most v2 files
    val v2f = LakeTable.manifestFiles(s"$root/t", 2).toSet
    val v3f = LakeTable.manifestFiles(s"$root/t", 3).toSet
    assert(v2f.intersect(v3f).nonEmpty, "UPDATE rewrote the whole table")
  }

  test("unsupported MERGE shapes and non-lake targets are refused/untouched correctly") {
    import spark.implicits._
    setupCatalog("refuse")
    spark.sql("CREATE TABLE dml_refuse.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    Seq((1L, "a", 1L)).toDF("k", "s", "v").createOrReplaceTempView("dml_r_src")
    spark.sql("INSERT INTO dml_refuse.t SELECT * FROM dml_r_src")
    // ON must cover the merge identity
    val e1 = intercept[UnsupportedOperationException] {
      spark.sql("""MERGE INTO dml_refuse.t AS tg USING dml_r_src AS src
        ON tg.s = src.s WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(e1.getMessage.contains("merge identity"))
    // reassigning the merge identity away from the ON expression
    val e2 = intercept[UnsupportedOperationException] {
      spark.sql("""MERGE INTO dml_refuse.t AS tg USING dml_r_src AS src
        ON tg.k = src.k
        WHEN MATCHED THEN UPDATE SET k = src.k + 1, s = src.s, v = src.v""")
    }
    assert(e2.getMessage.contains("identity"))
    // NOT MATCHED BY SOURCE conditions live in target-land only (either
    // our refusal or the analyzer's own resolution error — both loud)
    val e3 = intercept[Exception] {
      spark.sql("""MERGE INTO dml_refuse.t AS tg USING dml_r_src AS src
        ON tg.k = src.k
        WHEN NOT MATCHED BY SOURCE AND src.v > 0 THEN DELETE""")
    }
    assert(e3.getMessage.contains("TARGET columns only") ||
      e3.getMessage.contains("cannot be resolved"))
    // MERGE cardinality violation: two source rows claiming one target
    // key must refuse on BOTH lowerings — committing would silently
    // break the one-row-per-key invariant
    Seq((1L, "x", 10L), (1L, "y", 20L)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_r_dup")
    val c1 = intercept[IllegalStateException] {
      spark.sql("""MERGE INTO dml_refuse.t AS tg USING dml_r_dup AS src
        ON tg.k = src.k
        WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(c1.getMessage.contains("cardinality"))
    val c2 = intercept[IllegalStateException] {
      spark.sql("""MERGE INTO dml_refuse.t AS tg USING dml_r_dup AS src
        ON tg.k = src.k
        WHEN MATCHED AND tg.v >= 0 THEN UPDATE SET s = src.s""")
    }
    assert(c2.getMessage.contains("cardinality"))
    assert(stateOf("dml_refuse") == Set((1L, "a", 1L)),
      "a refused cardinality-violating MERGE must leave the table untouched")
    // a non-graftlake V2 target still gets Spark's own refusal, not ours
    val e4 = intercept[Exception] {
      spark.sql("""MERGE INTO dml_r_src AS tg USING dml_r_src AS src
        ON tg.k = src.k WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(!e4.isInstanceOf[UnsupportedOperationException] ||
      !e4.getMessage.startsWith("graftlake"))
  }

  test("DELETE three-valued logic: NULL-condition rows survive on BOTH sides of the DV cap") {
    import spark.implicits._
    setupCatalog("nul3vl")
    spark.sql("CREATE TABLE dml_nul3vl.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    // k in 1..30; v is NULL for every k % 5 == 0 — `v % 7 = 3` evaluates
    // to NULL there, and SQL DELETE removes only rows where the
    // condition IS TRUE, so the NULL-v rows must SURVIVE
    (1L to 30L).map(k =>
        (k, s"s$k", if (k % 5 == 0) null else java.lang.Long.valueOf(k)))
      .toDF("k", "s", "v").createOrReplaceTempView("dml_nul_base")
    spark.sql("INSERT INTO dml_nul3vl.t SELECT * FROM dml_nul_base")
    def survivors: Set[Long] =
      spark.sql("SELECT k FROM dml_nul3vl.t").collect().map(_.getLong(0)).toSet
    val expect = (1L to 30L).filterNot(k => k % 5 != 0 && k % 7 == 3).toSet
    // under the cap: DV path (filter(cond) keeps NULL rows by construction)
    spark.sql("DELETE FROM dml_nul3vl.t WHERE v % 7 = 3")
    assert(survivors == expect,
      s"DV-path DELETE dropped NULL-condition rows: ${expect -- survivors}")
    // over the cap: survivor-rewrite path — the pre-fix !cond filter
    // yielded NULL for NULL-v rows and silently deleted them
    val savedCap = graft.plans.LakeDml.DvDeleteCap
    try {
      graft.plans.LakeDml.DvDeleteCap = 1
      spark.sql("DELETE FROM dml_nul3vl.t WHERE v % 7 = 1")
      val expect2 = expect.filterNot(k => k % 5 != 0 && k % 7 == 1)
      assert(survivors == expect2,
        s"survivor-rewrite DELETE dropped NULL-condition rows: ${expect2 -- survivors}")
    } finally graft.plans.LakeDml.DvDeleteCap = savedCap
  }

  test("an empty MERGE statement commits no version") {
    import spark.implicits._
    val root = setupCatalog("emptym")
    spark.sql("CREATE TABLE dml_emptym.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    import spark.implicits._
    (1L to 20L).map(k => (k, "base", k)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_em_base")
    spark.sql("INSERT INTO dml_emptym.t SELECT * FROM dml_em_base")
    val v0 = LakeTable.latestVersion(s"$root/t")
    // source-only lowering, every clause filtered to nothing
    spark.sql("""MERGE INTO dml_emptym.t AS tg USING dml_em_base AS src
      ON tg.k = src.k
      WHEN MATCHED AND src.v > 100000 THEN UPDATE SET *
      WHEN NOT MATCHED AND src.v > 100000 THEN INSERT *""")
    assert(LakeTable.latestVersion(s"$root/t") == v0,
      "an empty source-only MERGE minted a spurious version")
    // row-level lowering (target-referencing condition), also empty
    spark.sql("""MERGE INTO dml_emptym.t AS tg USING dml_em_base AS src
      ON tg.k = src.k
      WHEN MATCHED AND tg.v > 100000 THEN UPDATE SET s = src.s""")
    assert(LakeTable.latestVersion(s"$root/t") == v0,
      "an empty row-level MERGE minted a spurious version")
    assert(stateOf("dml_emptym") == (1L to 20L).map(k => (k, "base", k)).toSet)
  }

  /** A keyed catalog table of `n` rows over four data files, every file
    * spanning the whole key range (no envelope prunes one). */
  private def multiFileTable(tag: String, n: Long): String = {
    import spark.implicits._
    val root = setupCatalog(tag)
    spark.sql(s"CREATE TABLE dml_$tag.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    (1L to n).map(k => (k, "base", k)).toDF("k", "s", "v").repartition(4)
      .createOrReplaceTempView(s"dml_${tag}_base")
    spark.sql(s"INSERT INTO dml_$tag.t SELECT * FROM dml_${tag}_base")
    assert(LakeTable.manifestFiles(s"$root/t",
      LakeTable.latestVersion(s"$root/t")).size == 4)
    root
  }

  test("one classification pass: job budgets for SQL MERGE and row-level DELETE") {
    import spark.implicits._
    val root = multiFileTable("jobs", 400)
    // warm-up statements: the counted ones must not pay first-use costs
    ((1L to 400L by 50).map(k => (k, "W", k)) :+ ((900L, "W", 9L)))
      .toDF("k", "s", "v").createOrReplaceTempView("dml_jobs_warm")
    spark.sql("""MERGE INTO dml_jobs.t AS tg USING dml_jobs_warm AS src
      ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("DELETE FROM dml_jobs.t WHERE k IN (900)")
    // the card_refresh shape: scattered updates (every file touched)
    // plus inserts in one statement, then a keyed retraction
    ((3L to 400L by 37).map(k => (k, "M", k * 2)) ++
      (1001L to 1005L).map(k => (k, "N", k))).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_jobs_src")
    val v0 = LakeTable.latestVersion(s"$root/t")
    val mergeJobs = sparkJobSites(spark.sql("""MERGE INTO dml_jobs.t AS tg
      USING dml_jobs_src AS src ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    assert(mergeJobs.size <= 7,
      s"SQL MERGE ran ${mergeJobs.size} Spark jobs (budget 7):\n${mergeJobs.mkString("\n")}")
    val deleteJobs = sparkJobSites(spark.sql("DELETE FROM dml_jobs.t WHERE k IN (40, 41, 1003)"))
    assert(deleteJobs.size <= 2,
      s"row-level DELETE ran ${deleteJobs.size} Spark jobs (budget 2):\n${deleteJobs.mkString("\n")}")
    assert(LakeTable.latestVersion(s"$root/t") == v0 + 2)
    val expect = ((1L to 400L).map(k =>
      if (k % 37 == 3) (k, "M", k * 2) else if (k % 50 == 1) (k, "W", k) else (k, "base", k)) ++
      (1001L to 1005L).map(k => (k, "N", k)))
      .filterNot { case (k, _, _) => Set(40L, 41L, 1003L)(k) }.toSet
    assert(stateOf("dml_jobs") == expect)
  }

  /** The optimized plan of every SQL execution `body` runs. */
  private def executedPlans(body: => Unit): Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("the keyed refresh MERGE classifies against the target's key column alone") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val root = multiFileTable("keyscan", 200)
    ((3L to 200L by 37).map(k => (k, "M", k * 2)) :+ ((1001L, "N", 1L))).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_keyscan_src")
    val v0 = LakeTable.latestVersion(s"$root/t")
    val plans = executedPlans(spark.sql("""MERGE INTO dml_keyscan.t AS tg
      USING dml_keyscan_src AS src ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""))
    // the pass that materializes the batch observes its count and files;
    // the source is a local relation, so every lake scan in it is the
    // target's classification read
    val batches = plans.filter(_.exists(_.isInstanceOf[CollectMetrics]))
    val scans = batches.flatMap(_.collect { case s: DataSourceV2ScanRelation => s })
    assert(scans.nonEmpty, plans.map(_.treeString).mkString("\n"))
    scans.foreach(s => assert(s.output.map(_.name) == Seq("k"),
      s"classification read ${s.output.map(_.name).mkString(", ")}, not the key alone"))
    // UPDATE SET * and INSERT * write every column alike: no per-row
    // choice between the two actions' values
    assert(!batches.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CaseWhen]))),
      batches.map(_.treeString).mkString("\n"))
    assert(stateOf("dml_keyscan") == ((1L to 200L).map(k =>
      if (k % 37 == 3) (k, "M", k * 2) else (k, "base", k)) :+ ((1001L, "N", 1L))).toSet)
    assert(LakeTable.latestVersion(s"$root/t") == v0 + 1)
  }

  test("job budget for a MERGE whose condition reads the target row") {
    import spark.implicits._
    val root = multiFileTable("tgtjobs", 400)
    def merge(src: String): Unit = spark.sql(s"""MERGE INTO dml_tgtjobs.t AS tg
      USING $src AS src ON tg.k = src.k
      WHEN MATCHED AND tg.v < src.v THEN UPDATE SET s = src.s""")
    // warm-up statement: the counted one must not pay first-use costs
    (1L to 400L by 50).map(k => (k, "W", k + 1)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_tgtjobs_warm")
    merge("dml_tgtjobs_warm")
    // scattered keys (every file touched); odd ones fail the condition
    (3L to 400L by 37).map(k => (k, "M", if (k % 2 == 0) k + 1 else k - 1)).toDF("k", "s", "v")
      .createOrReplaceTempView("dml_tgtjobs_src")
    val v0 = LakeTable.latestVersion(s"$root/t")
    val jobs = sparkJobSites(merge("dml_tgtjobs_src"))
    assert(jobs.size <= 7,
      s"target-referencing MERGE ran ${jobs.size} Spark jobs (budget 7):\n${jobs.mkString("\n")}")
    assert(LakeTable.latestVersion(s"$root/t") == v0 + 1)
    assert(stateOf("dml_tgtjobs") == (1L to 400L).map(k =>
      if (k % 37 == 3 && k % 2 == 0) (k, "M", k)
      else if (k % 50 == 1) (k, "W", k) else (k, "base", k)).toSet)
  }

  test("a commit landing after classification forces rediscovery, never the stale touched set") {
    import spark.implicits._
    val root = setupCatalog("occ")
    spark.sql("CREATE TABLE dml_occ.t (k BIGINT, s STRING, v BIGINT) " +
      "TBLPROPERTIES ('keys'='k')")
    // ONE data file: every key lives in it, so a competing update of
    // any key rewrites the file this statement classified
    (1L to 50L).map(k => (k, "base", k)).toDF("k", "s", "v").coalesce(1)
      .createOrReplaceTempView("dml_occ_base")
    spark.sql("INSERT INTO dml_occ.t SELECT * FROM dml_occ_base")
    val p = s"$root/t"
    Seq((7L, "M", 70L)).toDF("k", "s", "v").createOrReplaceTempView("dml_occ_src")
    // the competitor updates a DISJOINT key between this statement's
    // classification and its publish: OCC rebases, and the file the
    // classification found is gone from the rebased manifest
    var fired = false
    LakeTable.testInterleave = () => if (!fired) {
      fired = true
      LakeTable.merge(spark, p, Seq((8L, "B", 80L)).toDF("k", "s", "v"), Seq("k"))
      ()
    }
    try spark.sql("""MERGE INTO dml_occ.t AS tg USING dml_occ_src AS src
      ON tg.k = src.k WHEN MATCHED THEN UPDATE SET *""")
    finally LakeTable.testInterleave = () => ()
    val expect = (1L to 50L).map(k =>
      if (k == 7L) (k, "M", 70L) else if (k == 8L) (k, "B", 80L) else (k, "base", k)).toSet
    // a reused stale set would carry the rewritten file untouched and
    // leave key 7 twice
    assert(spark.sql("SELECT k, s, v FROM dml_occ.t").count() == 50)
    assert(stateOf("dml_occ") == expect)
    // the kernel seam: a touched set classified at an older version is
    // ignored, for the DV delete as for the merge
    val stale = LakeTable.TouchedFiles(1, Set("no-such-file"))
    LakeTable.deleteDV(spark, p, Seq(9L).toDF("k"), Seq("k"), Some(stale))
    LakeTable.mergeDelete(spark, p, Some(Seq((10L, "C", 100L)).toDF("k", "s", "v")), None,
      Seq("k"), known = Some(stale))
    assert(stateOf("dml_occ") ==
      (expect.filterNot(_._1 == 9L).filterNot(_._1 == 10L) + ((10L, "C", 100L))))
  }

  test("classified touched files match the manifest under encoded paths and escaped partition values") {
    import spark.implicits._
    // `_metadata.file_path` renders percent-ENCODED URIs (a Hive-escaped
    // partition value double-encoded) while manifests store raw paths: a
    // classified set that missed its files would carry the old rows AND
    // add the new ones (silent key duplication), and turn the DELETE
    // into a no-op
    val root = freshRoot("enc odd+chars")
    spark.conf.set("spark.sql.catalog.dml_enc", classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.dml_enc.warehouse", root)
    spark.sql("CREATE TABLE dml_enc.t (k BIGINT, c STRING, v BIGINT) " +
      "PARTITIONED BY (c) TBLPROPERTIES ('keys'='k')")
    (1L to 60L).map(k => (k, if (k % 2 == 0) "10:30" else "50%", k)).toDF("k", "c", "v")
      .repartition(4).createOrReplaceTempView("dml_enc_base")
    spark.sql("INSERT INTO dml_enc.t SELECT * FROM dml_enc_base")
    val p = s"$root/t"
    val v0 = LakeTable.latestVersion(p)
    assert(LakeTable.manifest(p, v0).files.exists(_.path.contains("%3A")),
      "fixture must produce a Hive-escaped ':' partition directory")
    Seq((4L, "10:30", 444L), (5L, "50%", 555L), (99L, "50%", 9L)).toDF("k", "c", "v")
      .createOrReplaceTempView("dml_enc_src")
    spark.sql("""MERGE INTO dml_enc.t AS tg USING dml_enc_src AS src ON tg.k = src.k
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("DELETE FROM dml_enc.t WHERE k IN (6, 7)")
    val got = spark.sql("SELECT k, c, v FROM dml_enc.t").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val expect = (1L to 60L).filterNot(Set(4L, 5L, 6L, 7L)).map(k =>
      (k, if (k % 2 == 0) "10:30" else "50%", k)).toSet ++
      Set((4L, "10:30", 444L), (5L, "50%", 555L), (99L, "50%", 9L))
    assert(got.size == expect.size && got.toSet == expect,
      "SQL MERGE/DELETE duplicated or lost keys under an encoded path")
    // the DELETE rewrote nothing: its sidecar attached to the files the
    // doomed read found
    val m = LakeTable.manifest(p, LakeTable.latestVersion(p))
    assert(m.files.count(_.dvs.nonEmpty) >= 1)
  }
}
