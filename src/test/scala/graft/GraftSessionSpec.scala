package graft

import graft.functions.GraftFunctions
import graft.plans.{GraftStrategies, LakeDmlStrategy}
import graft.sources.LakeTable

/** [[GraftExtensions]] coverage: a session from [[GraftSession]] and every
  * `newSession()` of it carry graft's SQL functions, both planner
  * strategies and graftlake SQL DML — no operator has to register
  * anything first. */
class GraftSessionSpec extends SparkSpec {

  private def sessions = Seq("GraftSession()" -> spark, "newSession()" -> spark.newSession())

  test("every GraftFunctions.builders name resolves in spark.sql") {
    for ((label, s) <- sessions; (name, className, _) <- GraftFunctions.builders) {
      val described = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(described.contains(s"Class: $className"), s"$label: $name -> ${described.toSeq}")
    }
  }

  test("the planner carries both graft strategies") {
    for ((label, s) <- sessions) {
      val strategies = s.sessionState.planner.strategies
      assert(strategies.contains(GraftStrategies), label)
      assert(strategies.contains(LakeDmlStrategy), label)
    }
  }

  test("MERGE INTO through a graftlake catalog configured on the session commits a version") {
    for (((label, s), i) <- sessions.zipWithIndex) {
      val root = java.nio.file.Files.createTempDirectory("graft_ext_merge").toString
      val cat = s"graft_ext_$i"
      s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftLakeCatalog].getName)
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      s.sql(s"CREATE TABLE $cat.t (k BIGINT, v STRING) TBLPROPERTIES ('keys'='k')")
      s.sql(s"INSERT INTO $cat.t VALUES (1, 'a'), (2, 'b')")
      val v0 = LakeTable.latestVersion(s"$root/t")
      s.sql(s"""MERGE INTO $cat.t AS tg
        USING (SELECT 2L AS k, 'B' AS v UNION ALL SELECT 3L, 'c') AS src
        ON tg.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(LakeTable.latestVersion(s"$root/t") == v0 + 1, label)
      val rows = s.sql(s"SELECT k, v FROM $cat.t").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSet
      assert(rows == Set(1L -> "a", 2L -> "B", 3L -> "c"), label)
      LakeTable.deleteRecursively(new java.io.File(root))
    }
  }

  test("the generated-class cache holds more than Spark's default 100 plans") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // each literal makes a distinct generated class
    def plan(i: Int) = spark.range(4).selectExpr(s"id * ${1000 + i} + $i AS x").collect()
    (0 until 150).foreach(plan)
    val before = compiles.getCount
    plan(0)
    assert(compiles.getCount == before, "the first of 150 plans was evicted and recompiled")
  }
}
