package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** The events read path must survive BOTH physical typings of `ts` that
  * the testdata generator has shipped: INT64 TIMESTAMP(NANOS) (pre-r8) and
  * timestamp[us] (r8+). The round-8 generator retype silently zeroed 25
  * queries and 13 tests because the loader hardcoded the nanos workaround;
  * these fixtures (tools/make_events_fixtures.py — identical logical rows,
  * two typings) pin the contract so a future retype fails HERE, loudly.
  */
class TablesSpec extends SparkSpec {

  private def fixture(name: String): String = {
    val url = getClass.getClassLoader.getResource(s"$name/events.parquet")
    assert(url != null, s"missing test fixture $name/events.parquet")
    new java.io.File(url.toURI).getParent
  }

  test("events loads nanos-typed ts as TIMESTAMP_NTZ") {
    val df = Tables.events(spark, fixture("events_nanos"))
    assert(df.schema("ts").dataType == TimestampNTZType)
    assert(df.count() == 5)
  }

  test("events loads micros-typed ts as TIMESTAMP_NTZ") {
    val df = Tables.events(spark, fixture("events_micros"))
    assert(df.schema("ts").dataType == TimestampNTZType)
    assert(df.count() == 5)
  }

  test("both typings yield identical rows (values, not just schema)") {
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val nanos = Tables.events(spark, fixture("events_nanos"))
      .select(cols.map(col): _*).orderBy("event_id").collect()
    val micros = Tables.events(spark, fixture("events_micros"))
      .select(cols.map(col): _*).orderBy("event_id").collect()
    assert(nanos.toSeq == micros.toSeq)
    // sub-second precision survives the nanos→micros conversion: row 4's
    // .999999 micros field would round away under double math
    val r4 = micros.find(_.getLong(0) == 4).get
    assert(r4.getAs[java.time.LocalDateTime]("ts").getNano == 999999000)
  }

  test("the live testdata dir loads through the adaptive branch") {
    val df = Tables.events(spark, SfDir)
    assert(df.schema("ts").dataType == TimestampNTZType)
    assertNonEmpty(df.limit(1).toDF(), "events at sf0.001")
  }

  test("the memoized footer schema matches an uncached read of both typings") {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(flag)
    try {
      for (fx <- Seq("events_nanos", "events_micros")) {
        val dir = fixture(fx)
        // the nanos reader flag is part of the key: both settings, twice
        // each (the second load is served by the memo)
        for (nanos <- Seq("true", "false", "true", "false")) {
          spark.conf.set(flag, nanos)
          val what = s"$fx nanosAsLong=$nanos"
          scala.util.Try(spark.read.parquet(s"$dir/events.parquet")) match {
            case scala.util.Success(uncached) =>
              val loaded = Tables.load(spark, dir, "events")
              assert(loaded.schema == uncached.schema, what)
              assert(loaded.collect().toSet == uncached.collect().toSet, what)
            case scala.util.Failure(_) =>
              // a typing this reader setting cannot read fails the same
              assert(scala.util.Try(Tables.load(spark, dir, "events")).isFailure, what)
          }
        }
      }
      // a memoized load launches no schema-inference job
      spark.conf.set(flag, "true")
      val dir = fixture("events_micros")
      Tables.load(spark, dir, "events")
      assert(sparkJobs(Tables.load(spark, dir, "events")) == 0)
    } finally saved match {
      case Some(v) => spark.conf.set(flag, v)
      case None => spark.conf.unset(flag)
    }
  }

  test("a rewritten table path re-infers its schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables_memo").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(path)
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "name"))
    Seq((2L, 2.5, "b")).toDF("id", "score", "name").write.mode("overwrite").parquet(path)
    val reread = Tables.load(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "score", "name"))
    assert(reread.collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ==
      Seq((2L, 2.5, "b")))
    graft.sources.LakeTable.deleteRecursively(new java.io.File(dir))
  }
}
