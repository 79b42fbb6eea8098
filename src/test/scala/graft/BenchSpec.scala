package graft

import org.scalatest.funsuite.AnyFunSuite

/** The VERDICT r8 done-criterion for loud bench failures: a planted
  * failing query must be visibly flagged in BOTH emitted JSONs, and its
  * time-to-exception must not be priced into the total. */
class BenchSpec extends AnyFunSuite {

  private val ok = Seq(
    ("q_fast", 0.5, None: Option[Bench.Issue]),
    ("q_slow", 2.0, None: Option[Bench.Issue]))

  test("a planted failing query is flagged in both JSONs and excluded from the total") {
    val results = ok :+ (("q_broken", 0.07,
      Some(Bench.Failed("""DATATYPE_MISMATCH: "x" vs "y""""))))
    val (stdout, compact, artifact) = Bench.summarize(results, "/data/sf", subset = false)
    for (j <- Seq(stdout, compact, artifact)) {
      assert(j.contains("\"failed\":1"), j)
      assert(j.contains("\"value\":2.500"), s"total must exclude the failure: $j")
      assert(!j.contains("\"subset\""), j)
    }
    // the artifact carries the error text (JSON-escaped, control chars out)
    assert(artifact.contains("\"q_broken\":\"DATATYPE_MISMATCH: \\\"x\\\" vs \\\"y\\\"\""))
    // the failed query's wall time still appears per-query, marked by the
    // errors map rather than hidden
    assert(artifact.contains("\"q_broken\":0.070"))
  }

  test("a clean run reports failed:0 with an empty errors map") {
    val (stdout, compact, artifact) = Bench.summarize(ok, "/data/sf", subset = false)
    assert(stdout == artifact)
    assert(artifact.contains("\"failed\":0") && artifact.contains("\"errors\":{}"))
    assert(artifact.contains("\"value\":2.500") && artifact.contains("\"query_count\":2"))
    // the truncation-proof final line: same headline numbers, no
    // per-query map, bounded size regardless of suite width
    assert(compact.contains("\"value\":2.500") && compact.contains("\"failed\":0"))
    assert(!compact.contains("\"queries\"") && !compact.contains("\"errors\""))
    assert(compact.length < 200, s"compact line must stay tiny: $compact")
  }

  test("subset runs are marked and long runs emit a bounded tail-safe stdout line") {
    val (s, _, _) = Bench.summarize(ok, "/d", subset = true)
    assert(s.contains("\"subset\":true"))
    // 300 queries force the overflow path: stdout stays under the
    // driver's 2000-char capture with slowest-first content + an
    // explicit omitted count; the artifact line keeps everything
    val many = (1 to 300).map(i => (f"q_$i%03d", i / 100.0, None: Option[Bench.Issue]))
    val (stdout, compact, artifact) = Bench.summarize(many, "/d", subset = false)
    assert(stdout.length <= 1900, s"stdout line ${stdout.length} chars")
    assert(stdout.contains("\"queries_omitted\":"))
    assert(stdout.contains("\"q_300\"") && !stdout.contains("\"q_001\""),
      "tail-safe line must keep the slowest queries")
    assert(artifact.contains("\"q_001\":0.010") && artifact.contains("\"q_300\":3.000"))
    assert(compact.length < 200 && !compact.contains("\"queries\""),
      s"compact line must not grow with the suite: $compact")
  }

  test("the core count travels with every emitted line when provided (VERDICT r18 #5)") {
    val (stdout, compact, artifact) =
      Bench.summarize(ok, "/data/sf", subset = false, cpus = Some(32))
    for (j <- Seq(stdout, compact, artifact)) assert(j.contains("\"cpus\":32"), j)
    // and stays absent when the caller has no regime to record
    val (s2, c2, a2) = Bench.summarize(ok, "/data/sf", subset = false)
    for (j <- Seq(s2, c2, a2)) assert(!j.contains("\"cpus\""), j)
    // the bounded line keeps its tail-safety guarantee with the flag on
    val many = (1 to 300).map(i => (f"q_$i%03d", i / 100.0, None: Option[Bench.Issue]))
    val (wide, _, _) = Bench.summarize(many, "/d", subset = false, cpus = Some(32))
    assert(wide.length <= 1900 && wide.contains("\"cpus\":32"), s"${wide.length} chars")
  }

  test("an intermittent failure is flagged as flaky, counted in the total") {
    val results = ok :+ (("q_flaky", 1.0,
      Some(Bench.Flaky("intermittent 1/3 reps: executor OOM"))))
    val (stdout, compact, artifact) = Bench.summarize(results, "/data/sf", subset = false)
    for (j <- Seq(stdout, compact, artifact)) {
      // a valid minimum exists, so the row is NOT a failure...
      assert(j.contains("\"failed\":0"), j)
      // ...but the reliability signal must survive in the JSON
      assert(j.contains("\"flaky\":1"), j)
      assert(j.contains("\"value\":3.500"), s"flaky time counts in the total: $j")
    }
    assert(artifact.contains("\"q_flaky\":\"intermittent 1/3 reps: executor OOM\""))
  }

  test("classification is structural, not a string-prefix sniff (ADVICE r9)") {
    // a query that failed EVERY rep with a message that happens to start
    // with 'intermittent' must still be excluded from the total as failed
    val results = ok :+ (("q_dead", 0.05,
      Some(Bench.Failed("intermittent network unreachable"))))
    val (stdout, compact, artifact) = Bench.summarize(results, "/data/sf", subset = false)
    for (j <- Seq(stdout, compact, artifact)) {
      assert(j.contains("\"failed\":1") && j.contains("\"flaky\":0"), j)
      assert(j.contains("\"value\":2.500"),
        s"an all-reps failure must never price into the total: $j")
    }
    assert(artifact.contains("\"q_dead\":\"intermittent network unreachable\""))
  }

  test("the standing map adjudicates only a run of its own recorded core count") {
    val queries = "\"queries\":{\"q_a\":1.250,\"q_b\":0.500}"
    // a map recording no core count is an unknown regime: no reference
    assert(Bench.standingMap(s"{$queries}", cpus = 8).isEmpty)
    assert(Bench.standingMap(s"""{"cpus":8,$queries}""", cpus = 8) ==
      Map("q_a" -> 1.25, "q_b" -> 0.5))
    assert(Bench.standingMap(s"""{"cpus":32,$queries}""", cpus = 8).isEmpty)
  }
}
