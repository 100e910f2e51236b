package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression machinery's parsing contract (no Spark needed). */
class BenchBaselineSpec extends AnyFunSuite {

  private def write(content: String): String = {
    val f = java.nio.file.Files.createTempFile("baseline", ".json")
    java.nio.file.Files.writeString(f, content)
    f.toString
  }

  test("the repo's bench_metrics.json mirror parses with the baseline reader") {
    // the capture-proof twin of the stdout line must stay parseable —
    // it's what a judge reads when the driver's bounded tail window clips
    // the stdout metrics (the BENCH_r05/r07 failure mode)
    val p = java.nio.file.Paths.get("bench_metrics.json")
    assume(java.nio.file.Files.exists(p), "no bench run recorded here yet")
    val Some((sf, qs)) = Bench.parseBaseline(p.toString)
    assert(sf.nonEmpty && qs.nonEmpty,
      s"bench_metrics.json must parse to a non-empty (sf, queries): $sf")
  }

  test("parseBaseline reads plain and scientific-notation times plus sf") {
    val path = write(
      """{"queries":{"q01_grouped_sum":1.909201647,""" +
        """"q18_topk":8.53E-4,"q41_string_suite":2.8E2},""" +
        """"sf":"/root/testdata/sf0.1"}""")
    val Some((sf, qs)) = Bench.parseBaseline(path)
    assert(sf == "/root/testdata/sf0.1")
    assert(qs("q01_grouped_sum") == 1.909201647)
    assert(qs("q18_topk") == 8.53e-4) // regex must not stop at the mantissa
    assert(qs("q41_string_suite") == 280.0)
  }

  test("parseBaseline: missing file is None; sf absent means no baseline") {
    assert(Bench.parseBaseline("/nonexistent/baseline.json").isEmpty)
    // a file without an sf marker must not produce a comparable baseline
    assert(Bench.parseBaseline(write("""{"queries":{"q01":1.0}}""")).isEmpty)
  }

  test("parseBaseline reads the pretty-printed (space-after-colon) format") {
    // The r10–r13 silent-gate bug: hand-merged baselines were written
    // `"q01_grouped_sum": 0.6414` (space after every colon) and the tight
    // regexes matched nothing, so the gate never ran. Both formats are
    // load-bearing forever.
    val path = write(
      """{
        |  "queries": {
        |    "q01_grouped_sum": 0.6414,
        |    "q103_pagerank": 2.0982,
        |    "q18_topk": 8.53E-4
        |  },
        |  "sf": "/root/testdata/sf0.1"
        |}""".stripMargin)
    val Some((sf, qs)) = Bench.parseBaseline(path)
    assert(sf == "/root/testdata/sf0.1")
    assert(qs("q01_grouped_sum") == 0.6414)
    assert(qs("q103_pagerank") == 2.0982)
    assert(qs("q18_topk") == 8.53e-4)
    assert(qs.size == 3)
  }

  test("parseBaseline on the repo's actual baseline file yields the catalog") {
    // the live file must stay parseable no matter which format it's in —
    // this is the tripwire that would have caught the r10 regression-gate
    // outage the day it happened
    val live = "bench_baseline.json"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(live)))
    val Some((sf, qs)) = Bench.parseBaseline(live)
    assert(sf.nonEmpty)
    assert(qs.size >= 100, s"expected the full catalog, parsed ${qs.size}")
  }

  test("summaryLine stays under 500 bytes and carries the roll-up fields") {
    // the driver captures a ~2 KB stdout TAIL; the compact last line must
    // always fit it regardless of catalog size (the BENCH_r15–r17
    // parsed:null outage was the full 6 KB line clipping at its head)
    val line = Bench.summaryLine("163.9927", 171, "/root/testdata/sf0.1",
      "32", Some(171), 5, 0)
    assert(line.getBytes("UTF-8").length <= 500, s"too long: $line")
    assert(line.startsWith("""{"metric":"total","value":163.9927"""))
    for (frag <- Seq(""""unit":"sec"""", """"n":171""",
        """"sf":"/root/testdata/sf0.1"""", """"cpus":32""",
        """"baseline_matched":171""", """"n_flags":5""", """"n_failed":0""",
        """"detail":"bench_metrics.json""""))
      assert(line.contains(frag), s"missing $frag in $line")
    assert(line.endsWith("}"))
    // no baseline: the matched field is absent, not zero (absence means
    // "gate did not run", the r10 lesson)
    val noBase = Bench.summaryLine("1.5000", 3, "/tmp/sf", "8", None, 0, 1)
    assert(!noBase.contains("baseline_matched"))
    assert(noBase.contains(""""n_failed":1"""))
    // a non-integer cpus value must still emit valid JSON
    assert(Bench.summaryLine("1.0000", 1, "/tmp/sf", "*", None, 0, 0)
      .contains(""""cpus":"*""""))
  }

  test("summaryLine stays valid JSON for a quote or backslash in sf and cpus") {
    // the line is hand-built JSON: an unescaped quote or backslash in
    // SPARK_GRAFT_SF_DIR would make the whole line unparseable
    val dir = """/data/q"uoted\dir"""
    val cpus = """4"\"""
    val line = Bench.summaryLine("2.0000", 2, dir, cpus, Some(2), 0, 0)
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(json.get("sf").asText() == dir)
    assert(json.get("cpus").asText() == cpus)
    assert(json.get("value").asDouble() == 2.0)
    assert(json.get("baseline_matched").asInt() == 2)
  }

  test("parseBaseline reads back an sf path holding a quote and a backslash") {
    // the baseline's sf is written JSON-escaped; a reader that cannot
    // unescape it never matches the run's sf and the gate silently drops
    val dir = """/data/q"uoted\dir"""
    val path = write(
      s"""{"queries":{"q01_grouped_sum":1.5},"sf":${Json.str(dir)}}""")
    val Some((sf, qs)) = Bench.parseBaseline(path)
    assert(sf == dir)
    assert(qs == Map("q01_grouped_sum" -> 1.5))
  }

  test("isRegression pins the flag formula: >=2x AND >=0.5s absolute") {
    assert(Bench.isRegression(t = 1.2, base = 0.5)) // 2.4x and +0.7s
    assert(!Bench.isRegression(t = 0.9, base = 0.5)) // 1.8x — ratio short
    assert(!Bench.isRegression(t = 0.4, base = 0.1)) // 4x but only +0.3s
    assert(Bench.isRegression(t = 1.0, base = 0.5)) // boundary: exactly both
    assert(!Bench.isRegression(t = 0.99, base = 0.5)) // just under absolute
  }
}
