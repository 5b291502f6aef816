package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** BASELINE.md's failure contract for the bench gate: a failed query
  * scores −1, never its time-to-fail. In r8 the swallowed exception
  * recorded wall time instead, and 15 broken queries read as ~0.05 s
  * "speedups" in the artifact. */
class BenchContractSpec extends SparkTestBase {

  test("timeOne records -1 for a throwing query, not time-to-fail") {
    val boom: (SparkSession, String) => DataFrame =
      (_, _) => throw new RuntimeException("deliberately broken")
    assert(Bench.timeOne(spark, "/nowhere", boom) == -1.0)
  }

  test("timeOne records -1 when the plan fails at execution, not analysis") {
    // failure inside the job, after a DataFrame was happily returned
    val lateBoom: (SparkSession, String) => DataFrame = (s, _) => {
      import s.implicits._
      Seq(1, 0).toDF("d").selectExpr("10 / d") // ANSI: divide by zero
    }
    assert(Bench.timeOne(spark, "/nowhere", lateBoom) == -1.0)
  }

  test("timeOne records a positive wall time for a working query") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => {
      import s.implicits._
      Seq(1, 2, 3).toDF("x")
    }
    val dt = Bench.timeOne(spark, "/nowhere", ok)
    assert(dt > 0.0)
  }

  // r11: contended-gate weather report (VERDICT r10 item 2)

  test("isContended reads the 1-minute field; malformed input is calm") {
    assert(Bench.isContended("4.48 3.90 3.10"))
    assert(!Bench.isContended("0.10 0.27 1.08"))
    assert(!Bench.isContended("2.50 9.99 9.99")) // strict >
    assert(!Bench.isContended("unavailable"))
    assert(!Bench.isContended(""))
  }

  test("parseRefBest extracts queries_best from a prior artifact") {
    val art = """{"metric":"total","value":10.0,"unit":"sec",""" +
      """"queries":{"q1":9.0,"q2":1.0},"sf":"x",""" +
      """"queries_best":{"q1":5.5,"q2":0.5},"value_best":6.0}"""
    assert(Bench.parseRefBest(art) == Map("q1" -> 5.5, "q2" -> 0.5))
    assert(Bench.parseRefBest("not json") == Map.empty)
    assert(Bench.parseRefBest("") == Map.empty)
  }

  test("rerunSelection ranks by inflation vs ref, with floor and exclude") {
    val best = Map("a" -> 4.0, "b" -> 2.0, "c" -> 0.2, "d" -> 3.0)
    val ref = Map("a" -> 1.0, "b" -> 2.0, "d" -> 1.0)
    // c is under the floor; a inflated 4x, d 3x, b 1x
    assert(Bench.rerunSelection(best, ref, 2, Set.empty) == Seq("a", "d"))
    // exclusion removes median-of-3 queries even when most inflated
    assert(Bench.rerunSelection(best, ref, 2, Set("a")) == Seq("b", "d"))
    // no ref -> fall back to largest absolute best
    assert(Bench.rerunSelection(best, Map.empty, 2, Set.empty) ==
      Seq("a", "d"))
  }

  // the last stdout line: a short, parseable summary of the full line

  private def parseJson(line: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)

  test("summaryLine carries the full line's totals and parses") {
    val full = """{"metric":"total","value":270.31999999999994,""" +
      """"unit":"sec","queries":{"q1":270.31999999999994},"sf":"x",""" +
      """"queries_best":{"q1":198.2},"value_best":198.2,"failed":[]}"""
    val f = parseJson(full)
    val line = Bench.summaryLine(f.get("value").asDouble,
      f.get("value_best").asDouble, 0, "/data/tpch/sf0.1", 8,
      contended = false)
    val j = parseJson(line)
    assert(j.get("metric").asText == "total")
    assert(j.get("unit").asText == "sec")
    assert(j.get("value").asDouble == f.get("value").asDouble)
    assert(j.get("value_best").asDouble == f.get("value_best").asDouble)
    // same text, not just the same double: a reader may grep either
    assert(line.contains("\"value\":270.31999999999994,"))
    assert(line.contains("\"value_best\":198.2,"))
    assert(j.get("failed").asInt == 0)
    assert(j.get("sf").asText == "/data/tpch/sf0.1")
    assert(j.get("cpus").asInt == 8)
    assert(!j.get("contended").asBoolean)
  }

  test("summaryLine stays within 500 bytes when all 272 queries fail") {
    val sf = ("/very/long/\"quoted\\path/é中\t" * 40) + "sf0.1"
    val line = Bench.summaryLine(-1.0, -1.0, 272, sf, Int.MaxValue,
      contended = true)
    assert(line.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      .length <= 500, line)
    assert(!line.contains("\n"))
    val j = parseJson(line)
    assert(j.get("value").asDouble == -1.0)
    assert(j.get("value_best").asDouble == -1.0)
    assert(j.get("failed").asInt == 272)
    assert(j.get("sf").asText == sf.takeRight(48))
    assert(j.get("contended").asBoolean)
  }
}
