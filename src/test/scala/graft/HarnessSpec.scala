package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** Harness output and input checks: the Bench record and stdout line, the
  * `oracle_sql.json` writer and the `SPARK_GRAFT_CONF` parser. */
class HarnessSpec extends AnyFunSuite {

  test("Bench lines carry the contract keys, 3-decimal seconds and -1 for a failure") {
    val results = Seq("q_fast" -> 0.1234, "q_failed" -> -1.0, "q_slow" -> 2.0)
    val pass1 = Seq("q_fast" -> 0.5, "q_failed" -> -1.0, "q_slow" -> 3.25)
    val (fullLine, tailLine) =
      Bench.lines(results, pass1, "/data/sf0.01", "bench_full.json")
    val summary = Seq("metric", "value", "unit", "n_queries", "estimator",
      "pass1_total", "sf")
    val full = parse(fullLine, useBigDecimalForDouble = true).asInstanceOf[JObject]
    val tail = parse(tailLine, useBigDecimalForDouble = true).asInstanceOf[JObject]
    // exactly these keys, in this order: the retired paired section and
    // plan fingerprint are gone
    assert(full.obj.map(_._1) == Seq("queries", "queries_pass1") ++ summary)
    assert(tail.obj.map(_._1) == Seq("queries", "queries_full") ++ summary)
    for (line <- Seq(fullLine, tailLine)) {
      assert(line.contains("\"q_fast\":0.123,") && line.contains("\"q_failed\":-1"))
      assert(line.contains("\"value\":2.123,") && line.contains("\"pass1_total\":3.750,"))
    }
    // the stdout line lists the slowest first and names the full record
    assert((tail \ "queries").asInstanceOf[JObject].obj.map(_._1) ==
      Seq("q_slow", "q_fast", "q_failed"))
    assert(tail \ "queries_full" == JString("bench_full.json"))
    assert(full \ "queries_pass1" \ "q_slow" == JDecimal(BigDecimal("3.250")))
    assert(full \ "n_queries" == JInt(3) && full \ "sf" == JString("/data/sf0.01"))
  }

  test("oracle_sql.json round-trips SQL with control characters, quotes and backslashes") {
    val sql = Map(
      "tabs" -> "SELECT\t1\r\nFROM t",
      "quotes" -> "SELECT '\"a\"' AS q, 'x\\y' AS b",
      "ctrl" -> "SELECT '\u0001' -- end")
    val back = parse(Verify.oracleJson(sql)).asInstanceOf[JObject].obj
      .map { case (k, v) => k -> v.asInstanceOf[JString].s }.toMap
    assert(back == sql)
  }

  test("SPARK_GRAFT_CONF entries parse to key/value pairs") {
    assert(LocalSession.confEntries(None).isEmpty)
    assert(LocalSession.confEntries(Some(" a=1, b=x=y ,")) ==
      Seq("a" -> "1", "b" -> "x=y"))
    intercept[RuntimeException](LocalSession.confEntries(Some("a=1,typo")))
  }
}
