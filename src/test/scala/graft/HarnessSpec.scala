package graft

import org.scalatest.funsuite.AnyFunSuite

/** Harness input checks: the `paired_baseline.json` gate (only a single
  * JSON object may be spliced verbatim into the bench line) and the
  * `SPARK_GRAFT_CONF` parser. */
class HarnessSpec extends AnyFunSuite {

  test("a valid JSON object passes through trimmed") {
    val txt = """{"sha":"abc","ratios":{"q1":0.98,"q2":[1,2]},"note":"a}b"}"""
    assert(Bench.jsonObject(s"\n$txt\n") == txt)
  }

  test("a truncated object that still ends in a brace is rejected") {
    intercept[Exception](Bench.jsonObject("""{"sha":"abc","ratios":{"q1":0.98}"""))
    intercept[Exception](Bench.jsonObject("""{"a":1}}"""))
  }

  test("an array is rejected") {
    val e = intercept[Exception](Bench.jsonObject("""[{"a":1}]"""))
    assert(e.getMessage == "not a JSON object")
  }

  test("SPARK_GRAFT_CONF entries parse to key/value pairs") {
    assert(LocalSession.confEntries(None).isEmpty)
    assert(LocalSession.confEntries(Some(" a=1, b=x=y ,")) ==
      Seq("a" -> "1", "b" -> "x=y"))
    intercept[RuntimeException](LocalSession.confEntries(Some("a=1,typo")))
  }
}
