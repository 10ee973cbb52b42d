package graft

import graft.api.JobService
import graft.app.Experiment
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

/** The JSON artifacts (result.json, metrics.json, bench_result.json,
  * oracle_sql.json, the job service's bodies) all encode strings through
  * `Experiment.jsonValue`; these pin that every such string parses back
  * to itself and that the value layout keeps the reference's shape.
  */
class JsonSpec extends AnyFunSuite {

  private def roundTrip(s: String): Unit = {
    val encoded = Experiment.jsonValue(s)
    assert(JsonMethods.parse(s"[$encoded]") == JArray(List(JString(s))),
      s"$s encoded as $encoded")
    assert(JobService.jsonQuote(s) == encoded)
  }

  test("quote, backslash, newline, CR, tab, U+0001 and non-ASCII round-trip") {
    Seq("say \"hi\"", "C:\\dir\\", "a\nb", "a\rb", "a\tb", "a\u0001b",
      "naïve — 生存 €", "\"\\\n\r\t\u0001\u001f\u007f\u0085\u2028").foreach(roundTrip)
  }

  test("control characters never appear raw in the encoding") {
    val encoded = Experiment.jsonValue((0 until 0x20).map(_.toChar).mkString)
    assert(!encoded.exists(_ < ' '), encoded)
  }

  test("non-finite doubles: NaN is null, ±Inf is ±1e999") {
    assert(Experiment.jsonValue(Double.NaN) == "null")
    assert(Experiment.jsonValue(Double.PositiveInfinity) == "1e999")
    assert(Experiment.jsonValue(Double.NegativeInfinity) == "-1e999")
  }

  test("integral doubles print without a fraction, others as toString") {
    assert(Experiment.jsonValue(3.0) == "3")
    assert(Experiment.jsonValue(-2.0) == "-2")
    assert(Experiment.jsonValue(0.25) == "0.25")
    assert(Experiment.jsonValue(1e15) == "1.0E15")
  }

  test("nested map, seq and tuple keep the reference's separators") {
    val v = Map("a" -> Seq(1, 2.5), "b" -> Map("c" -> ("x", 3.0)),
      "d" -> null, "e" -> true)
    assert(Experiment.jsonValue(v) ==
      """{"a": [1, 2.5], "b": {"c": ["x", 3]}, "d": null, "e": true}""")
    assert(JsonMethods.parse(Experiment.jsonValue(v)) \ "b" \ "c" ==
      JArray(List(JString("x"), JInt(3))))
  }

  test("jobJson: stateDetails with a newline parses back unchanged") {
    val details = "Traceback:\n  line 1\t\"boom\"\r\n"
    val job = JobService.Job("j1", "exp \"one\"", 1, Seq.empty,
      Instant.parse("2026-01-01T00:00:00Z"),
      finishedAt = Some(Instant.parse("2026-01-01T00:01:00Z")),
      state = JobService.JobState.Completed, stateDetails = Some(details))
    val parsed = JsonMethods.parse(JobService.jobJson(job))
    assert(parsed \ "stateDetails" == JString(details))
    assert(parsed \ "name" == JString("exp \"one\""))
    assert(parsed \ "state" == JString("COMPLETED"))
    assert(parsed \ "finishedAt" == JString("2026-01-01T00:01:00Z"))
  }
}
