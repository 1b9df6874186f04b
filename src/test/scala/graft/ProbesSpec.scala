package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The probe runner Bench and ScaleCheck share: failure capture,
  * best-of-n, and the record line. No Spark job runs here.
  */
class ProbesSpec extends AnyFunSuite {

  test("a throwing probe records -1 and its class name, and the next probe still runs") {
    val r = new Probes("spec")
    r.time("ok")(())
    assert(r.time("boom")(throw new IllegalStateException("probe failed")) == -1.0)
    r.group("fixture")(throw new UnsupportedOperationException("setup failed"))
    var ran = false
    r.time("next") { ran = true }
    assert(ran)
    assert(r.results.map(_._1) == Seq("ok", "boom", "next"))
    assert(r.value("boom") == -1.0 && r.value("next") >= 0)
    assert(r.errors == Map("boom" -> "java.lang.IllegalStateException",
      "fixture" -> "java.lang.UnsupportedOperationException"))
    // a section's failures land in the record's one error map, qualified
    val s = r.section("ops")
    s.time("boom")(throw new ArithmeticException)
    assert(r.errors("ops.boom") == "java.lang.ArithmeticException")
  }

  test("best-of-n records the minimum, across passes and repeated calls") {
    val r = new Probes("spec")
    val sleeps = Iterator(60L, 5L, 60L)
    assert(r.time("three", passes = 3)(Thread.sleep(sleeps.next())) < 0.05)
    assert(r.value("three") >= 0.005)
    r.time("twice")(Thread.sleep(5L))
    r.time("twice")(Thread.sleep(60L))
    assert(r.value("twice") >= 0.005 && r.value("twice") < 0.05)
    // a failed pass does not count against the passes that succeeded
    r.time("twice")(throw new RuntimeException)
    assert(r.value("twice") >= 0.005 && r.value("twice") < 0.05)
    // a recorded count merges the same way
    r.record("count", 2.0); r.record("count", 0.0)
    assert(r.value("count") == 0.0)
    // an untimed check that fails records the probe as failed, body unrun
    var ran = false
    assert(r.time("checked", check = require(false, "wrong plan")) { ran = true } == -1.0)
    assert(!ran)
  }

  test("the record line parses as JSON and lists each label once") {
    val r = new Probes("spec")
    val ops = r.section("ops_demo")
    (1 to 2).foreach { _ => ops.time("a")(()); ops.time("b")(()) }
    r.time("q1")(())
    r.time("q2")(throw new IllegalArgumentException)
    val line = Probes.json("metric" -> "total", "value" -> r.total, "queries" -> r,
      "nested" -> Seq("t" -> 1.23456, "ops" -> ops), "sf" -> "/data/sf \"0.1\"",
      "errors" -> r.errors)
    val parsed = JsonMethods.parse(line)
    def keys(v: JValue): List[String] = v match {
      case JObject(fields) => fields.map(_._1)
      case _ => fail(s"not an object: $v")
    }
    assert(keys(parsed) == List("metric", "value", "queries", "nested", "sf", "errors"))
    assert(keys(parsed \ "queries") == List("q1", "q2"))
    assert(keys(parsed \ "nested" \ "ops") == List("a", "b"))
    assert((parsed \ "queries" \ "q2") == JInt(-1))
    assert((parsed \ "nested" \ "t") == JDouble(1.235))
    assert((parsed \ "sf") == JString("/data/sf \"0.1\""))
    assert((parsed \ "errors") ==
      JObject("q2" -> JString("java.lang.IllegalArgumentException")))
  }
}
