package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import scala.util.{Failure, Success}

/** The shared measurement harness: the timing loop every main uses, and the
  * bench record a failing query lands in. */
class HarnessSpec extends SparkSpec {

  test("time runs its body exactly n times and reports the fastest run") {
    val sleeps = Seq(150L, 10L, 80L)
    var calls = 0
    val t = Harness.time(sleeps.size) {
      val i = calls
      calls += 1
      Thread.sleep(sleeps(i))
      i
    }.get
    assert(calls === 3)
    assert(t.runs.size === 3)
    assert(t.sec === t.runs.min)
    assert(t.value === 1, s"value of the fastest run expected, runs ${t.runs}")
    assert(t.sec >= 0.01 && t.runs(0) >= 0.15)
  }

  test("time stops at the first throwing run and returns its error") {
    var calls = 0
    val r = Harness.time(4) {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second run failed")
      calls
    }
    assert(calls === 2)
    r match {
      case Failure(e) => assert(e.getMessage === "second run failed")
      case Success(t) => fail(s"a failed run was timed: $t")
    }
    intercept[IllegalArgumentException](Harness.time(0)(()))
  }

  test("bench: a query that fails in any pass is an error entry, never a time") {
    var badCalls = 0
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok" -> ((s, _) => s.range(5).toDF()),
      // succeeds in pass 1, throws in pass 2: pass 1's time must not survive
      "bad" -> { (s, _) =>
        badCalls += 1
        if (badCalls == 2) throw new IllegalStateException("boom\tat \"pass\" 2")
        s.range(5).toDF()
      })
    val results = Bench.measure(spark, "unused", queries)
    assert(badCalls === 2)
    assert(results.map(_._1) === Seq("ok", "bad"))
    assert(results.toMap.apply("ok").isSuccess && results.toMap.apply("bad").isFailure)
    val full = parse(Bench.fullRecord(results, "sfX"))
    val JObject(qs) = full \ "queries"
    assert(qs.map(_._1) === List("ok"))
    assert(full \ "value" === qs.head._2, "the total is the timed queries' sum")
    assert(full \ "errors" === JObject("bad" -> JString("boom\tat \"pass\" 2")))
    assert(full \ "sf" === JString("sfX"))
  }
}
