package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.timePass`: a query that throws is reported as failed and is
  * never timed — it cannot lower the headline total as a "fast" query.
  */
class BenchSpec extends AnyFunSuite with SparkSpec {

  test("a throwing query is failed, untimed; the others are timed") {
    var calls = 0
    val queries: Map[String, Bench.Query] = Map(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("deliberate")),
      // fails only on its second run: still failed, still untimed
      "flaky" -> ((s, _) => {
        calls += 1
        if (calls == 2) throw new RuntimeException("second run") else s.range(1).toDF()
      }))
    val pass = Bench.timePass(spark, "unused", queries, reps = 3)
    assert(pass.failed.keySet === Set("boom", "flaky"))
    assert(pass.failed("boom").getMessage === "deliberate")
    assert(pass.min.keySet === Set("ok"))
    assert(pass.spread.keySet === Set("ok"))
    assert(pass.min("ok") > 0.0)
  }
}
