package perfbench

/** Shows that the checks catch corrupted results, without Spark: the
  * model replays the TEST batches to the golden end states, the checks
  * accept the model's own table, and each single corruption of it (an
  * altered `effective_to`, a wrong hash, a repeated surrogate key, a
  * flipped dedup decision, a wrong k-NN distance) is rejected.
  *
  *   python3 perfbench/run.py --self-test
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, shouldPass: Boolean)(body: => Unit): Unit = {
    val passed = try { body; true } catch { case _: CheckFailed => false }
    val ok = passed == shouldPass
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} $what: check ${if (passed) "passed" else "rejected"}")
  }

  private def table(m: ScdModel): Seq[(DimRow, Long, String, String)] =
    m.rows.sortBy(r => (r.id, r.stock, r.effFrom)).zipWithIndex.map { case (r, i) =>
      (r, ScdShape.IdentityStart + i, ScdModel.scdKey(r), ScdModel.updKey(r))
    }

  private def business(rows: Seq[DimRow]) =
    rows.map(d => (d.id, d.stock, d.units, d.platform, d.status, d.effFrom, d.effTo))

  def main(args: Array[String]): Unit = {
    import TestScenario._
    val m2 = ScdModel.empty(Day1, 1L)(Day2, 2L)
    val m3 = m2(Day3, 3L)
    expect("model after the second TEST batch vs golden", shouldPass = true)(
      Check.sameMultiset("model", business(m2.rows), Golden2))
    expect("model after the third TEST batch vs golden", shouldPass = true)(
      Check.sameMultiset("model", business(m3.rows), Golden3))

    val good = table(m3)
    expect("table equal to the model", shouldPass = true) {
      Check.sameMultiset("table", good.map(_._1), m3.rows)
      Check.scdInvariants(good, ScdShape.IdentityStart)
    }
    val closed = good.indexWhere(_._1.status == "I")
    val badTo = good.updated(closed, good(closed).copy(_1 = good(closed)._1.copy(
      effTo = good(closed)._1.effTo.map(_ + 1000))))
    expect("one altered effective_to (multiset)", shouldPass = false)(
      Check.sameMultiset("table", badTo.map(_._1), m3.rows))
    expect("one altered effective_to (chain rule)", shouldPass = false)(
      Check.scdInvariants(badTo, ScdShape.IdentityStart))
    expect("one wrong scd_key", shouldPass = false)(
      Check.scdInvariants(good.updated(0, good(0).copy(_3 = good(1)._3)), ScdShape.IdentityStart))
    expect("one wrong upd_key", shouldPass = false)(
      Check.scdInvariants(good.updated(0, good(0).copy(_4 = "0" * 64)), ScdShape.IdentityStart))
    expect("a repeated surrogate key", shouldPass = false)(
      Check.scdInvariants(good.updated(0, good(0).copy(_2 = good(1)._2)), ScdShape.IdentityStart))
    expect("a surrogate key below START", shouldPass = false)(
      Check.scdInvariants(good.updated(0, good(0).copy(_2 = 1L)), ScdShape.IdentityStart))
    val active = good.indexWhere(_._1.status == "A")
    expect("two active rows for a key", shouldPass = false)(
      Check.scdInvariants(good :+ good(active).copy(_2 = 999L), ScdShape.IdentityStart))

    // dedup: corpus {1: fp}, batch with a near copy, a group of two, a fresh one
    val dm = new DedupModel(3)
    val base = 0x0123456789abcdefL
    dm.add(1L, base)
    val batch = Seq(10L -> (base ^ 0x5L), 11L -> 0x7777L, 12L -> (0x7777L ^ 0x100L),
      13L -> 0x0f0f0f0f0f0f0f0fL)
    val want = dm.decide(batch)
    expect("decisions of the brute-force scan", shouldPass = true) {
      Check.that(want == Map(10L -> "dup_corpus", 11L -> "kept", 12L -> "dup_batch",
        13L -> "kept"), s"unexpected decisions $want")
      DedupModel.checkDecisions(want, want)
    }
    expect("one flipped decision", shouldPass = false)(
      DedupModel.checkDecisions(want.updated(12L, "kept"), want))
    dm.add(2L, base ^ 0x3L)
    val nn = dm.neighbours(99L, base ^ 0x1L, 3)
    expect("k-NN equal to the brute-force scan", shouldPass = true)(
      DedupModel.checkKnn(99L, nn, nn, 5))
    expect("one wrong k-NN distance", shouldPass = false)(
      DedupModel.checkKnn(99L, nn.map { case (i, d) => (i, d + 1) }, nn, 5))
    expect("one k-NN neighbour missing", shouldPass = false)(
      DedupModel.checkKnn(99L, nn.take(1), nn, 5))

    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
