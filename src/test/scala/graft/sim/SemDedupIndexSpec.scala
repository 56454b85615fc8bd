package graft.sim

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Incremental SemDeDup against a persisted index ([[SemDedupIndex]]):
  * decisions, index growth across batches, the cross-cluster-never-
  * candidates scoping (within AND across batches), takedown, replay
  * idempotence, and the drift signal.
  *
  * Fixture geometry: two well-separated directions in dim 8 —
  * "cluster A" vectors near e0, "cluster B" vectors near e1. k-means
  * with k=2 on the bootstrap corpus recovers them; near-dup threshold
  * cos ≥ 9/10 keeps only genuinely close pairs.
  */
class SemDedupIndexSpec extends AnyFunSuite with SparkSpec {

  private val Dim = 8

  /** Unit-ish vector: `main` axis gets weight c, `other` axis s. */
  private def v(main: Int, c: Float, other: Int, s: Float): Seq[Float] =
    Seq.tabulate(Dim)(i => if (i == main) c else if (i == other) s else 0.0f)

  private def emb(rows: (Long, Seq[Float])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  private def freshIndex(k: Int = 2): SemDedupIndex = {
    val base = Files.createTempDirectory("sdi_").toString + "/idx"
    new SemDedupIndex(spark, base, "vec_id", "embedding",
      k = k, iterations = 3, num = 9, den = 10)
  }

  // bootstrap corpus: 4 A-ish + 4 B-ish vectors, ids 0-7
  private def bootRows: Seq[(Long, Seq[Float])] = Seq(
    0L -> v(0, 1.0f, 1, 0.0f),
    1L -> v(0, 0.98f, 1, 0.1f),
    2L -> v(0, 0.95f, 1, 0.2f),
    3L -> v(0, 0.99f, 2, 0.1f),
    4L -> v(1, 1.0f, 0, 0.0f),
    5L -> v(1, 0.98f, 0, 0.1f),
    6L -> v(1, 0.95f, 0, 0.2f),
    7L -> v(1, 0.99f, 2, 0.1f))

  private def decisionMap(d: DataFrame): Map[Long, String] =
    d.collect().map(r => r.getLong(0) -> r.getString(2)).toMap

  test("arc: batch near-dups of indexed vectors come back dup_corpus, " +
    "intra-batch dups keep the min id, kept vectors grow the index") {
    val idx = freshIndex()
    idx.bootstrap(emb(bootRows: _*))
    assert(idx.exists)

    // batch 1: 10 ≈ vec 0 (dup_corpus); 11 ≈ 12 on the unoccupied
    // (e2, e3) plane (intra pair, 11 kept, 12 dup_batch); 13 alone,
    // not ≥0.9 of anything indexed or in-batch
    val b1 = emb(
      10L -> v(0, 0.999f, 1, 0.02f),
      11L -> v(2, 0.70f, 3, 0.70f),
      12L -> v(2, 0.72f, 3, 0.69f),
      13L -> v(1, 0.3f, 2, 0.9f))
    val d1 = idx.dedupBatch(b1).localCheckpoint()
    val m1 = decisionMap(d1)
    assert(m1(10L) === "dup_corpus")
    assert(m1(11L) === "kept")
    assert(m1(12L) === "dup_batch")
    assert(m1(13L) === "kept")
    idx.admit(b1, d1)

    // batch 2: 20 ≈ 11 (a batch-1 KEPT vector) must be dup_corpus —
    // proof the index actually grew; 21 ≈ 12 (batch-1 DROPPED) must
    // NOT match 12 itself, but 12 ≈ 11 so 21 still hits 11 via the
    // cluster∩bucket path — also dup_corpus
    val b2 = emb(
      20L -> v(2, 0.69f, 3, 0.71f),
      21L -> v(2, 0.73f, 3, 0.68f))
    val m2 = decisionMap(idx.dedupBatch(b2))
    assert(m2(20L) === "dup_corpus")
    assert(m2(21L) === "dup_corpus")
    // dropped vectors were NOT admitted
    assert(idx.vecsTable.snapshot().filter(col("vec_id") === 12L).count() === 0L)
    assert(idx.vecsTable.snapshot().filter(col("vec_id") === 11L).count() === 1L)
  }

  test("cross-cluster pairs are never candidates, within or across " +
    "batches: boundary vectors with cosine above threshold but " +
    "different kclusters both stay kept") {
    val idx = freshIndex()
    idx.bootstrap(emb(bootRows: _*))

    // two near-boundary vectors: cos(30, 31) = .72*.69 + .69*.72 ≈
    // 0.9936 ≥ 0.9, but 30 leans A (0.72 > 0.69) and 31 leans B —
    // SemDeDup's contract says they must NOT pair (the scoping is the
    // point, not a bug); first same-batch…
    val w30 = v(0, 0.72f, 1, 0.69f)
    val w31 = v(0, 0.69f, 1, 0.72f)
    val d1 = idx.dedupBatch(emb(30L -> w30, 31L -> w31)).localCheckpoint()
    val rows = d1.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(rows(30L)._2 === "kept")
    assert(rows(31L)._2 === "kept")
    assert(rows(30L)._1 !== rows(31L)._1, "fixture must straddle clusters")
    idx.admit(emb(30L -> w30, 31L -> w31), d1)

    // …then across batches: 32 ≈ 31 in cosine but assigned to 30's
    // cluster — must NOT be dup_corpus against 31 (different cluster);
    // it IS ≥0.9 to 30 (same cluster), so flip the check: a vector
    // equal to 31's direction but nudged INTO cluster A pairs with 30
    // only if their cosine passes — cos(32, 30) = .73*.72+.68*.69 ≈
    // 0.9948 ≥ 0.9 → dup_corpus via the SAME-cluster anchor only
    val d2 = idx.dedupBatch(emb(32L -> v(0, 0.73f, 1, 0.68f)))
    val r32 = d2.collect().head
    assert(r32.getString(2) === "dup_corpus")
    assert(r32.getLong(1) === rows(30L)._1, "32 must land in 30's cluster")
  }

  test("drift: in-distribution growth holds ratio ≈ 1; a shifted batch " +
    "pulls it down") {
    val idx = freshIndex()
    idx.bootstrap(emb(bootRows: _*))
    val d0 = idx.drift()
    assert(d0.ratio > 0.99, s"fresh index ratio ${d0.ratio}")

    // in-distribution admit: more A/B-ish vectors
    val b1 = emb(60L -> v(0, 0.97f, 1, 0.15f), 61L -> v(1, 0.97f, 0, 0.15f))
    idx.admit(b1, idx.dedupBatch(b1).localCheckpoint())
    assert(idx.drift().ratio > 0.97, "in-distribution append must not trip")

    // shifted: a flood of vectors on an axis no centroid covers
    val shifted = emb((70L until 90L).map(i =>
      i -> v(5, 0.9f, 6, 0.43f)): _*)
    idx.admit(shifted, idx.dedupBatch(shifted).localCheckpoint())
    val d2 = idx.drift()
    assert(d2.ratio < 0.95,
      s"shifted corpus must trip the 0.95 trigger, got ${d2.ratio}")
  }

  test("streaming sink rides the decisions-first protocol: decisions " +
    "accumulate, kept vectors grow the index, a replayed batch no-ops") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(emb(bootRows: _*))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("sdi_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec)
    sink(emb(80L -> v(2, 0.7f, 3, 0.7f)), 0L) // kept + admitted
    sink(emb(81L -> v(2, 0.69f, 3, 0.71f)), 1L) // near-dup of batch-0 kept
    val rows = dec.snapshot().select("vec_id", "status", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((80L, "kept", 0L), (81L, "dup_corpus", 1L)))
    val (decV, vecsV) = (dec.latestVersion.get, idx.vecsTable.latestVersion.get)
    sink(emb(81L -> v(2, 0.69f, 3, 0.71f)), 1L) // replay no-ops
    assert(dec.latestVersion.get === decV)
    assert(idx.vecsTable.latestVersion.get === vecsV)
  }

  test("dedupBatch plan shapes: no cartesian in ANY executed plan; the " +
    "candidate generation runs broadcast hash joins (batch side small)") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        seen.synchronized { seen += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val idx = freshIndex()
      idx.bootstrap(emb(bootRows: _*))
      idx.dedupBatch(emb(
        90L -> v(0, 0.98f, 1, 0.1f), 91L -> v(2, 0.6f, 3, 0.6f)))
      // listener delivery is async: poll until the capture goes quiet
      var last = -1
      var quiet = 0
      while (quiet < 3 && last < 200) {
        Thread.sleep(100)
        val now = seen.synchronized(seen.size)
        if (now == last) quiet += 1 else { quiet = 0; last = now }
      }
      val plans = seen.synchronized(seen.toList)
      assert(plans.nonEmpty, "no executed plans captured")
      val cart = plans.filter(_.contains("CartesianProduct"))
      assert(cart.isEmpty, "cartesian product in a dedupBatch plan:\n" +
        cart.headOption.getOrElse(""))
      assert(plans.exists(_.contains("BroadcastHashJoin")),
        "no broadcast hash join anywhere in the batch's plans")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bootstrap twice refuses; dedupBatch before bootstrap refuses") {
    val idx = freshIndex()
    intercept[IllegalArgumentException](idx.dedupBatch(emb(1L -> v(0, 1f, 1, 0f))))
    idx.bootstrap(emb(bootRows: _*))
    intercept[IllegalArgumentException](idx.bootstrap(emb(bootRows: _*)))
  }
}
