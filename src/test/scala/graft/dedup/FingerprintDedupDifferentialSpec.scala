package graft.dedup

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[FingerprintDedupIndex.dedupBatch]] decides a batch within
  * `graft.cc.localEdgeThreshold` on the driver and anything else with
  * Spark jobs. Both plans must give the same decisions, row for row and
  * with the same schema: every case runs the driver plan and the
  * distributed one (forced with the threshold at 0) on the same index
  * and batch.
  */
class FingerprintDedupDifferentialSpec extends AnyFunSuite with SparkSpec {

  private val Conf = "graft.cc.localEdgeThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val prior = spark.conf.getOption(Conf)
    spark.conf.set(Conf, v)
    try body
    finally prior.fold(spark.conf.unset(Conf))(spark.conf.set(Conf, _))
  }

  private def isLocal(d: DataFrame): Boolean =
    d.queryExecution.analyzed.isInstanceOf[LocalRelation]

  private def index(maxBucketSize: Int = Int.MaxValue): FingerprintDedupIndex =
    new FingerprintDedupIndex(spark,
      Files.createTempDirectory("fpdiff_").toString + "/idx", "doc_id",
      maxHamming = 3, bandBits = 16, maxBucketSize = maxBucketSize)

  private val schema = StructType(Seq(StructField("doc_id", LongType),
    StructField("h_hi", LongType), StructField("h_lo", LongType)))

  /** Rows of `(id, fingerprint)`; a None id or half is NULL. */
  private def frame(rows: Seq[(Option[Long], Option[Long], Option[Long])]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, hi, lo) =>
      Row(i.orNull, hi.orNull, lo.orNull)
    }: _*), schema)

  private def fps(rows: Seq[(Long, Long)]): DataFrame =
    frame(rows.map { case (i, fp) => (Some(i), Some(fp >>> 32), Some(fp & 0xffffffffL)) })

  private def flip(rnd: Random, fp: Long, bits: Int): Long =
    rnd.shuffle((0 until 64).toList).take(bits).foldLeft(fp)((f, b) => f ^ (1L << b))

  private def counts(d: DataFrame): Map[Row, Int] =
    d.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Both plans' decisions for `batch`, checked equal; the driver
    * plan's frame is returned. `local` is whether the default budget
    * must take the driver plan.
    */
  private def same(idx: FingerprintDedupIndex, batch: DataFrame,
      threshold: String = "100000", local: Boolean = true): DataFrame = {
    val driver = withThreshold(threshold)(idx.dedupBatch(batch))
    assert(isLocal(driver) === local,
      s"expected the ${if (local) "driver" else "distributed"} plan")
    val distributed = withThreshold("0")(idx.dedupBatch(batch))
    assert(!isLocal(distributed))
    assert(driver.schema === distributed.schema)
    assert(counts(driver) === counts(distributed))
    assert(driver.count() === batch.count(), "one decision per batch row")
    driver
  }

  private def corpus(rnd: Random, n: Int): Seq[(Long, Long)] =
    (0L until n).map(i => i -> rnd.nextLong())

  /** Planted corpus near-dups, intra-batch chains (consecutive links
    * within 3 bits, ends farther apart), a corpus dup `c` with two
    * fingerprints 2 bits from it and 4 from each other (`c` must not
    * bridge them into one component) and fresh fingerprints.
    */
  private def batch(rnd: Random, base: Seq[(Long, Long)], from: Long): Seq[(Long, Long)] = {
    val planted = Seq.fill(8)(flip(rnd, base(rnd.nextInt(base.size))._2, 1 + rnd.nextInt(3)))
    val chains = Seq.fill(4) {
      Iterator.iterate(rnd.nextLong())(f => flip(rnd, f, 2)).take(4).toSeq
    }.flatten
    val bits = rnd.shuffle((0 until 64).toList).take(7).map(1L << _)
    val c = base(rnd.nextInt(base.size))._2 ^ bits(0) ^ bits(1) ^ bits(2)
    val bridged = Seq(c, c ^ bits(3) ^ bits(4), c ^ bits(5) ^ bits(6))
    val fresh = Seq.fill(12)(rnd.nextLong())
    rnd.shuffle(planted ++ chains ++ bridged ++ fresh).zipWithIndex
      .map { case (fp, i) => (from + i) -> fp }
  }

  test("seeded random batches: planted corpus dups and intra-batch chains " +
    "decide the same on both plans, admits included") {
    for (seed <- 1 to 3) {
      val rnd = new Random(seed)
      val idx = index()
      val c = corpus(rnd, 150)
      idx.bootstrap(fps(c))
      var indexed = c
      for (round <- 0 until 2) {
        val b = fps(batch(rnd, indexed, 1000L * (round + 1)))
        val d = same(idx, b)
        val statuses = d.collect().map(_.getString(1)).toSet
        assert(statuses === Set("kept", "dup_corpus", "dup_batch"),
          s"seed $seed round $round exercises every status: $statuses")
        idx.admit(b, d)
        indexed = indexed ++ b.collect().map(r =>
          r.getLong(0) -> ((r.getLong(1) << 32) | r.getLong(2)))
      }
    }
  }

  test("a replayed, already-admitted batch does not match itself") {
    val rnd = new Random(7)
    val idx = index()
    val c = corpus(rnd, 100)
    idx.bootstrap(fps(c))
    val b = fps(batch(rnd, c, 500L))
    idx.admit(b, same(idx, b))
    val replay = counts(same(idx, b))
    assert(replay.keys.exists(_.getString(1) != "dup_corpus"),
      "the self-match guard keeps a replayed batch's kept rows kept")
  }

  test("NULL ids, NULL halves and duplicate ids") {
    val rnd = new Random(11)
    val idx = index()
    val c = corpus(rnd, 100)
    idx.bootstrap(fps(c))
    val a = c(3)._2 ^ 1L // one bit from corpus id 3
    val x = rnd.nextLong()
    val y = x ^ 6L // two bits from x
    def split(fp: Long) = (Some(fp >>> 32), Some(fp & 0xffffffffL))
    val rows = Seq(
      (None, split(a)._1, split(a)._2), // NULL id near the corpus
      (Some(500L), split(x)._1, split(x)._2),
      (Some(501L), split(y)._1, split(y)._2), // dup_batch of 500
      (Some(501L), split(a)._1, split(a)._2), // duplicate id, corpus dup
      (Some(502L), None, split(y)._2), // NULL high half
      (Some(503L), split(x)._1, None), // NULL low half
      (Some(504L), None, None),
      (Some(505L), split(x)._1, split(x)._2), // duplicate fingerprint of 500
      (Some(505L), split(x)._1, split(x)._2))
    val d = counts(same(idx, frame(rows)))
    assert(d(Row(null, "kept", 1L)) === 1)
    assert(d(Row(501L, "dup_corpus", 0L)) === 2)
    assert(d(Row(505L, "dup_batch", 0L)) === 2)
    Seq(502L, 503L, 504L).foreach(i => assert(d(Row(i, "kept", 1L)) === 1))
  }

  test("maxBucketSize caps hot buckets the same way on both plans") {
    val rnd = new Random(13)
    val idx = index(maxBucketSize = 3)
    idx.bootstrap(fps(corpus(rnd, 50)))
    // five fingerprints sharing their low 32 bits: bands 0 and 1 hold
    // buckets of 5 (over the cap); their high halves differ by 1-2 bits,
    // so some pairs still meet in a band 2 or 3 bucket of at most 3
    val lo = rnd.nextLong() & 0xffffffffL
    val hi = rnd.nextLong() & 0xffffffffL
    val hot = Seq(hi, hi ^ 1L, hi ^ (1L << 20), hi ^ 3L, hi ^ (3L << 20))
      .zipWithIndex.map { case (h, i) => (100L + i) -> ((h << 32) | lo) }
    val d = counts(same(idx, fps(hot ++ batch(rnd, Seq(0L -> 0L), 200L))))
    assert(d.keys.exists(r => r.getLong(0) >= 100L && r.getLong(0) < 105L &&
      r.getString(1) == "dup_batch"))
  }

  test("a fingerprint removed by deletion vector is no anchor on either plan") {
    val rnd = new Random(17)
    val idx = index()
    val c = corpus(rnd, 80)
    idx.bootstrap(fps(c))
    idx.remove(Seq(5L))
    val b = fps(Seq(900L -> (c(5)._2 ^ 2L), 901L -> (c(6)._2 ^ 2L)))
    val d = counts(same(idx, b))
    assert(d.keySet === Set(Row(900L, "kept", 1L), Row(901L, "dup_corpus", 0L)))
  }

  test("a batch over 64 rows (over 256 band values) scans the whole index") {
    val rnd = new Random(19)
    val idx = index()
    val c = corpus(rnd, 200)
    idx.bootstrap(fps(c))
    val b = batch(rnd, c, 3000L) ++ (4000L until 4050L).map(_ -> rnd.nextLong())
    assert(b.size > 64)
    same(idx, fps(b))
  }

  test("one candidate pair over graft.cc.localEdgeThreshold takes the " +
    "distributed plan; at the budget the driver plan") {
    val rnd = new Random(23)
    val idx = index()
    idx.bootstrap(fps(corpus(rnd, 50)))
    // four identical fingerprints: 16 band rows, 4 buckets of 4 rows,
    // so 4 * C(4, 2) = 24 candidate pairs
    val fp = rnd.nextLong()
    val b = fps((0L until 4L).map(i => (700L + i) -> fp))
    val atBudget = counts(same(idx, b, threshold = "24"))
    same(idx, b, threshold = "23", local = false)
    assert(atBudget === Map(Row(700L, "kept", 1L) -> 1, Row(701L, "dup_batch", 0L) -> 1,
      Row(702L, "dup_batch", 0L) -> 1, Row(703L, "dup_batch", 0L) -> 1))
    // band rows over the budget (16 > 15) also take the distributed plan
    same(idx, b, threshold = "15", local = false)
  }

  test("string ids decide on the driver; an id type without a driver " +
    "ordering takes the distributed plan") {
    val rnd = new Random(29)
    def typed(dt: DataType, conv: Long => Any, rows: Seq[(Long, Long)]) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (i, fp) =>
        Row(conv(i), fp >>> 32, fp & 0xffffffffL)
      }: _*), StructType(Seq(StructField("doc_id", dt),
        StructField("h_hi", LongType), StructField("h_lo", LongType))))
    val c = corpus(rnd, 60)
    val b = batch(rnd, c, 100L)
    val str = index()
    str.bootstrap(typed(StringType, i => s"doc$i", c))
    same(str, typed(StringType, i => s"doc$i", b))
    val dbl = index()
    dbl.bootstrap(typed(DoubleType, _.toDouble, c))
    same(dbl, typed(DoubleType, _.toDouble, b), local = false)
  }
}
