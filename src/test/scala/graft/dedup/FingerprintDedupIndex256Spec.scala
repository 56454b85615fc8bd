package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[FingerprintDedupIndex256]]: the 64-bit index's incremental
  * protocol on limb-array fingerprints — decisions at high thresholds,
  * index growth, idempotent admits, takedown. Fingerprints are crafted
  * 16-limb arrays; distances are controlled per-limb bit flips.
  */
class FingerprintDedupIndex256Spec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshIndex(maxHamming: Int = 9): FingerprintDedupIndex256 = {
    val base = Files.createTempDirectory("fpi256_").toString + "/idx"
    new FingerprintDedupIndex256(spark, base, "doc_id", maxHamming)
  }

  private def fp(seed: Long): Array[Long] =
    Array.tabulate(16)(i => (seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L) & 0xFFFFL)

  /** Flip `flips` bits spread across limbs (bit k of limb k). */
  private def near(base: Array[Long], flips: Int): Array[Long] =
    Array.tabulate(16)(i => if (i < flips) base(i) ^ (1L << i) else base(i))

  private def fps(rows: (Long, Array[Long])*): DataFrame =
    rows.toDF("doc_id", "fp")

  private def decisionMap(d: DataFrame): Map[Long, String] =
    d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("decisions at threshold 9 — far beyond the 64-bit ceiling: " +
    "dup_corpus within radius, dup_batch components keep the min id, " +
    "unique fingerprints kept") {
    val idx = freshIndex()
    val a = fp(1)
    idx.bootstrap(fps((1L, a)))
    val d = decisionMap(idx.dedupBatch(fps(
      (10L, near(a, 9)), // 9 bits from the corpus anchor -> dup_corpus
      (11L, fp(2)), (12L, near(fp(2), 7)), // intra pair, min 11 kept
      (13L, fp(3))))) // unique
    assert(d === Map(10L -> "dup_corpus", 11L -> "kept",
      12L -> "dup_batch", 13L -> "kept"))
    // ...and 10 bits out is NOT a dup at threshold 9
    val d2 = decisionMap(idx.dedupBatch(fps((20L, near(a, 10)))))
    assert(d2 === Map(20L -> "kept"))
  }

  test("admit grows the index; idempotent admit replays as a no-op; " +
    "takedown retracts merge-on-read") {
    val idx = freshIndex()
    idx.bootstrap(fps((1L, fp(1))))
    val b1 = fps((10L, fp(5)))
    val d1 = idx.dedupBatch(b1)
    idx.admitIdempotent(b1, d1, batchId = 1L)
    val v1 = idx.fpTable.latestVersion.get
    idx.admitIdempotent(b1, d1, batchId = 1L) // replay: watermarked no-op
    assert(idx.fpTable.latestVersion.get === v1)
    // batch 2 near the ADMITTED fingerprint -> the index grew
    val d2 = decisionMap(idx.dedupBatch(fps((20L, near(fp(5), 3)))))
    assert(d2 === Map(20L -> "dup_corpus"))
    // takedown: the anchor stops rejecting
    idx.remove(Seq(10L))
    val d3 = decisionMap(idx.dedupBatch(fps((21L, near(fp(5), 3)))))
    assert(d3 === Map(21L -> "kept"))
  }

  test("knnAgainstIndex: answers equal the in-memory limb k-NN, self " +
    "excluded, radius honored") {
    val idx = freshIndex()
    // four groups of six variants: member i flips i%6 bits of its
    // group base, so within-group distances are <= 5 (inside radius 9)
    // and each probe has 5 true neighbors — k=4 must truncate
    val corpusRows = (0L until 24L).map(i =>
      (i, near(fp(i / 6), (i % 6).toInt)))
    val corpus = fps(corpusRows: _*)
    idx.bootstrap(corpus)
    val probes = fps((0L, corpusRows(0)._2), (6L, corpusRows(6)._2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaIndex = rows(idx.knnAgainstIndex(probes, k = 4, radius = 9))
    val inMemory = rows(graft.multimodal.HammingKnn
      .knnWithinRadius256(corpus, probes, "doc_id", k = 4, radius = 9))
    assert(viaIndex === inMemory)
    assert(!viaIndex.exists(t => t._1 == t._2), "self-matches excluded")
    assert(viaIndex.forall(_._3 <= 9), "radius honored")
    intercept[IllegalArgumentException](
      idx.knnAgainstIndex(probes, k = 4, radius = 16))
  }

  test("streaming sink (shared FingerprintIndexLike protocol): " +
    "decisions accumulate, replay no-ops on both tables") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(fps((1L, fp(1))))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("fpi256_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec)
    sink(fps((10L, fp(5))), 0L) // kept + admitted
    sink(fps((20L, near(fp(5), 5))), 1L) // dup of the ADMITTED 10
    val rows = dec.snapshot().select("doc_id", "status", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((10L, "kept", 0L), (20L, "dup_corpus", 1L)))
    val (decV, idxV) = (dec.latestVersion.get, idx.fpTable.latestVersion.get)
    sink(fps((20L, near(fp(5), 5))), 1L) // replay: both tables unchanged
    assert(dec.latestVersion.get === decV)
    assert(idx.fpTable.latestVersion.get === idxV)
  }

  test("capped candidate generation NEVER corrupts the verify: a batch " +
    "member of a hot (capped) bucket still gets its FULL 256-bit " +
    "distance — a partial sum over surviving limbs would fake " +
    "dup_corpus") {
    val base = Files.createTempDirectory("fpi256_").toString + "/idx"
    val idx = new FingerprintDedupIndex256(spark, base, "doc_id",
      maxHamming = 9, maxBucketSize = 10)
    val c = Array.tabulate(16)(i => 0x1000L + i) // corpus anchor
    idx.bootstrap(fps((1L, c)))
    // X: band 0 is 16 bits from the anchor (a HOT value shared with 11
    // fillers -> that bucket caps away), bands 1-15 equal the anchor —
    // true distance 16 > 9, but a verify over X's SURVIVING limb rows
    // would sum only bands 1-15 (= 0) and call it dup_corpus
    val hot = 0xFFFFL ^ c(0)
    val x = c.clone(); x(0) = hot
    val fillers = (100L until 111L).map { i =>
      (i, Array.tabulate(16)(k =>
        if (k == 0) hot else (i * 0x9E3779B97F4A7C15L + k * 0x94D049BB) & 0xFFFFL))
    }
    val d = decisionMap(idx.dedupBatch(fps(fillers :+ ((50L, x)): _*)))
    assert(d(50L) === "kept",
      "the exact verify must include the capped band's 16-bit distance")
    // ...while a genuine near-dup through an UNCAPPED band still hits
    val y = c.clone(); y(5) = c(5) ^ 0x7L // distance 3
    assert(decisionMap(idx.dedupBatch(fps((60L, y))))(60L) === "dup_corpus")
  }

  test("refusals: threshold past the limb pigeonhole; un-bootstrapped " +
    "batch; double bootstrap") {
    intercept[IllegalArgumentException](freshIndex(maxHamming = 16))
    val idx = freshIndex()
    intercept[IllegalArgumentException](idx.dedupBatch(fps((1L, fp(1)))))
    idx.bootstrap(fps((1L, fp(1))))
    intercept[IllegalArgumentException](idx.bootstrap(fps((2L, fp(2)))))
  }
}
