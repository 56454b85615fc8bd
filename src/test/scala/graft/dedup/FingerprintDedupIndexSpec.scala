package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Incremental media near-dup detection against a persisted
  * fingerprint index ([[FingerprintDedupIndex]]): decisions, index
  * growth, idempotent admits, takedown, and the single-table
  * exactly-once property.
  *
  * Fingerprints are crafted 64-bit values (the index is
  * modality-agnostic over (id, h_hi, h_lo) — the codec seams are
  * proven in the modality specs): distances are controlled bit flips.
  */
class FingerprintDedupIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshIndex(): FingerprintDedupIndex = {
    val base = Files.createTempDirectory("fpi_").toString + "/idx"
    new FingerprintDedupIndex(spark, base, "doc_id",
      maxHamming = 3, bandBits = 16)
  }

  private def fps(rows: (Long, Long, Long)*): DataFrame =
    rows.toDF("doc_id", "h_hi", "h_lo")

  private def decisionMap(d: DataFrame): Map[Long, String] =
    d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // two fingerprint families, far apart (>= 16 bits)
  private val A = (0x0L, 0x0L)
  private val B = (0xFFFF0000L, 0x0000FFFFL)
  private def near(h: (Long, Long), flips: Long): (Long, Long) =
    (h._1, h._2 ^ flips) // flip low bits: distance = popcount(flips)

  test("batch decisions: dup_corpus within radius, dup_batch components " +
    "keep the min id, unique fingerprints kept") {
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2)))
    val nearA = near(A, 3L) // 2 bits from A -> dup_corpus
    val b = near(B, 1L) // 1 bit from B
    val d = decisionMap(idx.dedupBatch(fps(
      (10L, nearA._1, nearA._2),
      (11L, B._1, B._2), (12L, b._1, b._2), // intra pair, min 11 kept
      (13L, 0x00FF00FFL, 0x0L)))) // unique
    assert(d === Map(10L -> "dup_corpus", 11L -> "kept",
      12L -> "dup_batch", 13L -> "kept"))
  }

  test("a 48-row batch decides on the driver: at most 3 Spark jobs, and " +
    "collecting its decisions runs none") {
    val rnd = new scala.util.Random(48)
    def fp(): (Long, Long) = (rnd.nextLong() >>> 32, rnd.nextLong() >>> 32)
    val corpus = (0L until 500L).map(i => (i, fp()))
    val idx = freshIndex()
    idx.bootstrap(fps(corpus.map { case (i, (h, l)) => (i, h, l) }: _*))
    // 8 corpus near-dups, 8 intra-batch pairs, 24 fresh fingerprints
    val planted = corpus.take(8).map { case (_, f) => near(f, 5L) }
    val paired = Seq.fill(8)(fp()).flatMap(f => Seq(f, near(f, 1L)))
    val fresh = Seq.fill(24)(fp())
    val batch = fps((planted ++ paired ++ fresh).zipWithIndex
      .map { case ((h, l), i) => (1000L + i, h, l) }: _*)
    var d: DataFrame = null
    val jobs = jobsDuring { d = idx.dedupBatch(batch) }
    assert(jobs <= 3, s"dedupBatch ran $jobs Spark jobs")
    var got = Map.empty[Long, String]
    assert(jobsDuring { got = decisionMap(d) } === 0)
    assert(got.size === 48)
    assert((1000L until 1008L).forall(got(_) == "dup_corpus"))
    assert((0 until 8).forall(k => got(1008L + 2 * k) == "kept" &&
      got(1009L + 2 * k) == "dup_batch"))
  }

  test("bootstrap and admit of the 48-row shape run 3 and 4 Spark jobs") {
    val rnd = new scala.util.Random(48)
    def fp(): (Long, Long) = (rnd.nextLong() >>> 32, rnd.nextLong() >>> 32)
    val corpus = fps((0L until 500L).map { i => val (h, l) = fp(); (i, h, l) }: _*)
    val batch = fps((1000L until 1048L).map { i => val (h, l) = fp(); (i, h, l) }: _*)
    val idx = freshIndex()
    assert(jobsDuring(idx.bootstrap(corpus)) === 3)
    val d = idx.dedupBatch(batch)
    assert(jobsDuring(idx.admit(batch, d)) === 4)
  }

  test("admit grows the index: batch 2 dups against batch 1's kept; " +
    "batch-1 dups are NOT anchors") {
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2)))
    val b1 = fps((10L, B._1, B._2), (11L, near(B, 1L)._1, near(B, 1L)._2))
    val d1 = idx.dedupBatch(b1)
    assert(decisionMap(d1) === Map(10L -> "kept", 11L -> "dup_batch"))
    idx.admit(b1, d1)
    // near the admitted 10 -> dup_corpus; 8 bits from everything -> kept
    // (dropped fingerprints like 11 were never admitted)
    val d2 = decisionMap(idx.dedupBatch(fps(
      (20L, near(B, 2L)._1, near(B, 2L)._2),
      (21L, B._1 ^ 0xF0F0L, B._2))))
    assert(d2(20L) === "dup_corpus")
    assert(d2(21L) === "kept", "8 bits from every anchor must be kept")
  }

  test("batch components span transitively through a shared neighbor " +
    "and keep exactly the min id") {
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2)))
    val p = near(B, 0L) // far from the A anchor: not a corpus dup
    val q = near(B, 7L) // flips {0,1,2}: d(p)=3 -> pair with p
    val r = near(B, 0x46L) // flips {1,2,6}: d(p)=3 -> pair with p
    val d = decisionMap(idx.dedupBatch(fps(
      (30L, p._1, p._2), (31L, q._1, q._2), (32L, r._1, r._2))))
    // p connects q and r -> one component, min 30 kept
    assert(d === Map(30L -> "kept", 31L -> "dup_batch", 32L -> "dup_batch"))
  }

  test("streaming sink: decisions accumulate, replay no-ops on both " +
    "tables, maintenance cadence packs the tail") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2)))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("fpi_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec,
      maintainEvery = 2)
    sink(fps((10L, B._1, B._2)), 0L) // kept + admitted
    sink(fps((20L, near(B, 1L)._1, near(B, 1L)._2)), 1L) // dup of 10
    sink(fps((30L, 0x00FF00FFL, 0x0L)), 2L) // kept; cadence hit
    val rows = dec.snapshot().select("doc_id", "status", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((10L, "kept", 0L), (20L, "dup_corpus", 1L),
      (30L, "kept", 2L)))
    // replay batch 1: decisions AND the index unchanged
    val decV = dec.latestVersion.get
    val idxV = idx.fpTable.latestVersion.get
    sink(fps((20L, near(B, 1L)._1, near(B, 1L)._2)), 1L)
    assert(dec.latestVersion.get === decV)
    assert(idx.fpTable.latestVersion.get === idxV)
    // cadence: the index's newest ops include a bin-packing, each
    // fingerprint indexed exactly once, dedup still works after
    val ops = (0L to idx.fpTable.latestVersion.get)
      .map(idx.fpTable.operationAt)
    assert(ops.exists(_.startsWith("compact-small")), ops.toString)
    val dupRows = idx.fpTable.snapshot()
      .groupBy("doc_id", "band").count().filter(col("count") > 1).count()
    assert(dupRows === 0L)
    assert(decisionMap(idx.dedupBatch(
      fps((99L, near(B, 2L)._1, near(B, 2L)._2))))(99L) === "dup_corpus")
  }

  test("sink crash between the decisions commit and the admit: replay " +
    "admits exactly the FROZEN kept set (a chain component cannot " +
    "re-split into a different kept set)") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2)))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("fpi_dec_").toString + "/d")
    // chain component: q and r are both within 3 of p but 6 apart —
    // the round-13-review scenario where the OLD admit-first order
    // could re-split the component on replay
    val p = near(B, 0L); val q = near(B, 7L); val r = near(B, 0x38L)
    val batch = fps((30L, p._1, p._2), (31L, q._1, q._2), (32L, r._1, r._2))
    // simulate: decisions committed, crash before the admit
    val d = idx.dedupBatch(batch).localCheckpoint()
    assert(decisionMap(d) ===
      Map(30L -> "kept", 31L -> "dup_batch", 32L -> "dup_batch"))
    val rows = d.withColumn("batch", lit(5L))
    dec.commitFiles(dec.stage(rows), Set.empty, "stream_fp_dedup[batch=5]",
      schema = Some(rows.schema))
    val idxVBefore = idx.fpTable.latestVersion.get
    // the replayed micro-batch: skips the dedup (decisions watermark),
    // admits from the STORED rows
    graft.streaming.Streams.dedupSink(idx, dec)(batch, 5L)
    assert(idx.fpTable.latestVersion.get > idxVBefore, "admit must land")
    val indexed = idx.fpTable.snapshot().select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(indexed === Set(1L, 30L),
      "exactly the frozen kept set joins the index — not a re-split one")
    // decisions unchanged, and a second full replay no-ops everywhere
    val decV = dec.latestVersion.get
    graft.streaming.Streams.dedupSink(idx, dec)(batch, 5L)
    assert(dec.latestVersion.get === decV)
    assert(idx.fpTable.snapshot().select("doc_id").distinct().count() === 2L)
  }

  test("maxBucketSize: a degenerate all-identical batch completes " +
    "under the cap — its quadratic bucket skips blocking (recall " +
    "trade: decisions fall through to kept) while uncapped the same " +
    "batch collapses to one component") {
    val base = Files.createTempDirectory("fpi_").toString
    val batch = fps((0L until 40L).map(i => (i, 0x5a5a5a5aL, 0x0ff00ff0L)): _*)
    val capped = new FingerprintDedupIndex(spark, s"$base/capped", "doc_id",
      maxHamming = 3, bandBits = 16, maxBucketSize = 10)
    capped.bootstrap(fps((1000L, B._1, B._2)))
    val dc = decisionMap(capped.dedupBatch(batch))
    assert(dc.size === 40 && dc.values.forall(_ == "kept"),
      "over-cap bucket members skip blocking and are kept — the " +
        "documented recall trade, not a hang")
    val uncapped = new FingerprintDedupIndex(spark, s"$base/uncapped",
      "doc_id", maxHamming = 3, bandBits = 16)
    uncapped.bootstrap(fps((1000L, B._1, B._2)))
    val du = decisionMap(uncapped.dedupBatch(batch))
    assert(du(0L) === "kept" &&
      (1L until 40L).forall(i => du(i) === "dup_batch"))
  }

  test("knnAgainstIndex: answers equal the in-memory banded k-NN " +
    "(and thus brute force), self-matches excluded, and the probe's " +
    "band values STATS-PRUNE the scan to the colliding files") {
    val base = Files.createTempDirectory("fpi_").toString + "/idx"
    val idx = new FingerprintDedupIndex(spark, base, "doc_id",
      maxHamming = 3, bandBits = 16)
    // batch 1: all 16-bit band slices SMALL; batch 2: all slices HIGH
    // — two appends whose files carry disjoint bv ranges, so a
    // low-band probe must prune batch 2's files away
    val low = fps((0L until 8L).map(i =>
      (i, 0x00010002L + (i << 32), 0x00030004L ^ i)): _*)
    val high = fps((100L until 108L).map(i =>
      (i, 0x80018002L + ((i - 100) << 33), 0x80038004L ^ (i - 100))): _*)
    idx.bootstrap(low)
    // admit the whole second batch (some of its members are mutual
    // near-dups; retrieval must see every indexed fingerprint)
    idx.admit(high, high.select(col("doc_id")).withColumn("kept", lit(1L)))
    // retrieval equivalence against the in-memory operator over the
    // same corpus (corpus = index contents)
    val corpus = low.unionByName(high)
    val probes = fps((0L, 0x00010002L, 0x00030004L ^ 2L),
      (105L, 0x80018002L + (5L << 33), 0x80038004L ^ 5L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaIndex = rows(idx.knnAgainstIndex(probes, k = 5, radius = 3))
    val inMemory = rows(graft.multimodal.HammingKnn
      .knnWithinRadius(corpus, probes, "doc_id", k = 5, radius = 3))
    assert(viaIndex === inMemory)
    assert(!viaIndex.exists(t => t._1 == t._2), "self-matches excluded")
    assert(viaIndex.exists(_._1 == 0L) && viaIndex.exists(_._1 == 105L))
    // the pruning claim, asserted at the file level like the lake specs
    val t = idx.fpTable
    val all = t.files(t.latestVersion.get).toSeq
    val lowBvs = Seq(1L, 2L, 3L, 4L)
    val kept = t.prunedFiles(all, Seq(col("bv").isInCollection(lowBvs)))
    assert(kept.size < all.size,
      s"low-bv probe kept ${kept.size} of ${all.size} files — the " +
        "write-ordered index must stats-prune the high-bv appends")
  }

  test("TAKEDOWN: remove() retracts a fingerprint merge-on-read; its " +
    "near-dups stop being rejected; un-bootstrapped/empty refusals") {
    val idx = freshIndex()
    idx.bootstrap(fps((1L, A._1, A._2), (2L, B._1, B._2)))
    val probe = fps((10L, near(A, 1L)._1, near(A, 1L)._2))
    assert(decisionMap(idx.dedupBatch(probe))(10L) === "dup_corpus")
    idx.remove(Seq(1L))
    assert(idx.fpTable.snapshot().filter(col("doc_id") === 1L).count() === 0L)
    assert(decisionMap(idx.dedupBatch(probe))(10L) === "kept",
      "removed fingerprints must not stay ghost anchors")
    idx.remove(Seq(1L)) // idempotent
    intercept[IllegalArgumentException](idx.remove(Seq.empty))
    val cold = freshIndex()
    intercept[IllegalArgumentException](cold.dedupBatch(probe))
    intercept[IllegalArgumentException](cold.remove(Seq(1L)))
  }
}
