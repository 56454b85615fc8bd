package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[SignatureDedupIndex]]: incremental alignment-free dedup against
  * persisted UNIT signatures — the symmetric overlap gate at the
  * index boundary, growth through admits, the shared streaming
  * protocol, takedown. Clips are crafted bags of 64-bit unit
  * signatures; unit positions are deliberately SHIFTED between
  * matching clips (the trim case the index exists for).
  */
class SignatureDedupIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def freshIndex(): SignatureDedupIndex = {
    val base = Files.createTempDirectory("sigidx_").toString + "/idx"
    new SignatureDedupIndex(spark, base, "doc_id", "u",
      maxHamming = 3, minMatched = 2, bandBits = 16)
  }

  /** Well-spread unit signature for seed `s`. */
  private def sig(s: Long): (Long, Long) =
    ((s * 0x9E3779B97F4A7C15L) & 0xFFFFFFFFL,
      (s * 0xBF58476D1CE4E5B9L) & 0xFFFFFFFFL)

  private def clip(id: Long, seeds: Seq[Long], at: Long = 1L): DataFrame =
    seeds.zipWithIndex.map { case (s, i) =>
      val (hi, lo) = sig(s); (id, at + i, hi, lo)
    }.toDF("doc_id", "u", "h_hi", "h_lo")

  private def decisionMap(d: DataFrame): Map[Long, String] =
    d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("decisions: a batch clip sharing >= 2 units with an indexed " +
    "clip is dup_corpus REGARDLESS of unit positions; one shared unit " +
    "is not enough; intra-batch overlap closes into components") {
    val idx = freshIndex()
    idx.bootstrap(clip(1L, Seq(101, 102, 103))) // corpus anchor
    val d = decisionMap(idx.dedupBatch(
      // 10: units 102, 103 at SHIFTED positions (trimmed copy) -> dup
      clip(10L, Seq(102, 103), at = 7L)
        // 11: only one shared unit -> NOT a dup of the corpus
        .unionByName(clip(11L, Seq(103, 201, 202)))
        // 12: shares 2 units with 11 (shifted) -> intra pair, min 11 kept
        .unionByName(clip(12L, Seq(201, 202), at = 5L))
        // 13: disjoint units -> kept
        .unionByName(clip(13L, Seq(301, 302)))))
    assert(d === Map(10L -> "dup_corpus", 11L -> "kept",
      12L -> "dup_batch", 13L -> "kept"))
  }

  test("multiplicity cannot fake the gate at the index boundary: " +
    "three copies of ONE indexed unit stay kept") {
    val idx = freshIndex()
    idx.bootstrap(clip(1L, Seq(101, 102, 103)))
    val d = decisionMap(idx.dedupBatch(
      clip(20L, Seq(101, 101, 101)))) // one DISTINCT corpus unit
    assert(d === Map(20L -> "kept"))
  }

  test("admit grows the index; idempotent admit replays as a no-op; " +
    "streaming sink rides the shared protocol; takedown retracts") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(clip(1L, Seq(101, 102, 103)))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("sigidx_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec)
    sink(clip(10L, Seq(401, 402, 403)), 0L) // kept + admitted
    sink(clip(20L, Seq(402, 403), at = 9L), 1L) // trimmed copy of 10
    val rows = dec.snapshot().select("doc_id", "status", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((10L, "kept", 0L), (20L, "dup_corpus", 1L)))
    val (decV, idxV) = (dec.latestVersion.get, idx.fpTable.latestVersion.get)
    sink(clip(20L, Seq(402, 403), at = 9L), 1L) // replay no-ops
    assert(dec.latestVersion.get === decV)
    assert(idx.fpTable.latestVersion.get === idxV)
    // takedown: clip 10's units stop anchoring
    idx.remove(Seq(10L))
    val d = decisionMap(idx.dedupBatch(clip(30L, Seq(402, 403))))
    assert(d === Map(30L -> "kept"))
  }

  test("clip atomicity is ENFORCED at the sink: a clip whose units " +
    "straddle two micro-batches fails loudly before any decision " +
    "lands; per-row indexes are exempt") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(clip(1L, Seq(101, 102, 103)))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("sigidx_atom_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec)
    // batch 0: clip 40's FIRST fragment (2 of its 4 units) — decided
    sink(clip(40L, Seq(501, 502)), 0L)
    val decV = dec.latestVersion.get
    val idxV = idx.fpTable.latestVersion.get
    // batch 1: the straddled remainder — must refuse, naming the clip,
    // with NOTHING committed (no fragment-by-fragment decisions)
    val e = intercept[IllegalArgumentException](
      sink(clip(40L, Seq(503, 504), at = 3L), 1L))
    assert(e.getMessage.contains("40") &&
      e.getMessage.contains("clip-atomicity"), e.getMessage)
    assert(dec.latestVersion.get === decV, "no decision row may land")
    assert(idx.fpTable.latestVersion.get === idxV, "no admit may land")
    // a replayed batch 0 (same ids, same batch id) stays a no-op, not
    // a false atomicity violation
    sink(clip(40L, Seq(501, 502)), 0L)
    assert(dec.latestVersion.get === decV)
    // fresh clip ids keep flowing
    sink(clip(41L, Seq(601, 602)), 2L)
    assert(dec.snapshot().filter(col("doc_id") === 41L).count() === 1L)
  }

  test("capped batch buckets: a clip in a hot bucket still reaches " +
    "dup_corpus through its UNSKEWED bands; a fully-capped unit is the " +
    "documented recall trade but its clip still gets a decision row") {
    val base = Files.createTempDirectory("sigidx_cap_").toString + "/idx"
    val idx = new SignatureDedupIndex(spark, base, "doc_id", "u",
      maxHamming = 3, minMatched = 2, bandBits = 16, maxBucketSize = 8)
    val (ahi, alo) = sig(101) // corpus unit A
    val x = (0x12345678L, 0x0BADF00DL) // the fully-flooded signature X
    idx.bootstrap(clip(1L, Seq(101, 102)) // anchor {A, B}
      .unionByName(Seq((2L, 1L, x._1, x._2)).toDF("doc_id", "u", "h_hi", "h_lo"))
      .unionByName(clip(2L, Seq(202), at = 2L))) // anchor {X, Y}
    // floods: 12 one-unit clips pinning X's ALL FOUR band buckets hot,
    // and 12 sharing only unit A's BAND-0 value (lo & 0xFFFF) — so A
    // keeps three unskewed bands while X keeps none
    val floodX = (100L until 112L).map(i => (i, 1L, x._1, x._2))
    val floodA0 = (200L until 212L).map(i =>
      (i, 1L, i * 0x9E3779B9L & 0xFFFFFFFFL, (i << 16) | (alo & 0xFFFFL)))
    val batch = clip(50L, Seq(101, 102), at = 5L) // trimmed copy of {A, B}
      .unionByName(Seq((60L, 1L, x._1, x._2)).toDF("doc_id", "u", "h_hi", "h_lo"))
      .unionByName(clip(60L, Seq(202), at = 2L)) // {X, Y} — a TRUE dup of 2
      .unionByName((floodX ++ floodA0).toDF("doc_id", "u", "h_hi", "h_lo"))
    val d = decisionMap(idx.dedupBatch(batch))
    // every batch clip gets a decision row even when bands capped away
    assert(d.size === 26, s"decision frame must key ALL batch clips: $d")
    // clip 50's unit A lost band 0 to the hot bucket; bands 1-3 still
    // carry it to the indexed A, so the pair gate sees 2 distinct units
    assert(d(50L) === "dup_corpus",
      "a hot bucket on ONE band must not mask the other three")
    // clip 60's unit X is capped in every band: only Y matches — under
    // the symmetric >= 2 gate the true dup is MISSED. This is the
    // documented maxBucketSize recall trade, pinned so it stays a
    // conscious trade rather than silent behavior.
    assert(d(60L) === "kept")
    assert((100L until 112L).forall(i => d(i) === "kept"))
    assert((200L until 212L).forall(i => d(i) === "kept"))
  }

  test("refusals: pigeonhole, minMatched, un-bootstrapped, double " +
    "bootstrap") {
    intercept[IllegalArgumentException](new SignatureDedupIndex(spark,
      Files.createTempDirectory("sigidx_").toString, "doc_id", "u",
      maxHamming = 4, minMatched = 2))
    intercept[IllegalArgumentException](new SignatureDedupIndex(spark,
      Files.createTempDirectory("sigidx_").toString, "doc_id", "u",
      maxHamming = 3, minMatched = 0))
    val idx = freshIndex()
    intercept[IllegalArgumentException](
      idx.dedupBatch(clip(1L, Seq(1, 2))))
    idx.bootstrap(clip(1L, Seq(1, 2)))
    intercept[IllegalArgumentException](idx.bootstrap(clip(2L, Seq(3, 4))))
  }
}
