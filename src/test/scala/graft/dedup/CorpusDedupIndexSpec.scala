package graft.dedup

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Incremental near-dup detection against a persisted corpus index
  * ([[CorpusDedupIndex]]): decisions, index growth across batches,
  * degenerate docs, and the file-pruning contract that makes a batch
  * dedup O(batch + touched files) instead of O(corpus).
  */
class CorpusDedupIndexSpec extends AnyFunSuite with SparkSpec {

  // 3-gram shingles; Jaccard >= 3/10 — the dedup_incremental settings
  private def freshIndex(): CorpusDedupIndex = {
    val base = Files.createTempDirectory("cdi_").toString + "/idx"
    new CorpusDedupIndex(spark, base, "doc_id", "text",
      n = 3, k = 8, bands = 4, num = 3, den = 10)
  }

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val baseText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val nearCopy = // shares 16 of ~20 shingles: Jaccard >> 0.3
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma countdown finale"
  private val otherText =
    "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"
  private val otherNear =
    "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen altered ending"

  private def decisionMap(d: DataFrame): Map[Long, String] =
    d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("TAKEDOWN: remove() retracts a doc from all three index tables; " +
    "its near-dups stop being rejected; re-removal no-ops") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText, 2L -> otherText))

    // before: a near-copy of doc 1 is rejected against the index
    val batch = docs(10L -> nearCopy)
    assert(decisionMap(idx.dedupBatch(batch))(10L) === "dup_corpus")

    idx.remove(Seq(1L))
    // bands retract merge-on-read (no file rewrite — a doc's band rows
    // span every band); shingles/sizes by pruned copy-on-write
    assert(idx.bandsTable.snapshot().filter(col("doc_id") === 1L).count() === 0L)
    assert(idx.shinglesTable.snapshot().filter(col("doc_id") === 1L).count() === 0L)
    assert(idx.sizesTable.snapshot().filter(col("doc_id") === 1L).count() === 0L)
    // the untouched doc survives
    assert(idx.sizesTable.snapshot().filter(col("doc_id") === 2L).count() === 1L)

    // after: no ghost anchor — the same batch is now admitted
    val d2 = decisionMap(idx.dedupBatch(batch))
    assert(d2(10L) === "kept")
    idx.admit(batch, idx.dedupBatch(batch))
    // and the admitted doc anchors FUTURE dedup (index stays live)
    assert(decisionMap(idx.dedupBatch(docs(20L -> nearCopy)))(20L) ===
      "dup_corpus")

    // idempotent: removing an already-removed (or never-present) id
    idx.remove(Seq(1L))
    idx.remove(Seq(999L))
    assert(decisionMap(idx.dedupBatch(docs(21L -> otherNear)))(21L) ===
      "dup_corpus") // doc 2 still anchors
  }

  test("batch decisions: dup_corpus, dup_batch (min kept), unique kept") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val batch = docs(
      10L -> nearCopy, // near-dup of corpus doc 1 -> dup_corpus
      11L -> otherText, // new cluster, min id -> kept
      12L -> otherNear, // near-dup of 11 -> dup_batch
      13L -> "completely unrelated words about astronomy telescopes quasars nebulae galaxies clusters")
    val d = decisionMap(idx.dedupBatch(batch))
    assert(d(10L) === "dup_corpus")
    assert(d(11L) === "kept")
    assert(d(12L) === "dup_batch")
    assert(d(13L) === "kept")
  }

  test("admit grows the corpus: batch 2 dups against batch 1's kept docs") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val b1 = docs(10L -> otherText)
    val d1 = idx.dedupBatch(b1)
    assert(decisionMap(d1) === Map(10L -> "kept"))
    idx.admit(b1, d1)
    // near-copy of the ADMITTED doc is now a corpus duplicate
    val d2 = decisionMap(idx.dedupBatch(docs(20L -> otherNear)))
    assert(d2(20L) === "dup_corpus")
  }

  test("a corpus duplicate never bridges two intra-batch components") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    // 10 dups the corpus; 11 near-dups 10 but NOT the corpus doc:
    // with 10 removed as dup_corpus, 11 must stand alone -> kept
    val midCopy = // overlaps nearCopy's tail but not baseText enough
      "lambda mu nu xi omicron pi rho sigma countdown finale " +
        "fresh words continue here with entirely novel trailing content now"
    val d = decisionMap(idx.dedupBatch(docs(10L -> nearCopy, 11L -> midCopy)))
    assert(d(10L) === "dup_corpus")
    assert(d(11L) === "kept")
  }

  test("docs with fewer than n tokens are kept (no shingles, no pairs)") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val d = decisionMap(idx.dedupBatch(docs(10L -> "two words", 11L -> "")))
    assert(d === Map(10L -> "kept", 11L -> "kept"))
  }

  test("id-clustered index files prune: a candidate-id scan skips files") {
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText, 2L -> otherText))
    // each admitted batch appends its own files with disjoint id ranges
    // (write order by doc_id), so the shingle verify for a candidate in
    // ONE batch must not read the others' files
    (1 to 3).foreach { i =>
      val b = docs((100L * i) -> (s"batch $i filler ${"unique" * i} " +
        s"words number $i alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i"))
      idx.admit(b, idx.dedupBatch(b))
    }
    val all = idx.shinglesTable.files(idx.shinglesTable.latestVersion.get)
    assert(all.size >= 4) // bootstrap + 3 admits
    val pruned = idx.shinglesTable.prunedFiles(all,
      Seq(col("doc_id").isInCollection(Seq(100L))))
    assert(pruned.size < all.size,
      s"expected stats pruning to drop files: kept ${pruned.size} of ${all.size}")
  }

  test("streaming sink: decisions accumulate, replay is a no-op") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val decDir = Files.createTempDirectory("cdi_dec_").toString + "/d"
    val dec = new IncrementalTable(spark, decDir)
    val sink = graft.streaming.Streams.dedupSink(idx, dec)

    sink(docs(10L -> otherText), 0L) // kept + admitted
    sink(docs(20L -> otherNear), 1L) // dup of the admitted 10
    val rows = dec.snapshot().select("doc_id", "status", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows === Set((10L, "kept", 0L), (20L, "dup_corpus", 1L)))

    // replay batch 1: decisions and EVERY index table unchanged
    val decV = dec.latestVersion.get
    val idxVs = Seq(idx.bandsTable, idx.sizesTable, idx.shinglesTable)
      .map(_.latestVersion.get)
    sink(docs(20L -> otherNear), 1L)
    assert(dec.latestVersion.get === decV)
    assert(Seq(idx.bandsTable, idx.sizesTable, idx.shinglesTable)
      .map(_.latestVersion.get) === idxVs)
  }

  test("sink maintenance cadence packs the index tail; dedup unchanged") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("cdi_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec,
      maintainEvery = 2)
    val texts = Seq(otherText,
      "totally different words about sailing boats harbors anchors tides winds currents maps",
      "yet another vocabulary entirely mountains valleys rivers glaciers meadows forests trails peaks")
    texts.zipWithIndex.foreach { case (t, i) =>
      sink(docs((10L + i) -> t), i.toLong)
    }
    // batch 2 hit the cadence: the shingle table's last commit is the
    // bin-packing, and every doc is still indexed exactly once
    val shOps = (0L to idx.shinglesTable.latestVersion.get)
      .map(idx.shinglesTable.operationAt)
    assert(shOps.exists(_.startsWith("compact-small")), shOps.toString)
    val dupSh = idx.shinglesTable.snapshot()
      .groupBy("doc_id", "h").count().filter(col("count") > 1).count()
    assert(dupSh === 0L)
    // the decisions table compaction is datachange=false: its CDF
    // still replays all three batches
    assert(dec.changes(-1L, dec.latestVersion.get)
      .select("doc_id").distinct().count() === 3L)
    // and a dedup against the compacted index still works
    val d = idx.dedupBatch(docs(99L -> otherNear))
    assert(d.collect().map(r => r.getString(1)).toSeq === Seq("dup_corpus"))
  }

  test("mid-bootstrap crash converges on re-run: no duplicate index " +
    "rows, config-only bands table is not 'exists'") {
    val idx = freshIndex()
    // simulate a crash after the verify-side tables landed but before
    // the bands data (worst window: the old append-based bootstrap
    // would duplicate shingles/sizes on re-run, inflating Jaccard
    // intersections)
    val corpus = docs(1L -> baseText, 2L -> otherText)
    val sh = Shingles.shingleHashes(corpus, "doc_id", "text", 3)
    idx.shinglesTable.setWriteOrder("doc_id")
    idx.shinglesTable.writeSnapshot(sh)
    idx.bandsTable.setWriteOrder("band_no", "bucket") // config, no data
    assert(!idx.exists, "a config-only bands table must not count as " +
      "bootstrapped (empty candidate side = silent zero recall)")
    idx.bootstrap(corpus) // resume: snapshot writes replace, not append
    assert(idx.exists)
    val dupSh = idx.shinglesTable.snapshot()
      .groupBy("doc_id", "h").count().filter(col("count") > 1).count()
    assert(dupSh === 0L, "re-run bootstrap duplicated shingle rows")
    assert(decisionMap(idx.dedupBatch(docs(10L -> nearCopy)))(10L)
      === "dup_corpus")
  }

  test("replay after full admit but before the decisions commit") {
    import graft.lake.IncrementalTable
    val idx = freshIndex()
    idx.bootstrap(docs(1L -> baseText))
    val dec = new IncrementalTable(spark,
      Files.createTempDirectory("cdi_dec_").toString + "/d")
    val sink = graft.streaming.Streams.dedupSink(idx, dec)
    val b = docs(10L -> otherText, 11L -> otherNear)

    // crash window: the admit landed, the decisions commit did not
    val d0 = idx.dedupBatch(b)
    idx.admitIdempotent(b, d0, 7L)
    // replayed micro-batch runs the WHOLE unit again
    sink(b, 7L)

    // exactly one decisions commit; the kept set is unchanged (10 was
    // kept, 11 a duplicate — its label may shift dup_batch->dup_corpus
    // now that 10 is indexed, which the sink scaladoc licenses)
    val rows = dec.snapshot().select("doc_id", "kept").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows === Map(10L -> 1L, 11L -> 0L))
    // no index table holds duplicate rows for the twice-admitted docs
    val dupSh = idx.shinglesTable.snapshot()
      .groupBy("doc_id", "h").count().filter(col("count") > 1).count()
    assert(dupSh === 0L)
    val dupSz = idx.sizesTable.snapshot()
      .groupBy("doc_id").count().filter(col("count") > 1).count()
    assert(dupSz === 0L)
  }

  test("incremental over two batches == one-shot dedup over the union") {
    // the equivalence that justifies the index: running batches through
    // the index yields the same kept-set as a full nearDuplicates +
    // components pass over corpus ∪ b1 ∪ b2, given batch-order keeps
    // the smaller doc_id (corpus ids < batch ids here)
    val corpus = docs(1L -> baseText, 2L -> otherText)
    val b1 = docs(10L -> nearCopy) // dup of 1
    val b2 = docs(20L -> otherNear) // dup of 2
    val idx = freshIndex()
    idx.bootstrap(corpus)
    val d1 = idx.dedupBatch(b1)
    idx.admit(b1, d1)
    val d2 = idx.dedupBatch(b2)
    assert(decisionMap(d1) === Map(10L -> "dup_corpus"))
    assert(decisionMap(d2) === Map(20L -> "dup_corpus"))
    // the one-shot view agrees: 10 and 20 are exactly the non-minimum
    // members of their clusters, i.e. the docs a full dedup would drop
    val full = MinHashLSH.nearDuplicates(
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text",
      n = 3, k = 8, bands = 4, num = 3, den = 10)
    val comps = Clusters.connectedComponents(full.select("a", "b"))
    val dropped = comps.filter(col("cluster_id") =!= col("id"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dropped === Set(10L, 20L))
  }
}
