package graft.dedup

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex.{prunedScan, sampleKeys}
import graft.lake.{IncrementalTable, IncrementalView}
import graft.multimodal.ImageDedup

/** Persistent Hamming-fingerprint index for INCREMENTAL media
  * near-duplicate detection — [[CorpusDedupIndex]]'s daily-ingest
  * shape for 64-bit perceptual fingerprints (image dHash, audio
  * energy hash, video frame hashes): re-running the banded self-join
  * over corpus ∪ batch would re-explode and re-shuffle the whole
  * corpus for every arriving slice; the index holds the corpus side
  * once.
  *
  * ONE manifest-committed [[IncrementalTable]] suffices (the text
  * index needs three): a band row `(band, bv, id, h_hi, h_lo)` carries
  * the FULL fingerprint, so candidate verification is an inline XOR
  * popcount on the joined row — no separate verify-side table, and
  * therefore no multi-table commit-ordering protocol. Rows are
  * write-ordered by (band, bv), and a small batch's scan filters on its
  * band-value set; each file spans whole bands, so every file's `bv`
  * range covers the 16-bit domain and that filter keeps every file in
  * practice (pruning on the (band, bv) pair is open work).
  *
  * [[dedupBatch]] touches O(batch) + the index scan: the batch's band
  * rows broadcast against the scan (the big side streams, never
  * shuffles), exact Hamming re-check inline; `dup_corpus` means within
  * `maxHamming` of an indexed fingerprint (the [[DedupIndex]] protocol
  * otherwise). A batch within `graft.cc.localEdgeThreshold`
  * ([[Clusters]]) is decided on the driver around that one scan; a
  * larger one, or one whose id type has no driver ordering, takes the
  * distributed plan. Both give the same decisions.
  *
  * Deterministic integer arithmetic end to end, so a plain-SQL oracle
  * replays the whole multi-batch arc bit-for-bit (the
  * `media_dedup_incremental` gate).
  */
class FingerprintDedupIndex(
    spark: SparkSession, val base: String, val idCol: String,
    maxHamming: Int, bandBits: Int = 16,
    maxBucketSize: Int = Int.MaxValue) extends FingerprintIndexLike {

  ImageDedup.requireExactPigeonhole(maxHamming, bandBits)
  require(maxBucketSize >= 1, s"maxBucketSize=$maxBucketSize must be >= 1")

  val fpTable = new IncrementalTable(spark, s"$base/fps")
  protected def admitTag: String = "fp_admit"

  protected def bandRows(hashes: DataFrame): DataFrame =
    ImageDedup.bandExploded(
      hashes.select(col(idCol), col("h_hi"), col("h_lo")), bandBits)
      .select(col("band"), col("bv"), col(idCol), col("h_hi"), col("h_lo"))

  /** The batch band rows `(band, bv, new_id, nhi, nlo)` within
    * `maxHamming` of an indexed fingerprint other than themselves, as
    * distinct `new_id`s (the replayed-batch self-match guard included).
    */
  private def corpusDups(bvs: Seq[Any], newBands: DataFrame): DataFrame =
    prunedScan(fpTable, "bv", bvs)
      .select(col("band"), col("bv"), col(idCol).as("corpus_id"),
        col("h_hi").as("chi"), col("h_lo").as("clo"))
      .join(broadcast(newBands), Seq("band", "bv"))
      .filter(col("corpus_id") =!= col("new_id"))
      .filter((bit_count(col("chi").bitwiseXOR(col("nhi"))) +
        bit_count(col("clo").bitwiseXOR(col("nlo")))) <= maxHamming)
      .select("new_id").distinct()

  /** Decisions for a batch of fingerprints `(idCol, h_hi, h_lo)`, one
    * row per batch row; a NULL id or a fingerprint with a NULL half
    * matches nothing and is `kept`.
    *
    * The returned frame is materialized either way. A batch whose band
    * rows and candidate pairs both fit `graft.cc.localEdgeThreshold`
    * (and whose id type [[graft.functions.ValueOrdering]] covers) is
    * collected once and decided on the driver: the index scan is its
    * only Spark action and the decisions come back as a LocalRelation,
    * so collecting them runs no job. Anything else takes the
    * distributed plan (banded self-join, [[Clusters.connectedComponents]],
    * `localCheckpoint`); `graft.cc.localEdgeThreshold=0` forces it.
    */
  def dedupBatch(hashes: DataFrame): DataFrame = {
    requireBootstrapped()
    val batch = hashes.select(col(idCol), col("h_hi"), col("h_lo"))
    localDecisions(batch).getOrElse(distributedDecisions(batch))
  }

  /** [[dedupBatch]] on the driver, or None when the batch is over the
    * budget or its id type has no driver ordering. Reproduces the
    * distributed plan step for step: the same band values, the same
    * hot-bucket cap, the same corpus join, and pairs verified by the
    * same popcount before [[Clusters.localComponents]] labels them.
    */
  private def localDecisions(batch: DataFrame): Option[DataFrame] = {
    val spark = batch.sparkSession
    val budget = Clusters.localEdgeThreshold(spark)
    val idField = batch.schema.head
    val nBands = 64 / bandBits
    val ordering = graft.functions.ValueOrdering.forType(idField.dataType)
    if (budget == 0 || ordering.isEmpty ||
        batch.schema.tail.exists(_.dataType != LongType)) return None
    val rows = batch.take(budget / nBands + 1)
    if (rows.length.toLong * nBands > budget) return None
    // band values as ImageDedup.bandExploded derives them (a NULL half
    // has none), bucketed by (band, bv) over row indices
    val perHalf = 32 / bandBits
    val mask = (1L << bandBits) - 1
    val buckets = mutable.LinkedHashMap.empty[(Int, Long), mutable.ArrayBuffer[Int]]
    for (i <- rows.indices; k <- 0 until nBands) {
      val half = if (k < perHalf) 2 else 1
      if (!rows(i).isNullAt(half)) {
        val bv = (rows(i).getLong(half) >> (bandBits * (k % perHalf))) & mask
        buckets.getOrElseUpdate((k, bv), mutable.ArrayBuffer.empty[Int]) += i
      }
    }
    // the hot-bucket cap drops whole buckets (ImageDedup.capBuckets)
    val blocked = buckets.filter(_._2.size <= maxBucketSize)
    val pairs = blocked.valuesIterator.map(b => b.size.toLong * (b.size - 1) / 2).sum
    if (pairs > budget) return None
    // only rows with an id and both halves can match anything
    def live(i: Int): Boolean = !rows(i).anyNull
    val probeRows = for (((band, bv), members) <- blocked.toSeq;
        i <- members if live(i))
      yield Row(band, bv, rows(i).get(0), rows(i).getLong(1), rows(i).getLong(2))
    val dupCorpus: Set[Any] =
      if (probeRows.isEmpty) Set.empty
      else {
        val newBands = spark.createDataFrame(
          java.util.Arrays.asList(probeRows: _*), StructType(Seq(
            StructField("band", IntegerType, nullable = false),
            StructField("bv", LongType, nullable = false),
            idField.copy(name = "new_id"),
            StructField("nhi", LongType), StructField("nlo", LongType))))
        val bvs = probeRows.map(_.getLong(1)).distinct
          .take(IncrementalView.MaxKeysInPredicate + 1)
        corpusDups(bvs, newBands).collect().map(_.get(0)).toSet
      }
    // intra-batch pairs whose BOTH endpoints survived the corpus check
    // (a corpus-dup must not bridge two components), each verified by
    // the exact popcount; a pair of equal ids (which the distributed
    // self-join drops) only labels that id with itself
    def hamming(a: Row, b: Row): Int =
      java.lang.Long.bitCount(a.getLong(1) ^ b.getLong(1)) +
        java.lang.Long.bitCount(a.getLong(2) ^ b.getLong(2))
    val edges = blocked.valuesIterator.flatMap { members =>
      val ms = members.filter(live).map(rows(_))
        .filterNot(r => dupCorpus(r.get(0)))
      for (x <- ms.indices.iterator; y <- (x + 1 until ms.size).iterator
           if hamming(ms(x), ms(y)) <= maxHamming)
        yield (ms(x).get(0), ms(y).get(0))
    }
    val label = Clusters.localComponents(edges, ordering.get).toMap
    val decided = rows.toSeq.map { r =>
      val id = r.get(0)
      val status =
        if (dupCorpus(id)) "dup_corpus"
        else if (label.get(id).exists(_ != id)) "dup_batch"
        else "kept"
      Row(id, status, if (status == "kept") 1L else 0L)
    }
    Some(spark.createDataFrame(java.util.Arrays.asList(decided: _*),
      StructType(Seq(idField,
        StructField("status", StringType, nullable = false),
        StructField("kept", LongType, nullable = false)))))
  }

  /** [[dedupBatch]] as Spark jobs, for batches over the driver budget. */
  private def distributedDecisions(hashes: DataFrame): DataFrame = {
    val batch = hashes.persist(StorageLevel.MEMORY_AND_DISK)
    // the optional hot-bucket cap ([[ImageDedup.capBuckets]], off by
    // default) bounds the cross join too: a degenerate batch (all-black
    // frames) otherwise multiplies its hottest (band, bv) bucket
    // against the index's matching slice. Over-cap batch rows skip
    // blocking on that band — the documented recall trade; decisions
    // for them fall through to `kept`.
    val newBands = ImageDedup.capBuckets(bandRows(batch), maxBucketSize,
      "band", "bv")
    val crossDup = corpusDups(
      sampleKeys(newBands.select("bv").filter(col("bv").isNotNull)),
      newBands.select(col("band"), col("bv"), col(idCol).as("new_id"),
        col("h_hi").as("nhi"), col("h_lo").as("nlo")))
    val intraPairs = ImageDedup
      .nearDupPairs(batch, idCol, maxHamming, bandBits, maxBucketSize)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    decide(batch.select(col(idCol)), crossDup, intraPairs, batch)
  }

  /** Radius-bounded k-NN retrieval AGAINST THE PERSISTED INDEX — the
    * retrieval half of the multi-index layout [[dedupBatch]] makes
    * dedup decisions with (the media analog of `ann_ivf_index_topk`):
    * [[graft.multimodal.HammingKnn]] re-band-explodes its corpus in
    * memory per run, but the index already stores exactly the
    * (band, bv)-ordered postings, so probes broadcast against the
    * stats-PRUNED scan (the big side streams through the join; a
    * small probe set's band values prune the scan to the files they
    * can collide with), the exact popcount re-checks inline, and the
    * shared bounded top-k finishes. Self-matches (a probe that is
    * itself indexed) are excluded, like the in-memory operator.
    * `radius < 64/bandBits` keeps the candidate union pigeonhole-exact,
    * so results equal a brute-force scan's.
    */
  def knnAgainstIndex(probes: DataFrame, k: Int, radius: Int): DataFrame = {
    requireBootstrapped()
    ImageDedup.requireExactPigeonhole(radius, bandBits)
    require(k >= 1, s"k=$k must be >= 1")
    val pBandsDf = bandRows(
      probes.select(col(idCol), col("h_hi"), col("h_lo")))
      .select(col("band"), col("bv"), col(idCol).as("probe_id"),
        col("h_hi").as("qhi"), col("h_lo").as("qlo"))
    // ONE action lands the probe band rows on the driver: the frame
    // was already broadcast-bound (the pruned-scan join broadcasts
    // it, which collects to the driver anyway), so this collect folds
    // the old distinct-bv collect job into the broadcast's own cost
    // and the rebuilt LocalRelation broadcasts without a job (the
    // IvfIndex.topK fusion).
    val pRows = pBandsDf.collect()
    val bvs = pRows.iterator.map(_.getLong(1)).toSet
      .take(IncrementalView.MaxKeysInPredicate + 1).toSeq
    val pBands = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(pRows: _*), pBandsDf.schema)
    val scored = prunedScan(fpTable, "bv", bvs)
      .join(broadcast(pBands), Seq("band", "bv"))
      .filter(col(idCol) =!= col("probe_id"))
      .select(col("probe_id"), col(idCol).as("nn_id"),
        col("qhi"), col("qlo"), col("h_hi"), col("h_lo"))
      .distinct() // fingerprints sharing several bands are one candidate
      .withColumn("hamming",
        (bit_count(col("qhi").bitwiseXOR(col("h_hi"))) +
          bit_count(col("qlo").bitwiseXOR(col("h_lo")))).cast("long"))
      .filter(col("hamming") <= radius)
    graft.multimodal.HammingKnn.topKFinish(scored, k)
  }
}
