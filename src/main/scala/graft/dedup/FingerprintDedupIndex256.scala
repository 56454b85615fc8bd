package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex.{prunedScan, sampleKeys}
import graft.lake.{IncrementalTable, IncrementalView}
import graft.multimodal.ImageDedup

/** [[FingerprintDedupIndex]] for 256-BIT limb fingerprints
  * ([[ImageDedup.dHash256]] — the production image configuration the
  * repo registers for high-threshold matching): the 64-bit index's
  * schema is hard-wired to `(h_hi, h_lo)`, so the limb-array path had
  * dedup and k-NN operators but no incremental serving. Here a band
  * row is `(band, bv, id, fp)` — the limb IS the band (16 rows per
  * fingerprint, 65,536-way selectivity each, pigeonhole-exact to
  * distance 15) and the row CARRIES the full 16-limb array, so exact
  * verification never re-scans the index: candidate rows posexplode
  * their carried array (16 small rows per candidate) against the
  * broadcast batch limbs and sum popcounts relationally — the
  * [[ImageDedup.nearDupPairs256]] verify shape, against a persisted
  * corpus side.
  *
  * Everything else is the 64-bit index's: the [[FingerprintIndexLike]]
  * single-table layout, the batch side broadcast against the index
  * scan, admits watermarked `fp256_admit[batch=N]`. Deterministic
  * integer arithmetic end to end — the
  * `media_dedup_incremental256` oracle replays the full multi-batch
  * arc bit-for-bit.
  *
  * PRUNING BUDGET — the limb-row multiplier bites here too: the
  * stats-pruned scan needs the batch's distinct limb values inside
  * the 256-key predicate rule, and 16 limbs per fingerprint means
  * only batches of ≤ 16 fingerprints prune; larger batches take the
  * (streaming, broadcast-joined) full scan. The 64-bit index prunes
  * to 64-fingerprint batches on the same rule. Measured in the
  * `fp256_inc` ScaleEvidence arc; for trickle ingest (takedown
  * probes, single-item lookups) the pruned path is the one that
  * matters, and it stays flat in index size.
  */
class FingerprintDedupIndex256(
    spark: SparkSession, val base: String, val idCol: String,
    maxHamming: Int, maxBucketSize: Int = Int.MaxValue)
    extends FingerprintIndexLike {

  require(maxHamming >= 0 && maxHamming < 16,
    s"maxHamming=$maxHamming: the 16-limb pigeonhole is exact only " +
      "for thresholds < 16")

  val fpTable = new IncrementalTable(spark, s"$base/fps")
  protected def admitTag: String = "fp256_admit"

  protected def bandRows(hashes: DataFrame): DataFrame =
    hashes.select(col(idCol), col("fp"))
      .select(posexplode(col("fp")).as(Seq("band", "bv")),
        col(idCol), col("fp"))

  /** Decisions for a batch of `(idCol, fp)` fingerprints — the 64-bit
    * [[FingerprintDedupIndex.dedupBatch]] contract on limbs.
    */
  def dedupBatch(hashes: DataFrame): DataFrame = {
    requireBootstrapped()
    val batch = hashes.select(col(idCol), col("fp"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val allLimbs = batch.select(col(idCol).as("new_id"),
      posexplode(col("fp")).as(Seq("band", "bv")))
    // the cap applies to CANDIDATE GENERATION only; the verify below
    // re-joins the UNCAPPED batch limbs — summing over the capped rows
    // would omit the hot bands from the distance and under-count it
    // into false dup_corpus decisions (the nearDupPairs256 contract)
    val newLimbs = ImageDedup.capBuckets(allLimbs, maxBucketSize,
      "band", "bv")
    // candidates: a shared (band, limb-value); the corpus row CARRIES
    // its full array, so the verify below needs no second index scan.
    // corpus_id =!= new_id: the replayed-batch self-match guard
    val cand = prunedScan(fpTable, "bv", sampleKeys(newLimbs.select("bv")))
      .select(col("band"), col("bv"), col(idCol).as("corpus_id"),
        col("fp").as("cfp"))
      .join(broadcast(newLimbs.select(col("band"), col("bv"),
        col("new_id"))), Seq("band", "bv"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select("corpus_id", "new_id", "cfp")
      .dropDuplicates("corpus_id", "new_id")
    // exact 256-bit distance: XOR+popcount over the PACKED words —
    // the candidate's carried array packs inline (4 codegen'd
    // expressions), the batch side broadcasts its packed words once;
    // the previous relational verify posexploded 16 rows per
    // candidate through a broadcast join + hash aggregate (guide
    // §2.3: shuffle/scan bytes per decision down, two operators gone)
    val crossDup = cand
      .join(broadcast(batch.select(
        col(idCol).as("new_id") +:
          ImageDedup.packedFp256(col("fp"), "q"): _*)), Seq("new_id"))
      .withColumn("hamming", ImageDedup.packedHamming(
        ImageDedup.packedWords256(col("cfp")),
        (0 until 4).map(j => col(s"q$j"))))
      .filter(col("hamming") <= maxHamming)
      .select("new_id").distinct()
    val intraPairs = ImageDedup
      .nearDupPairs256(batch, idCol, maxHamming, maxBucketSize)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    decide(batch.select(col(idCol)), crossDup, intraPairs, batch)
  }

  /** Radius-bounded k-NN retrieval against the persisted limb index —
    * [[FingerprintDedupIndex.knnAgainstIndex]] on 256-bit
    * fingerprints: probe limbs broadcast against the stats-pruned
    * scan, the exact distance re-uses the carried corpus arrays
    * (candidate rows posexplode against the broadcast probe limbs —
    * never a second index scan), the shared bounded top-k finishes.
    * `radius < 16` keeps the candidate union pigeonhole-exact.
    */
  def knnAgainstIndex(probes: DataFrame, k: Int, radius: Int): DataFrame = {
    requireBootstrapped()
    require(radius >= 0 && radius < 16,
      s"radius=$radius: the 16-limb pigeonhole is exact only below 16")
    require(k >= 1, s"k=$k must be >= 1")
    val qLimbsDf = probes.select(col(idCol).as("probe_id"),
      posexplode(col("fp")).as(Seq("band", "bv")))
    // collect-fusion (the IvfIndex.topK / 64-bit twin shape): the limb
    // rows were already broadcast-bound; one collect feeds the pruning
    // predicate AND rebuilds the broadcast side as a LocalRelation.
    val qRows = qLimbsDf.collect()
    val bvs = qRows.iterator.map(_.getLong(2)).toSet
      .take(IncrementalView.MaxKeysInPredicate + 1).toSeq
    val qLimbs = probes.sparkSession.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qLimbsDf.schema)
    val cand = prunedScan(fpTable, "bv", bvs)
      .select(col("band"), col("bv"), col(idCol).as("nn_id"),
        col("fp").as("cfp"))
      .join(broadcast(qLimbs.select(col("band"), col("bv"),
        col("probe_id"))), Seq("band", "bv"))
      .filter(col("nn_id") =!= col("probe_id"))
      .select("probe_id", "nn_id", "cfp")
      .dropDuplicates("probe_id", "nn_id")
    // packed-word verify (the dedupBatch shape): probe words broadcast
    // once, the candidate's carried array packs inline — no explode,
    // no per-candidate aggregate
    val scored = cand
      .join(broadcast(probes.select(
        col(idCol).as("probe_id") +:
          ImageDedup.packedFp256(col("fp"), "q"): _*)), Seq("probe_id"))
      .withColumn("hamming", ImageDedup.packedHamming(
        ImageDedup.packedWords256(col("cfp")),
        (0 until 4).map(j => col(s"q$j"))))
      .filter(col("hamming") <= radius)
      .select("probe_id", "nn_id", "hamming")
    graft.multimodal.HammingKnn.topKFinish(scored, k)
  }
}
