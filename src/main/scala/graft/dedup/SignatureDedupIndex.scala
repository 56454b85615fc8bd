package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex.{prunedScan, sampleKeys}
import graft.lake.IncrementalTable
import graft.multimodal.{ImageDedup, SignatureDedup}

/** Persistent UNIT-SIGNATURE index for incremental ALIGNMENT-FREE
  * media dedup — [[FingerprintDedupIndex]]'s daily-ingest shape for
  * clips that are BAGS of unit signatures (video shot signatures,
  * audio block fingerprints — [[SignatureDedup]]'s data model): a
  * whole-clip fingerprint cannot serve trimmed near-dups, so the
  * index stores one band row PER UNIT
  * (`(band, bv, id, unit, h_hi, h_lo)`, write-ordered (band, bv) for
  * stats-pruned batch scans) and a batch clip is `dup_corpus` iff
  * some indexed clip passes the SAME symmetric overlap gate the
  * in-memory matcher uses: at least `minMatched` DISTINCT units
  * within `maxHamming` on EACH side (a repeated unit cannot qualify
  * through multiplicity).
  *
  * Otherwise the [[FingerprintIndexLike]] layout: batch band rows
  * broadcast against the pruned index scan, intra-batch
  * [[SignatureDedup]] pairs for `dup_batch`, admits watermarked
  * `sig_admit[batch=N]`. Decisions are per CLIP ([[decidesPerClip]]):
  * micro-batches of unit rows in, one decision row per clip out.
  */
class SignatureDedupIndex(
    spark: SparkSession, val base: String, val idCol: String, unitCol: String,
    maxHamming: Int, minMatched: Int, bandBits: Int = 16,
    maxBucketSize: Int = Int.MaxValue) extends FingerprintIndexLike {

  ImageDedup.requireExactPigeonhole(maxHamming, bandBits)
  require(minMatched >= 1, s"minMatched=$minMatched must be >= 1")

  override def decidesPerClip: Boolean = true

  val fpTable = new IncrementalTable(spark, s"$base/units")
  protected def admitTag: String = "sig_admit"

  protected def bandRows(units: DataFrame): DataFrame =
    ImageDedup.bandExploded(
      units.select(col(idCol), col(unitCol), col("h_hi"), col("h_lo")),
      bandBits)
      .select(col("band"), col("bv"), col(idCol), col(unitCol),
        col("h_hi"), col("h_lo"))

  /** Decisions for a batch of unit rows `(idCol, unitCol, h_hi, h_lo)`,
    * one row per batch CLIP.
    */
  def dedupBatch(units: DataFrame): DataFrame = {
    requireBootstrapped()
    val batch = units
      .select(col(idCol), col(unitCol), col("h_hi"), col("h_lo"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val newBands = ImageDedup.capBuckets(bandRows(batch), maxBucketSize,
      "band", "bv")
    // matched unit pairs between batch clips and indexed clips: banded
    // candidates, exact popcount per collision, then the distinct
    // carries bare (clip, unit) tuples. corpus_id =!= new_id is the
    // replayed-batch self-match guard
    val matched = prunedScan(fpTable, "bv", sampleKeys(newBands.select("bv")))
      .select(col("band"), col("bv"), col(idCol).as("corpus_id"),
        col(unitCol).as("cu"), col("h_hi").as("chi"), col("h_lo").as("clo"))
      .join(broadcast(newBands
        .select(col("band"), col("bv"), col(idCol).as("new_id"),
          col(unitCol).as("nu"), col("h_hi").as("nhi"),
          col("h_lo").as("nlo"))),
        Seq("band", "bv"))
      .filter(col("corpus_id") =!= col("new_id"))
      .filter((bit_count(col("chi").bitwiseXOR(col("nhi"))) +
        bit_count(col("clo").bitwiseXOR(col("nlo")))) <= maxHamming)
      .select("corpus_id", "cu", "new_id", "nu")
      .distinct()
    // the symmetric overlap gate, per (corpus clip, batch clip)
    val crossDup = matched
      .groupBy("corpus_id", "new_id")
      .agg(countDistinct(col("nu")).as("mn"),
        countDistinct(col("cu")).as("mc"))
      .filter(least(col("mn"), col("mc")) >= minMatched)
      .select("new_id").distinct()
    val intraPairs = SignatureDedup
      .nearDupPairsBySignature(batch, idCol, unitCol, maxHamming,
        minMatched, bandBits, maxBucketSize)
      .select(col("id_a").as("a"), col("id_b").as("b"))
    decide(batch.select(col(idCol)).distinct(), crossDup, intraPairs, batch)
  }
}
