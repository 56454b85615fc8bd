package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.DedupIndex
import graft.dedup.DedupIndex.{prunedScan, sampleKeys}
import graft.lake.IncrementalTable

/** Persistent SemDeDup index for INCREMENTAL semantic deduplication —
  * the index twin of the one-shot `semantic_dedup_clustered` operator
  * (Abbas et al.'s composition: k-means the corpus, near-dedup WITHIN
  * clusters), built for the continuous-ingest pipeline where
  * retraining k-means and re-bucketing the whole corpus per arriving
  * batch would be a full-corpus pass every day.
  *
  * Train-once-add-many, the [[IvfIndex]] contract applied to dedup:
  * [[bootstrap]] trains k centroids on the initial corpus (bounded
  * deterministic sample, [[IvfAnn.train]]), persists them beside two
  * manifest-committed [[IncrementalTable]]s, and every
  * [[dedupBatch]] ASSIGNS the arriving vectors against the STORED
  * centroids — no retraining, O(batch) work plus pruned index slices:
  *
  *  - `vecs`    (id, kcluster, q, nrm) — quantized vectors +
  *              norms, write-ordered by id so the exact-cosine verify
  *              fetch (and a takedown `deleteWhere`) stats-prunes to
  *              the files holding candidate ids;
  *  - `buckets` (kcluster, t, b, id) — the candidate table, committed
  *              after `vecs`: per-cluster sign-LSH bucket rows
  *              ([[CosineSim.signBucketRowsQ]], the shared
  *              deterministic hyperplane family), write-ordered by
  *              (kcluster, t, b) so a batch's bucket set prunes the
  *              scan to files it can collide with — and since a batch
  *              touches at most k distinct `kcluster` values, the
  *              kcluster predicate alone already cuts the scan to the
  *              clusters the batch lands in.
  *
  * Candidate pairs arise ONLY inside a matching (kcluster, table,
  * bucket) — the SemDeDup scoping end to end: a cross-cluster pair is
  * never generated, within a batch or ACROSS batches (pinned in
  * SemDedupIndexSpec). The quadratic term stays Σ (bucket ∩ cluster)²
  * as the corpus grows. The arriving batch's buckets are hot-capped
  * (`maxBucketSize`, identical-embedding floods are exact-dedup's job
  * upstream); the corpus side streams uncapped through the equi-join
  * against the BROADCAST batch — the [[graft.dedup.CorpusDedupIndex]]
  * rule, since per-admit historical bucket sizes are unknowable and
  * the exact verify bounds the cost of any candidate that does arise.
  *
  * A pair is a duplicate when its exact integer cosine is ≥ num/den
  * and it shares a (kcluster, t, b); the decisions follow the
  * [[DedupIndex]] protocol and carry each vector's `kcluster`.
  *
  * DRIFT: appends never retrain, so a moving distribution silently
  * degrades the cluster scoping (vectors land in clusters whose
  * centroid is a poor proxy and near-dups stop colliding). [[drift]]
  * measures it — training-time mean assignment cosine persisted at
  * bootstrap as the baseline ([[IvfIndex.meanAssignSim]], the shared
  * statistic), current mean over a hash-sample of `vecs`; ratio <
  * 0.95 = re-[[bootstrap]] on the full corpus (which also compacts
  * takedowns).
  *
  * SIZING `planes` — the hot-bucket lever: sign-LSH bucket skew is
  * STRUCTURAL on semantically concentrated corpora (a label's center
  * decides every sign bit its noise can't flip, so most of a label
  * lands in ONE bucket), and the index side of the candidate join is
  * uncapped by design — at 8 planes (256 buckets/table) the measured
  * 10× arc handed each batch vector whole-label candidate sets
  * (shuffle grew 10× with the corpus) while the RETRAIN world's
  * corpus-wide cap silently dropped planted recall (798 → 381 pairs).
  * 16 planes (2^16 buckets/table) restored both: batch shuffle 3×
  * under the 8-plane run at 10×, recall intact — near-dups at
  * cos ≥ 0.99 still collide in ≥1 of 4 tables w.p. ~0.9998. Rule:
  * grow planes with log₂(corpus/k), keeping expected (cluster ∩
  * bucket) occupancy O(100); collision probability per table is
  * (1−θ/π)^planes, so add a table per ~8 added planes to hold recall
  * (SCALE.md `semdedup_inc`).
  *
  * Every step is deterministic integer arithmetic (milli quantization,
  * smallest-id k-means init, integer-mean Lloyd, integer hyperplanes,
  * exact int64 cosine predicate), so a plain-SQL oracle replays the
  * whole multi-batch arc bit-for-bit — the `semantic_dedup_incremental`
  * gate.
  */
class SemDedupIndex(
    spark: SparkSession, val base: String, val idCol: String, vecCol: String,
    k: Int, iterations: Int, num: Long, den: Long,
    planes: Int = 8, tables: Int = 4, maxBucketSize: Int = 1000)
    extends DedupIndex {

  val vecsTable = new IncrementalTable(spark, s"$base/vecs")
  val bucketsTable = new IncrementalTable(spark, s"$base/buckets")

  private var centroidsCache: Array[Array[Long]] = null

  /** The stored centroids — a model-sized object (k × dim longs),
    * loaded once per index handle.
    */
  private def centroids: Array[Array[Long]] = {
    if (centroidsCache == null)
      centroidsCache = spark.read.parquet(s"$base/centroids")
        .orderBy("cid").collect().map(_.getSeq[Long](1).toArray)
    centroidsCache
  }

  /** Quantize + nearest-STORED-centroid assignment: `(idCol, q, nrm,
    * kcluster)`, one narrow broadcast-argmin pass (zero vector
    * shuffle, the [[IvfAnn.assignLists]] shape).
    */
  private def quantizeAssign(batch: DataFrame): DataFrame =
    IvfAnn.assignLists(
      batch.select(col(idCol), CosineSim.quantize(col(vecCol)).as("q"))
        .withColumn("nrm", CosineSim.normQ(col("q"))),
      IvfAnn.centroidsDf(spark, centroids), idCol, "q")
      .withColumn("kcluster", col("list_id").cast("long"))
      .drop("list_id")

  private def bucketRows(qa: DataFrame): DataFrame =
    CosineSim.signBucketRowsQ(qa, centroids.head.length, planes, tables)

  val indexTables = Seq(vecsTable -> Seq(idCol),
    bucketsTable -> Seq("kcluster", "t", "b"))
  protected def admitTag: String = "semdedup_admit"
  def streamTag: String = "stream_semdedup"

  /** Train k centroids on the initial corpus and persist them, with
    * the corpus' mean assignment cosine as the drift baseline.
    */
  override protected def train(corpus: DataFrame): Unit = {
    val q0 = corpus
      .select(col(idCol), CosineSim.quantize(col(vecCol)).as("q"))
      .withColumn("nrm", CosineSim.normQ(col("q")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = IvfAnn.train(
        q0.select(col(idCol).as("id"), col("q").as("qv")), k, iterations)
      IvfAnn.centroidsDf(spark, cents)
        .write.mode("overwrite").parquet(s"$base/centroids")
      centroidsCache = cents
      val (n, s) = IvfIndex.meanAssignSim(spark, cents,
        q0.select(col("q").as("cq"), col("nrm").as("nb")))
      import spark.implicits._
      Seq((n, s)).toDF("n", "mean_sim")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/stats")
    } finally q0.unpersist(blocking = false)
  }

  /** Index rows of a vector frame: (vecs, buckets). */
  protected def indexRows(batch: DataFrame): Seq[DataFrame] = {
    val qa = quantizeAssign(batch).localCheckpoint() // feeds both tables
    Seq(qa.select(idCol, "kcluster", "q", "nrm"),
      bucketRows(qa).select(col("kcluster"), col("t"), col("b"), col(idCol)))
  }

  /** Decisions for a batch of `(idCol, vecCol)` vectors, one row per
    * vector, carrying the `kcluster` it was assigned to.
    */
  def dedupBatch(batch: DataFrame): DataFrame = {
    requireBootstrapped()
    val qa = quantizeAssign(batch).localCheckpoint() // feeds 4 paths
    // batch bucket rows, hot-capped WITHIN the batch
    val bb = bucketRows(qa)
      .withColumn("bsz",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("kcluster", "t", "b")))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- cross candidates: the batch touches ≤ k clusters, so the
    // kcluster predicate alone prunes the buckets scan to the files of
    // those clusters; the batch side broadcasts, the index side
    // streams (no shuffle of corpus rows).
    val idxB = prunedScan(bucketsTable, "kcluster",
        sampleKeys(qa.select("kcluster")))
      .withColumnRenamed(idCol, "corpus_id")
    // corpus_id =!= new_id: the replayed-batch self-match guard
    val crossCand = idxB
      .join(broadcast(bb.select(col(idCol).as("new_id"),
        col("kcluster"), col("t"), col("b"))),
        Seq("kcluster", "t", "b"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- verify cross candidates: exact integer cosine against the
    // stats-pruned vecs slice (id-clustered files)
    val idxV = prunedScan(vecsTable, idCol,
        sampleKeys(crossCand.select("corpus_id")))
      .select(col(idCol).as("corpus_id"),
        col("q").as("cq"), col("nrm").as("cnrm"))
    // two SLIM broadcasts (pair ids, then batch vectors), not one
    // pair×vector product: a dense batch can have hundreds of
    // candidates per vector, and carrying the quantized vector on
    // every pair row would multiply the broadcast by that density
    val crossDup = idxV
      .join(broadcast(crossCand), "corpus_id")
      .join(broadcast(qa.select(col(idCol).as("new_id"),
        col("q"), col("nrm"))), "new_id")
      .withColumn("dot", CosineSim.dotQ(col("q"), col("cq")))
      .filter(col("dot") >= 0 &&
        col("dot") * col("dot") * lit(den * den) >=
          lit(num * num) * col("nrm") * col("cnrm"))
      .select(col("new_id")).distinct()

    // ---- intra-batch: verified pairs within (cluster ∩ bucket)
    val intraVerified = bb.as("x").join(bb.as("y"),
        col("x.kcluster") === col("y.kcluster") &&
          col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        CosineSim.dotQ(col("x.q"), col("y.q")).as("dot"),
        col("x.nrm").as("na"), col("y.nrm").as("nb"))
      .filter(col("dot") >= 0 &&
        col("dot") * col("dot") * lit(den * den) >=
          lit(num * num) * col("na") * col("nb"))
      .dropDuplicates("a", "b")
    decide(qa.select(col(idCol), col("kcluster")), crossDup, intraVerified,
      bb, crossCand)
  }

  /** DRIFT ratio vs the bootstrap-time baseline (shared statistic and
    * trigger with [[IvfIndex.drift]]: re-bootstrap when ratio < 0.95).
    * Cost: one narrow scan of `samplePerMille`/1000 of `vecs` against
    * broadcast centroids — no vector shuffle.
    */
  def drift(samplePerMille: Int = 1000): IvfIndex.IvfDrift = {
    requireBootstrapped()
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille=$samplePerMille must be in [1, 1000]")
    val baseRow = spark.read.parquet(s"$base/stats").head
    val sample = vecsTable.snapshot()
      .filter(pmod(xxhash64(col(idCol)), lit(1000L)) < samplePerMille)
      .select(col("q").as("cq"), col("nrm").as("nb"))
    val (n, cur) = IvfIndex.meanAssignSim(spark, centroids, sample)
    IvfIndex.IvfDrift(baseRow.getDouble(1), cur, baseRow.getLong(0), n)
  }
}
