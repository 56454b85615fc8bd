package graft.sim

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Int8

/** Persisted IVF index — the at-rest form of [[IvfAnn]]'s claim that
  * probes prune storage: the corpus is written hive-partitioned by
  * `list_id`, centroids sit beside it, and a query reads ONLY the
  * `list_id=` directories its probes select (`PartitionFilters` in the
  * scan — asserted in IvfIndexSpec). At nprobe/C = 4/64 that is a 94%
  * I/O cut before any scoring happens.
  *
  * ==Quantized lists + exact re-rank==
  * The LIST payload is int8-scalar-quantized ([[graft.functions.Int8]]):
  * 1 byte/dim codes plus per-vector `maxabs`/norm scalars. The win at
  * 100 TB is the probe-path WORKING SET — every candidate scored
  * decodes 1 byte/dim instead of an 8-byte/dim `array<long>` (8× less
  * memory bandwidth and cache per candidate, and 8× more list cached
  * per executor byte), and on disk the lists run ~3-4× under a
  * float32 source representation (measured in IvfIndexSpec; note
  * parquet dictionary-packs milli-quantized int64 to ~11 bits, so the
  * naive "1/8 of int64" does NOT show on disk — the honest disk
  * comparison is against the float source, and the decoded-bytes
  * ratio is the structural 8×). Probing scores candidates on the
  * codes (approximate), keeps the top `4·k` per query, and re-ranks
  * ONLY those from the raw vectors (side store `raw/`, fetched by id
  * with the small candidate set broadcast), so the SERVED scores and
  * order are exact over the probed lists — identical to un-quantized
  * lists whenever the true in-list top-k survives the 4·k approximate
  * cut (int8 on unit-norm vectors is far more precise than
  * inter-neighbor gaps; `ann_ivf_index_topk` stays hash-green against
  * the exact-replay oracle). Raw fetch cost is O(candidates) rows
  * joined against an id-clustered table — never a probe-path scan.
  *
  * ==Takedown==
  * [[remove]] retracts ids (right-to-be-forgotten / license removal —
  * at 100 TB the corpus is mutable by law even when append-only by
  * design). Each store uses the mechanism its layout makes cheap: the
  * hive-partitioned `index/` spreads an id across whichever list its
  * vector landed in, so it takes a TOMBSTONE set applied at probe
  * (mark-delete — an anti-join of candidates against `removed/`,
  * takedown-scale, before any scoring); `raw/` is a graft
  * [[graft.lake.IncrementalTable]] clustered by id, so a bounded id
  * set stats-prunes `deleteWhere` to the touched files (copy-on-write,
  * atomic commit, O(touched)). Tombstones land FIRST: a crash between
  * the two steps leaves the id masked at probe — it can never reach
  * the shortlist, hence never the re-rank fetch — and a re-run is
  * idempotent. A periodic [[IvfIndex.build]] rebuild physically drops
  * tombstoned list rows and clears the tombstone set.
  *
  * Layout:
  * {{{
  *   <path>/index/list_id=<c>/...parquet   (nn_id, code BINARY, mx INT, nbf FLOAT)
  *   <path>/raw/                           graft table (nn_id, cq, nb) id-clustered
  *   <path>/centroids/...parquet           (cid, cvec, cnorm)
  *   <path>/removed/...parquet             (nn_id) tombstones, usually absent
  * }}}
  */
final class IvfIndex private (
    spark: SparkSession, path: String, centroids: Array[Array[Long]]) {

  /** Top-k over the persisted index: probe lists are computed from the
    * query set, collected (nprobe × |queries| small ints — a model-side
    * value, not data), and pushed as a partition filter; int8 approx
    * cut to `rerank`·k per query, exact re-rank from `raw/`.
    */
  def topK(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val cdf = IvfAnn.centroidsDf(spark, centroids)
    val qs = queries.select(col(idCol).as("q_id"),
      CosineSim.quantize(col(vecCol)).as("qq"))
      .withColumn("na", CosineSim.normQ(col("qq")))
      .crossJoin(broadcast(cdf))
      .withColumn("neg_sim",
        -CosineSim.dotQ(col("qq"), col("cvec")).cast("double") / col("cnorm"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("neg_sim").asc, col("cid").asc)
    val probesDf = qs.withColumn("rn", row_number().over(pw))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("qq"), col("na"), col("cid").as("list_id"))
    // ONE action lands the probe set on the driver: it was ALREADY a
    // broadcast-bound frame (the candidate join broadcasts it, which
    // collects to the driver anyway), so collecting it here costs the
    // same memory while folding the old localCheckpoint action + the
    // distinct list_id collect job into this single collect — and the
    // rebuilt LocalRelation broadcasts without a job.
    val probeRows = probesDf.collect()
    val probedLists = probeRows.map(_.getInt(3)).distinct.toSeq
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probesDf.schema)
    // tombstoned ids drop here, BEFORE scoring — they can never reach
    // the shortlist, so the re-rank fetch never sees them either
    val index = IvfIndex.maskRemoved(spark, path,
      spark.read.parquet(s"$path/index")
        .filter(col("list_id").isin(probedLists: _*)))
    // approximate scoring on the int8 codes: reconstructed dot =
    // byteDot · mx / 127; mx = 0 is the zero vector (byteDot 0)
    val cand = index.join(broadcast(probes), Seq("list_id"))
      .filter(col("q_id") =!= col("nn_id"))
      .withColumn("approx_sim",
        Int8.byteDot(col("qq"), col("code")).cast("double") * col("mx") /
          (lit(127.0) * sqrt(col("na").cast("double") *
            col("nbf").cast("double"))))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("approx_sim").desc, col("nn_id").asc)
    val shortlistDf = cand.withColumn("crn", row_number().over(cw))
      .filter(col("crn") <= math.max(rerank * k, k + 16))
      .select("q_id", "nn_id", "qq", "na")
    // same collect-fusion as the probe set: the shortlist feeds the id
    // predicate AND the re-rank join's broadcast side, both
    // driver-bounded by construction (<= queries x max(rerank·k, k+16)
    // rows — the set broadcast() would collect anyway), so one collect
    // replaces the old localCheckpoint action + distinct id collect.
    val shortRows = shortlistDf.collect()
    val shortlist = spark.createDataFrame(
      java.util.Arrays.asList(shortRows: _*), shortlistDf.schema)
    // exact re-rank: fetch ONLY the shortlist's raw vectors by id. A
    // broadcast join alone would still SCAN all of raw/ (the hash probe
    // filters rows after the read); the candidate ids must also reach
    // the parquet scan as a pushed predicate so the id-clustered files
    // prune on min/max stats. An oversized shortlist (huge query
    // batch) drops the predicate: never wrong, only slower.
    val ids = shortRows.iterator.map(_.get(1)).toSet
      .take(IvfIndex.MaxRerankIdPredicate + 1).toArray
    val rawT = new graft.lake.IncrementalTable(spark, s"$path/raw")
    val raw =
      if (ids.length > IvfIndex.MaxRerankIdPredicate) rawT.snapshot()
      else rawT.scan(col("nn_id").isInCollection(ids.toSeq))
    val scored = raw.join(broadcast(shortlist), Seq("nn_id"))
      .select(col("q_id"), col("nn_id"),
        CosineSim.dotQ(col("qq"), col("cq")).as("dot"), col("na"), col("nb"))
      .withColumn("sim",
        col("dot").cast("double") / sqrt((col("na") * col("nb")).cast("double")))
    CosineSim.finishTopK(scored, k)
  }

  /** Append new vectors WITHOUT retraining: each is assigned to its
    * nearest EXISTING centroid and lands in that list's partition — one
    * small partitioned write plus a raw-store append, O(batch)
    * regardless of index size (the FAISS train-once-add-many
    * contract). Centroids drift from optimal as the corpus grows;
    * recall degrades gracefully and a periodic [[IvfIndex.build]]
    * rebuild restores it.
    */
  def append(newVectors: DataFrame, idCol: String, vecCol: String): IvfIndex = {
    val q = newVectors.select(col(idCol).as("nn_id"),
      CosineSim.quantize(col(vecCol)).as("cq"))
      .withColumn("nb", CosineSim.normQ(col("cq")))
      .localCheckpoint() // feeds lists AND raw; quantize once
    // a TOMBSTONED id must not silently resurface: the probe-time mask
    // would hide the appended vector forever (worse than a loud
    // refusal), and quietly un-masking on append would let a crash
    // resurrect retracted data. Re-admission is an explicit act:
    // rebuild (build() clears tombstones) or assign fresh ids.
    val rm = new org.apache.hadoop.fs.Path(s"$path/removed")
    val rfs = rm.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (rfs.exists(rm)) {
      val clash = q.join(
        broadcast(spark.read.parquet(s"$path/removed").distinct()),
        Seq("nn_id"), "left_semi").limit(5).collect().map(_.get(0))
      require(clash.isEmpty,
        s"append to $path: id(s) ${clash.mkString(", ")} were retracted " +
          "by remove() and would be masked at probe — rebuild the index " +
          "or assign fresh ids")
    }
    val assigned = IvfAnn.assignLists(
      q, IvfAnn.centroidsDf(spark, centroids), "nn_id", "cq")
    IvfIndex.writeLists(assigned, s"$path/index", overwrite = false)
    new graft.lake.IncrementalTable(spark, s"$path/raw")
      .append(q.orderBy("nn_id"))
    // DRIFT LIFECYCLE: fold this batch's mean assignment cosine into
    // the rolling current mean (one extra aggregate over rows this
    // append already quantized and scanned), so [[drift]] is
    // O(metadata) and the 0.95 trigger surfaces DURING normal
    // operation instead of waiting for someone to ask. Log-don't-
    // refuse: a drifted append is degraded recall, not corruption —
    // the operator rebuilds on the logged trigger.
    val st = new org.apache.hadoop.fs.Path(s"$path/stats")
    val sfs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (sfs.exists(st)) { // legacy pre-baseline indexes skip quietly
      val (bn, bs) = meanAssignSim(q)
      val cur = currentStats.getOrElse {
        val b = spark.read.parquet(s"$path/stats").head
        (b.getLong(0), b.getDouble(1))
      }
      val n2 = cur._1 + bn
      val s2 = if (n2 == 0) 0.0 else (cur._1 * cur._2 + bn * bs) / n2
      IvfIndex.writeStatsRow(spark, s"$path/stats_current", n2, s2)
      val d = drift()
      if (d.ratio < 0.95)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          f"IVF index at $path: drift ratio ${d.ratio}%.3f < 0.95 after " +
            s"append — recall is degrading; rebuild with IvfIndex.build")
    }
    this
  }

  /** `(n, mean_sim)` rolling current stats, when the index has them
    * (written by [[IvfIndex.build]] since the append-lifecycle wiring;
    * older baselined indexes fall back to a measured sample).
    */
  private def currentStats: Option[(Long, Double)] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/stats_current")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val r = spark.read.parquet(s"$path/stats_current").head
      Some((r.getLong(0), r.getDouble(1)))
    }
  }

  /** TAKEDOWN: retract `ids` from the index. Tombstones for the
    * hive-partitioned lists land FIRST (probe-time mask — see the
    * class doc), then the id-clustered raw store takes a stats-pruned
    * atomic `deleteWhere`; a crash between the steps leaves the id
    * unservable, and re-running the same removal is idempotent.
    */
  def remove(ids: Seq[Any]): Unit = {
    require(ids.nonEmpty, "remove: empty id set")
    val rawT = new graft.lake.IncrementalTable(spark, s"$path/raw")
    val idType = rawT.tableSchema
      .map(_("nn_id").dataType)
      .getOrElse(org.apache.spark.sql.types.LongType)
    val tomb = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        ids.map(org.apache.spark.sql.Row(_)).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("nn_id", idType))))
    tomb.coalesce(1).write.mode("append").parquet(s"$path/removed")
    rawT.deleteWhere(col("nn_id").isInCollection(ids))
  }

  /** The pruned index scan for a given probe-list set (plan inspection
    * hook for tests).
    */
  def probedScan(lists: Seq[Int]): DataFrame =
    spark.read.parquet(s"$path/index").filter(col("list_id").isin(lists: _*))

  /** Mean assignment cosine of `(nn_id, cq, nb)` rows against the
    * trained centroids — the quantizer-quality statistic drift
    * monitoring compares across time.
    */
  private def meanAssignSim(rows: DataFrame): (Long, Double) =
    IvfIndex.meanAssignSim(spark, centroids, rows)

  /** DRIFT / STALENESS SIGNAL — the missing half of [[append]]'s
    * train-once-add-many contract: appends never retrain, so when the
    * data distribution moves away from the trained centroids, recall
    * degrades SILENTLY (vectors land in lists whose centroid is a poor
    * proxy, and nprobe lists stop covering the true neighbors).
    * This measures it instead of hoping: the per-vector assignment
    * cosine (vector ↔ its nearest centroid) is the quantizer-quality
    * statistic; [[IvfIndex.build]] persists the TRAINING-TIME mean as
    * the baseline, and `drift()` recomputes the current mean over a
    * deterministic hash-sample of the raw store (tombstones masked).
    *
    * Reading it: `ratio = current/baseline`. In-distribution growth
    * holds ratio ≈ 1 (sampling noise aside); a shifted corpus pulls
    * assignment cosines down and the ratio with it. The worked
    * trigger: re-run [[IvfIndex.build]] when `ratio < 0.95` or when
    * appended rows outnumber the trained corpus — and since [[append]]
    * now FOLDS each batch's mean into a rolling current stat and logs
    * past the trigger, the signal surfaces during normal operation.
    *
    * Cost: O(metadata) — two one-row parquet reads — when the rolling
    * `stats_current/` exists (every index built or appended since the
    * lifecycle wiring). Older baselined indexes fall back to
    * [[driftMeasured]] over the full raw store. Note the rolling stat
    * is assign-time: takedowns don't re-weight it (removal-scale bias;
    * a rebuild resets both stats exactly).
    *
    * Indexes built before this signal existed carry no baseline and
    * refuse loudly (rebuild to enable).
    */
  def drift(): IvfIndex.IvfDrift = {
    val st = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(st),
      s"IVF index at $path predates the drift baseline — rebuild with " +
        "IvfIndex.build to persist training-time assignment quality")
    currentStats match {
      case Some((n, cur)) =>
        val base = spark.read.parquet(s"$path/stats").head
        IvfIndex.IvfDrift(base.getDouble(1), cur, base.getLong(0), n)
      case None => driftMeasured()
    }
  }

  /** [[drift]] by MEASUREMENT: recompute the current mean over a
    * deterministic hash-sample of the raw store (tombstones masked) —
    * one narrow scan of `samplePerMille`/1000 of the rows against
    * broadcast centroids, no vector shuffle. The audit path: unlike
    * the rolling stat it observes takedowns and post-append state
    * exactly as stored.
    */
  def driftMeasured(samplePerMille: Int = 1000): IvfIndex.IvfDrift = {
    require(samplePerMille >= 1 && samplePerMille <= 1000,
      s"samplePerMille=$samplePerMille must be in [1, 1000]")
    val st = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = st.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(st),
      s"IVF index at $path predates the drift baseline — rebuild with " +
        "IvfIndex.build to persist training-time assignment quality")
    val base = spark.read.parquet(s"$path/stats").head
    val sample = IvfIndex.maskRemoved(spark, path,
      new graft.lake.IncrementalTable(spark, s"$path/raw").snapshot())
      .filter(pmod(xxhash64(col("nn_id")), lit(1000L)) < samplePerMille)
    val (n, cur) = meanAssignSim(sample)
    IvfIndex.IvfDrift(base.getDouble(1), cur, base.getLong(0), n)
  }

  /** [[IvfIndex.build]]'s hook: persist the training-time baseline AND
    * seed the rolling current stat with it (ratio reads exactly 1 on a
    * fresh index).
    */
  private[sim] def writeBaseline(rows: DataFrame): Unit = {
    val (n, s) = meanAssignSim(rows)
    IvfIndex.writeStatsRow(spark, s"$path/stats", n, s)
    IvfIndex.writeStatsRow(spark, s"$path/stats_current", n, s)
  }
}

object IvfIndex {

  /** [[IvfIndex.drift]]'s report: training-time vs current mean
    * assignment cosine. `ratio < 0.95` is the worked rebuild trigger.
    */
  final case class IvfDrift(baselineMeanSim: Double, currentMeanSim: Double,
      trainedRows: Long, sampledRows: Long) {
    def ratio: Double =
      if (baselineMeanSim <= 0) 1.0 else currentMeanSim / baselineMeanSim
  }

  /** Mean assignment cosine of `(cq array<long>, nb long)` rows
    * against trained centroids — the quantizer-quality statistic drift
    * monitoring compares across time, shared by this index and
    * [[SemDedupIndex]]. A typed narrow map, not assignLists + join:
    * the fused centroid-fold + join + avg stage generates > 64 KB of
    * Java and Janino refuses (whole-stage fallback). The centroids are
    * a driver-side model, so a plain closure loop is the honest
    * shape — deterministic doubles, one pass, zero shuffle before the
    * 1-row aggregate.
    */
  private[sim] def meanAssignSim(spark: SparkSession,
      centroids: Array[Array[Long]], rows: DataFrame): (Long, Double) = {
    val cents = centroids.map(c =>
      (c, math.sqrt(c.map(x => x.toDouble * x).sum)))
    import spark.implicits._
    val sims = rows.select(col("cq"), col("nb"))
      .as[(Array[Long], Long)]
      .mapPartitions { it =>
        it.map { case (q, nb) =>
          val qn = math.sqrt(nb.toDouble)
          var best = Double.NegativeInfinity
          cents.foreach { case (c, cn) =>
            var d = 0L
            var i = 0
            val n = math.min(q.length, c.length)
            while (i < n) { d += q(i) * c(i); i += 1 }
            val s = if (cn == 0 || qn == 0) 0.0 else d / (cn * qn)
            if (s > best) best = s
          }
          best
        }
      }
    val r = sims.toDF("sim")
      .agg(count(lit(1)).as("n"), avg("sim").as("s")).head
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** One-row `(n, mean_sim)` stats parquet (baseline and rolling
    * current share the layout).
    */
  private[sim] def writeStatsRow(spark: SparkSession, dir: String,
      n: Long, s: Double): Unit = {
    import spark.implicits._
    Seq((n, s)).toDF("n", "mean_sim")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Cap on the re-rank id set pushed as a raw-scan predicate; above
    * it the predicate is dropped (the broadcast join stays correct).
    * The shortlist is `|queries| · max(rerank·k, k+16)` rows, so a
    * normal probe batch sits far below this.
    */
  val MaxRerankIdPredicate = 65536

  /** Quantize `(nn_id, cq, nb, list_id)` rows to the int8 list schema
    * and write them partitioned by list. `mx` (int) and `nbf` (float)
    * are ranking-precision scalars — the exact `nb` lives in `raw/`
    * and re-enters at re-rank.
    */
  private def writeLists(assigned: DataFrame, dir: String,
      overwrite: Boolean): Unit =
    assigned.select(col("nn_id"), Int8.encode(col("cq")).as("code"),
      Int8.maxAbs(col("cq")).cast("int").as("mx"),
      col("nb").cast("float").as("nbf"), col("list_id"))
      .write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(dir)

  /** Train + assign + persist. Returns the ready-to-query index. */
  def build(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      nCentroids: Int = 16, iterations: Int = 3): IvfIndex = {
    val spark = corpus.sparkSession
    val q = corpus.select(col(idCol).as("nn_id"),
      CosineSim.quantize(col(vecCol)).as("cq"))
      .withColumn("nb", CosineSim.normQ(col("cq")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val centroids = IvfAnn.train(
      q.select(col("nn_id").as("id"), col("cq").as("qv")), nCentroids, iterations)
    val assigned = IvfAnn.assignLists(
      q, IvfAnn.centroidsDf(spark, centroids), "nn_id", "cq")
    writeLists(assigned, s"$path/index", overwrite = true)
    // raw store: a graft table, id-clustered so a candidate-id fetch
    // (and a takedown deleteWhere) prunes files on min/max stats
    new graft.lake.IncrementalTable(spark, s"$path/raw")
      .writeSnapshot(q.orderBy("nn_id"))
    IvfAnn.centroidsDf(spark, centroids)
      .write.mode("overwrite").parquet(s"$path/centroids")
    // a rebuild starts from the corpus the caller passed — prior
    // tombstones are moot (their rows are no longer in the lists)
    val rm = new org.apache.hadoop.fs.Path(s"$path/removed")
    val fs = rm.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(rm)) fs.delete(rm, true)
    val idx = new IvfIndex(spark, path, centroids)
    // drift baseline: the training corpus' mean assignment cosine
    idx.writeBaseline(q)
    q.unpersist()
    idx
  }

  /** `df` minus tombstoned ids — a no-op (and no plan change) when no
    * removal ever happened. The tombstone set is takedown-scale, not
    * corpus-scale, hence the broadcast anti-join.
    */
  private[sim] def maskRemoved(
      spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    val rm = new org.apache.hadoop.fs.Path(s"$path/removed")
    val fs = rm.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rm)) df
    else df.join(
      broadcast(spark.read.parquet(s"$path/removed").distinct()),
      Seq("nn_id"), "left_anti")
  }

  /** Open an existing index. Fails fast on the pre-int8 layout (a
    * `raw/` directory that is plain parquet, not a graft table with a
    * `_log`): load() itself only reads centroids and would succeed,
    * leaving topK/append/remove to die later on an obscure
    * missing-manifest error.
    */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val raw = new org.apache.hadoop.fs.Path(s"$path/raw")
    val fs = raw.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(raw) &&
        !new graft.lake.IncrementalTable(spark, s"$path/raw").exists)
      throw new IllegalStateException(
        s"IVF index at $path uses the legacy raw-store layout (plain " +
          "parquet, no _log) — rebuild the index with IvfIndex.build " +
          "(the raw store is now a graft table: int8 lists + exact re-rank)")
    val centroids = spark.read.parquet(s"$path/centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Long](1).toArray)
    new IvfIndex(spark, path, centroids)
  }
}
