package graft.streaming

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.scd.ScdConfig

/** Input/output records for [[Streams.sessionize]]. */
final case class SessionEvent(user_id: Long, ts_utc: Timestamp, value: Double)
final case class UserSession(
    user_id: Long, session_start: Timestamp, session_end: Timestamp,
    n_events: Long, sum_value: Double)
private[streaming] final case class SessionState(
    start: Long, last: Long, n: Long, sum: Double)

/** Structured Streaming surface.
  *
  * The reference has no streaming at all (SURVEY.md §2.9) — this is the
  * idiomatic Spark extension: the SCD algorithm is a pure function of
  * (snapshot, micro-batch), so `foreachBatch(applyScd)` turns any
  * stream into an incrementally-maintained SCD2 dimension; windowed
  * aggregations ride on watermarks.
  */
object Streams {

  /** `writeStream.foreachBatch` sink maintaining an
    * [[graft.lake.IncrementalScdTable]]. Each micro-batch costs
    * O(touched buckets): a manifest-committed file swap of only the
    * buckets the batch's keys hash to, with the identity watermark
    * riding the manifest.
    *
    * The per-batch clock is `baseClock + batchId` seconds: strictly
    * monotonic across batches (the forward-moving-clock precondition of
    * [[graft.lake.IncrementalScdTable.applyScd]]) and deterministic
    * under micro-batch replay — a batch re-run after a failure
    * re-stamps the SAME timestamps, the split finds nothing changed,
    * and the snapshot is value-identical, exactly like the reference's
    * duplicate-row no-op path.
    */
  def incrementalScdSink(table: graft.lake.IncrementalScdTable,
      cfg: ScdConfig, baseClock: Instant): (DataFrame, Long) => Unit =
    incrementalScdSink(table, cfg, id => baseClock.plusSeconds(id))

  /** General-clock form of [[incrementalScdSink]]: `clockForBatch`
    * maps the micro-batch id to the batch's stamp. Any strictly
    * monotonic pure function keeps both contracts — forward-moving
    * clock across batches (the algorithm's precondition) and
    * deterministic replay (a re-run batch re-stamps the SAME
    * timestamps, so the sink stays idempotent in state). Lets a
    * deployment stamp real ingest cadence (e.g. one day per batch in a
    * daily-backfill stream) instead of the one-second default.
    */
  def incrementalScdSink(table: graft.lake.IncrementalScdTable,
      cfg: ScdConfig, clockForBatch: Long => Instant)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => {
      table.applyScd(batch,
        cfg.copy(clock = () => clockForBatch(batchId)))
      ()
    }

  /** Exactly-once streaming append into an [[graft.lake.IncrementalTable]]:
    * a `foreachBatch` sink whose commit records the micro-batch id in
    * the manifest operation. A batch REPLAYED after a failure finds its
    * id already committed and no-ops — the same transactional-sink idea
    * as Delta's (appId, batchId) txn table, scoped to one stream per
    * table. Each micro-batch costs O(batch): new files + one manifest.
    *
    * Batches commit through [[graft.lake.IncrementalTable.append]], so
    * a stream behaves exactly like batch ingestion: a `bucketize`d
    * table's layout stays ALIVE (each batch hashes into per-bucket
    * files — storage-partitioned joins survive a running stream),
    * constraints/generated/identity columns apply, and `autoCompact`
    * bounds the accumulating file tail. (The sink used to stage PLAIN
    * files, which silently broke the bucket promise — the scan's
    * structural check fell back to shuffled plans on the very tables
    * streaming keeps hottest.)
    */
  def incrementalAppendSink(table: graft.lake.IncrementalTable)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val StreamOp = """stream_append\[batch=(\d+)\]""".r
    // High-watermark idempotence: micro-batches commit in increasing
    // batchId order, so the NEWEST stream_append commit carries the
    // highest id — a replayed batch is a no-op iff its id <= that
    // watermark (`latestOpId` documents the walk and the vacuum
    // caveat).
    if (!table.latestOpId(StreamOp).exists(batchId <= _) && !batch.isEmpty) {
      table.append(batch, s"stream_append[batch=$batchId]")
      ()
    }
  }

  /** Exactly-once STREAMING corpus dedup: each micro-batch is deduped
    * against the persisted [[graft.dedup.CorpusDedupIndex]], its kept
    * docs admitted, and its per-doc decisions appended to `decisions`
    * — the continuous-ingest form of the `dedup_incremental` batch arc.
    *
    * Idempotence is layered with the DECISIONS COMMIT FIRST as the
    * anchor: `dedupBatch` has no side effects, so a crash before the
    * decisions commit replays the whole unit against an UNCHANGED
    * index; the `stream_dedup[batch=N]` watermark then freezes the
    * kept set, and the admit — which runs AFTER that commit and
    * OUTSIDE its gate on every delivery — replays from the frozen
    * rows under [[graft.dedup.CorpusDedupIndex.admitIdempotent]]'s
    * own per-table watermarks (bands-last commit order keeps
    * half-admitted docs invisible to candidate generation) until it
    * lands. A crash at ANY point therefore converges to exactly the
    * first-committed decisions and exactly one admitted copy of their
    * kept docs — the kept set can never shift on replay, because
    * nothing ever re-runs `dedupBatch` after an admit.
    */
  def corpusDedupSink(idx: graft.dedup.CorpusDedupIndex,
      decisions: graft.lake.IncrementalTable,
      maintainEvery: Int = 0): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val Op = """stream_dedup\[batch=(\d+)\]""".r
      if (!batch.isEmpty) {
        // decisions commit FIRST, then admit FROM THE STORED rows: the
        // decisions table is the single source of truth for the kept
        // set. The old order (admit, then decisions) had a window —
        // crash between the two, and the replayed dedupBatch could
        // re-split a component whose anchor was now indexed, changing
        // which ids came back kept while the admit watermark refused
        // to admit the new kept set. Now the kept set is frozen at the
        // decisions commit; a crash before it replays a deterministic
        // dedupBatch against an UNCHANGED index, and a crash after it
        // replays straight to the admit, which reads the frozen rows.
        val fresh: Option[DataFrame] =
          if (decisions.latestOpId(Op).exists(batchId <= _)) None
          else {
            val d = idx.dedupBatch(batch)
            val rows = d.withColumn("batch", lit(batchId))
            decisions.commitFiles(decisions.stage(rows), Set.empty,
              s"stream_dedup[batch=$batchId]", schema = Some(rows.schema))
            Some(d)
          }
        // admit from the frozen rows: the in-hand frame on the fresh
        // path (CorpusDedupIndex.dedupBatch localCheckpoints, so it IS
        // what was just committed — no re-scan of the growing decisions
        // table per batch), the stored rows only on the replay path
        val frozen = fresh.getOrElse(decisions.snapshot()
          .filter(col("batch") === batchId).drop("batch"))
        idx.admitIdempotent(batch, frozen, batchId)
        // per-batch appends accrete a small-file tail on all four
        // tables; bin-pack it every `maintainEvery` batches. The
        // compactions commit datachange=false, so downstream CDF
        // consumers of the decisions table cross them untouched, and a
        // crash between them just leaves work for the next cadence hit
        // (compactSmall is content-preserving and re-runnable).
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          Seq(idx.bandsTable, idx.sizesTable, idx.shinglesTable, decisions)
            .foreach(_.compactSmall())
      }
  }

  /** Exactly-once STREAMING semantic dedup — [[corpusDedupSink]]'s
    * decisions-first protocol over [[graft.sim.SemDedupIndex]]: each
    * micro-batch of embedding rows is assigned against the STORED
    * centroids, near-deduped within (cluster ∩ bucket) against the
    * persisted corpus, its kept vectors admitted, and its per-vector
    * decisions appended to `decisions` — the continuous-ingest form of
    * the `semantic_dedup_incremental` batch arc, completing the sink
    * family (text MinHash, 64/256-bit fingerprints, unit signatures,
    * and now embeddings all stream through the same protocol). The
    * decisions commit freezes the kept set under a
    * `stream_semdedup[batch=N]` watermark; the admit replays FROM the
    * stored rows, so a crash anywhere replays to exactly-once index
    * contents (the [[corpusDedupSink]] argument, buckets-last admit
    * ordering included). Per-vector decisions carry no clip-atomicity
    * hazard. `maintainEvery` bin-packs the vecs/buckets/decisions
    * small-file tails on a cadence (datachange=false commits).
    */
  def semanticDedupSink(idx: graft.sim.SemDedupIndex,
      decisions: graft.lake.IncrementalTable,
      maintainEvery: Int = 0): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val Op = """stream_semdedup\[batch=(\d+)\]""".r
      if (!batch.isEmpty) {
        val fresh: Option[DataFrame] =
          if (decisions.latestOpId(Op).exists(batchId <= _)) None
          else {
            val d = idx.dedupBatch(batch)
            val rows = d.withColumn("batch", lit(batchId))
            decisions.commitFiles(decisions.stage(rows), Set.empty,
              s"stream_semdedup[batch=$batchId]", schema = Some(rows.schema))
            Some(d)
          }
        val frozen = fresh.getOrElse(decisions.snapshot()
          .filter(col("batch") === batchId).drop("batch"))
        idx.admitIdempotent(batch, frozen, batchId)
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          Seq(idx.vecsTable, idx.bucketsTable, decisions)
            .foreach(_.compactSmall())
      }
  }

  /** Exactly-once STREAMING media dedup — [[corpusDedupSink]]'s shape
    * over the single-table [[graft.dedup.FingerprintDedupIndex]]: each
    * micro-batch of fingerprints `(id, h_hi, h_lo)` is deduped against
    * the persisted index, its kept fingerprints admitted, and its
    * per-id decisions appended to `decisions` — the continuous-ingest
    * form of the `media_dedup_incremental` batch arc. Same
    * decisions-first protocol as [[corpusDedupSink]] (the decisions
    * commit freezes the kept set; the admit replays from the stored
    * rows), with one FEWER failure window: the index is one table, so
    * there is no half-admitted interleaving at all. Takes any
    * [[graft.dedup.FingerprintIndexLike]], so the SAME sink serves the
    * 64-bit halves index, the 256-bit limb index, and the unit-
    * signature index.
    *
    * CLIP-ATOMICITY contract for [[graft.dedup.SignatureDedupIndex]]:
    * that index decides PER CLIP from a batch of per-UNIT rows, so a
    * clip whose units straddle a micro-batch boundary would be judged
    * fragment by fragment — each fragment can fall under `minMatched`
    * and be kept, and the clip accretes conflicting decision rows
    * across batches. The stream feeding this sink must therefore emit
    * every clip's unit rows inside ONE micro-batch (natural when the
    * source row IS a clip and units explode inside the batch — the
    * [[graft.multimodal.VideoDedup.frameHashDf]] shape; if units
    * arrive pre-exploded, aggregate them to clips upstream, e.g. a
    * `groupByKey(clipId).flatMapGroups` stage or a per-clip
    * watermarked window, before the sink). The fingerprint indexes
    * (64/256-bit) decide per ROW and carry no such requirement.
    *
    * The contract is ENFORCED, not just documented: when
    * `idx.decidesPerClip`, a fresh batch whose clip ids already carry
    * a decision from a PRIOR batch fails loudly (naming the clips)
    * before any decision or admit lands — a mis-shaped stream cannot
    * silently fragment a clip's decision. The guard is one pruned
    * probe of the decisions table against the batch's broadcast clip
    * ids (O(batch) + touched files; a replayed batch skips it on the
    * watermark, since its own ids are legitimately present).
    */
  def mediaDedupSink(idx: graft.dedup.FingerprintIndexLike,
      decisions: graft.lake.IncrementalTable,
      maintainEvery: Int = 0): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val Op = """stream_fp_dedup\[batch=(\d+)\]""".r
      if (!batch.isEmpty) {
        val fresh: Option[DataFrame] =
          if (decisions.latestOpId(Op).exists(batchId <= _)) None
          else {
            if (idx.decidesPerClip && decisions.exists &&
                decisions.latestVersion.isDefined) {
              val ic = idx.decisionIdCol
              val ids = batch.select(col(ic)).distinct()
                .limit(graft.dedup.CorpusDedupIndex.MaxKeysInPredicate + 1)
                .localCheckpoint()
              val idVals = ids.collect().map(_.get(0)).toSeq
              val prior =
                (if (idVals.size <= graft.dedup.CorpusDedupIndex.MaxKeysInPredicate)
                  decisions.scan(col(ic).isInCollection(idVals))
                else decisions.snapshot())
                  .filter(col("batch") < batchId)
                  .join(broadcast(batch.select(col(ic)).distinct()), Seq(ic),
                    "left_semi")
                  .limit(5).collect().map(_.get(0))
              require(prior.isEmpty,
                s"mediaDedupSink[batch=$batchId]: clip(s) " +
                  s"${prior.mkString(", ")} already decided in a prior " +
                  "batch — this index decides per clip, so every clip's " +
                  "unit rows must arrive inside ONE micro-batch " +
                  "(clip-atomicity contract); aggregate units to clips " +
                  "upstream of the sink")
            }
            val d = idx.dedupBatch(batch)
            val rows = d.withColumn("batch", lit(batchId))
            decisions.commitFiles(decisions.stage(rows), Set.empty,
              s"stream_fp_dedup[batch=$batchId]", schema = Some(rows.schema))
            Some(d)
          }
        // admit from the frozen rows: every index's dedupBatch returns
        // materialized decisions (a localCheckpoint, or a local
        // relation for a small batch FingerprintDedupIndex decided on
        // the driver), so the in-hand frame IS what was just committed
        val frozen = fresh.getOrElse(decisions.snapshot()
          .filter(col("batch") === batchId).drop("batch"))
        idx.admitIdempotent(batch, frozen, batchId)
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          Seq(idx.fpTable, decisions).foreach(_.compactSmall())
      }
  }

  /** Streaming-maintained MATERIALIZED VIEWS: the exactly-once append
    * of [[incrementalAppendSink]] followed by an affected-key refresh
    * of each downstream [[graft.lake.IncrementalView]], all inside the
    * micro-batch. The append is idempotent by batch-id watermark;
    * refresh is idempotent BY CONSTRUCTION (recompute from the source
    * version it reads, not increments), so a replayed batch re-runs
    * its refreshes against an unchanged source and no-ops on the
    * watermark check. Views may CHAIN (a view over a view's table):
    * list them upstream-first and each refresh feeds the next via the
    * CDC sidecar its commit wrote. Per-batch cost: O(batch) for the
    * append + O(changed groups) per view — a streaming aggregate
    * without stream-state stores, checkpoint state, or output-mode
    * restrictions, and the result is a versioned lake table.
    */
  def maintainedViewSink(table: graft.lake.IncrementalTable,
      views: graft.lake.RefreshableView*): (DataFrame, Long) => Unit = {
    val append = incrementalAppendSink(table)
    (batch, batchId) => {
      append(batch, batchId)
      views.foreach(_.refresh())
    }
  }

  /** Custom-state sessionization via `flatMapGroupsWithState`: events
    * within `gapMs` of each other (per user) form one session; a
    * session closes — and is emitted, append-mode — when the event-time
    * watermark passes its last event + gap.
    *
    * This is the stateful-operator shape the built-in windowed aggs
    * can't express (variable-length, data-driven windows). State per
    * key is O(1) (start/last/count/sum), the watermark bounds state
    * lifetime, and partitioning is by the group key — the standard
    * scale story for keyed state.
    *
    * On a batch Dataset the operator still runs (state starts empty, no
    * timeouts), so only sessions CLOSED by a later event in the same
    * batch are emitted — trailing open sessions are stream semantics'
    * "not final yet".
    */
  def sessionize(
      events: Dataset[SessionEvent], gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._

    def emit(userId: Long, s: SessionState) = UserSession(
      userId, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum)

    def fn(userId: Long, rows: Iterator[SessionEvent],
        state: GroupState[SessionState]): Iterator[UserSession] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(emit(userId, _)).iterator
        state.remove()
        out
      } else {
        val sorted = rows.toSeq.sortBy(_.ts_utc.getTime)
        var closed = List.empty[UserSession]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts_utc.getTime
          cur match {
            case Some(s) if t - s.last <= gapMs =>
              cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1, s.sum + e.value))
            case Some(s) =>
              closed ::= emit(userId, s)
              cur = Some(SessionState(t, t, 1, e.value))
            case None =>
              cur = Some(SessionState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          try state.setTimeoutTimestamp(s.last + gapMs)
          catch { case _: UnsupportedOperationException => () } // batch mode
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts_utc", s"${gapMs / 1000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Stream-stream inner interval join: left and right events with the
    * same key match when the right event time falls within
    * `[leftTs - before, leftTs + after]`. Watermarks on BOTH sides
    * bound the join state (Spark drops buffered rows once the watermark
    * passes the interval), so it runs forever in bounded memory — the
    * canonical enrich-clicks-with-impressions shape.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String,
      before: String, after: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      expr(s"l.$keyCol = r.$keyCol AND " +
        s"r.$rightTs >= l.$leftTs - INTERVAL $before AND " +
        s"r.$rightTs <= l.$leftTs + INTERVAL $after"))
  }

  /** Streaming ingest dedup: drop re-deliveries of the same key while
    * bounding state by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — state for a key is freed once
    * the watermark passes its event time + delay, so it runs forever in
    * fixed memory; plain `dropDuplicates` on a stream grows state
    * without bound). The streaming face of `graft.dedup`: keys are
    * typically a delivery id or a content fingerprint
    * ([[graft.text.TextFunctions.fingerprint]]).
    */
  def dedupStream(
      events: DataFrame, tsCol: String, delay: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Batch sessionization via window functions: a session break is a
    * gap > `gapUs` between consecutive events of one user; session
    * number = running count of breaks. Same session semantics as the
    * stateful [[sessionize]], expressed as lag + running-sum windows so
    * it is plain ANSI SQL (DuckDB-oracle-checkable) and rides ONE
    * user-keyed shuffle that both window functions and the final
    * aggregate reuse.
    *
    * `tsUsCol` must be an integer microsecond column (events.ts is raw
    * INT64 nanos; pass `ts div 1000`) — integer arithmetic keeps the
    * gap predicate exact on both engines.
    */
  def sessionizeBatch(
      events: DataFrame, userCol: String, tsUsCol: String, idCol: String,
      gapUs: Long): DataFrame = {
    val byTime = Window.partitionBy(userCol)
      .orderBy(col(tsUsCol).asc, col(idCol).asc)
    events
      .withColumn("prev_ts", lag(col(tsUsCol), 1).over(byTime))
      .withColumn("brk",
        when(col("prev_ts").isNull ||
          col(tsUsCol) - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_no",
        sum("brk").over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_no"))
      .agg(
        min(col(tsUsCol)).as("session_start_us"),
        max(col(tsUsCol)).as("session_end_us"),
        count(lit(1)).as("n_events"))
  }

  /** Event-time windowed counts with late-data handling: the canonical
    * watermarked aggregation (tumbling window per event_type). Works
    * identically on a batch DataFrame (watermark is a no-op there) —
    * used by the oracle-checked batch query and the streaming spec.
    */
  def windowedEventCounts(
      events: DataFrame, window: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts_utc", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts_utc"), window),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
}
