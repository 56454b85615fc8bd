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

  /** Exactly-once STREAMING dedup over any [[graft.dedup.DedupIndex]]:
    * each micro-batch is deduped against the persisted index, its
    * per-unit decisions appended to `decisions`, and its kept units
    * admitted — the continuous-ingest form of the batch
    * `*_dedup_incremental` arcs.
    *
    * Idempotence is layered with the DECISIONS COMMIT FIRST as the
    * anchor: `dedupBatch` has no side effects, so a crash before the
    * decisions commit replays the whole unit against an UNCHANGED
    * index; the `<idx.streamTag>[batch=N]` watermark then freezes the
    * kept set, and the admit — which runs AFTER that commit and
    * OUTSIDE its gate on every delivery — replays from the frozen rows
    * under the index's own per-table admit watermarks (candidate table
    * last, so half-admitted units stay invisible to matching) until it
    * lands. A crash at ANY point therefore converges to exactly the
    * first-committed decisions and exactly one admitted copy of their
    * kept units — the kept set can never shift on replay, because
    * nothing ever re-runs `dedupBatch` after an admit. (Admitting
    * first would leave a window: a crash between the two, and the
    * replayed dedupBatch could re-split a component whose anchor is now
    * indexed, while the admit watermark refuses the new kept set.)
    *
    * CLIP ATOMICITY: an index that decides per clip from unit rows
    * (`idx.decidesPerClip`, [[graft.dedup.SignatureDedupIndex]]) would
    * judge a clip whose units straddle a micro-batch boundary fragment
    * by fragment, each fragment falling under `minMatched` and the clip
    * accreting conflicting decision rows. The stream must emit every
    * clip's unit rows inside ONE micro-batch (natural when the source
    * row IS a clip and units explode inside the batch, the
    * [[graft.multimodal.VideoDedup.frameHashDf]] shape; otherwise
    * aggregate units to clips upstream). The sink ENFORCES it: a fresh
    * batch whose clip ids already carry a decision from a PRIOR batch
    * fails loudly, naming the clips, before any decision or admit
    * lands — one pruned probe of the decisions table against the
    * batch's broadcast clip ids (a replayed batch skips it on the
    * watermark, since its own ids are legitimately present).
    *
    * `maintainEvery` bin-packs the small-file tails of every index
    * table and of `decisions` every N batches. The compactions commit
    * datachange=false, so CDF consumers of the decisions table cross
    * them untouched, and a crash between them just leaves work for the
    * next cadence hit (compactSmall is content-preserving).
    */
  def dedupSink(idx: graft.dedup.DedupIndex,
      decisions: graft.lake.IncrementalTable,
      maintainEvery: Int = 0): (DataFrame, Long) => Unit = {
    val Op = s"""${idx.streamTag}\\[batch=(\\d+)\\]""".r
    (batch, batchId) =>
      if (!batch.isEmpty) {
        val fresh: Option[DataFrame] =
          if (decisions.latestOpId(Op).exists(batchId <= _)) None
          else {
            if (idx.decidesPerClip && decisions.exists) {
              val ic = idx.idCol
              val ids = batch.select(col(ic))
              val prior = graft.dedup.DedupIndex.prunedScan(decisions, ic,
                  graft.dedup.DedupIndex.sampleKeys(ids))
                .filter(col("batch") < batchId)
                .join(broadcast(ids.distinct()), Seq(ic), "left_semi")
                .limit(5).collect().map(_.get(0))
              require(prior.isEmpty,
                s"dedupSink[batch=$batchId]: clip(s) " +
                  s"${prior.mkString(", ")} already decided in a prior " +
                  "batch — this index decides per clip, so every clip's " +
                  "unit rows must arrive inside ONE micro-batch " +
                  "(clip-atomicity contract); aggregate units to clips " +
                  "upstream of the sink")
            }
            val d = idx.dedupBatch(batch)
            val rows = d.withColumn("batch", lit(batchId))
            decisions.commitFiles(decisions.stage(rows), Set.empty,
              s"${idx.streamTag}[batch=$batchId]", schema = Some(rows.schema))
            Some(d)
          }
        // admit from the frozen rows: every dedupBatch returns
        // materialized decisions (a localCheckpoint, or a local relation
        // for a small batch decided on the driver), so the in-hand frame
        // IS what was just committed — no re-scan of the growing
        // decisions table per batch; the stored rows only on replay
        val frozen = fresh.getOrElse(decisions.snapshot()
          .filter(col("batch") === batchId).drop("batch"))
        idx.admitIdempotent(batch, frozen, batchId)
        if (maintainEvery > 0 && batchId > 0 && batchId % maintainEvery == 0)
          (idx.indexTables.map(_._1) :+ decisions).foreach(_.compactSmall())
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
