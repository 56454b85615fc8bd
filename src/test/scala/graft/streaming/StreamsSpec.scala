package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.scd.ScdConfig

class StreamsSpec extends AnyFunSuite with SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked windowed aggregation over a micro-batched stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts_utc", "event_type", "value")
    val agg = Streams.windowedEventCounts(events, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    try {
      input.addData(
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:45:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      input.addData((ts("2024-01-01 10:59:00"), "click", 4.0)) // late but in watermark
      q.processAllAvailable()
      val out = spark.table("win_counts")
        .orderBy("window_start", "event_type").collect()
      assert(out.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq === Seq(
        (ts("2024-01-01 10:00:00"), "click", 3L, 7.0),
        (ts("2024-01-01 11:00:00"), "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches within the window, drops outside") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[(Timestamp, Long, String)]
    val views = MemoryStream[(Timestamp, Long, String)]
    val joined = Streams.intervalJoin(
      clicks.toDF().toDF("c_ts", "user_id", "click_id"),
      views.toDF().toDF("v_ts", "user_id", "view_id"),
      keyCol = "user_id", leftTs = "c_ts", rightTs = "v_ts",
      before = "'10' MINUTE", after = "'0' MINUTE", watermark = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      views.addData(
        (ts("2024-01-01 10:00:00"), 1L, "v1"),   // 5 min before click: match
        (ts("2024-01-01 09:40:00"), 1L, "v2"),   // 25 min before: outside
        (ts("2024-01-01 10:00:00"), 2L, "v3"))   // other user
      clicks.addData((ts("2024-01-01 10:05:00"), 1L, "c1"))
      q.processAllAvailable()
      val out = spark.table("ssj").select("click_id", "view_id")
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(out === Set(("c1", "v1")))
    } finally q.stop()
  }

  test("dedupStream drops re-deliveries within the watermark, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Timestamp, Long, String)]
    val events = input.toDF().toDF("ts_utc", "event_id", "payload")
    val deduped = Streams.dedupStream(events, "ts_utc", "10 minutes", Seq("event_id"))
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, "a"),
        (ts("2024-01-01 10:00:05"), 2L, "b"))
      q.processAllAvailable()
      // re-delivery of key 1 in a later micro-batch, still in watermark
      input.addData(
        (ts("2024-01-01 10:01:00"), 1L, "a-dup"),
        (ts("2024-01-01 10:01:30"), 3L, "c"))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").orderBy("event_id").collect()
      assert(out.map(r => (r.getLong(1), r.getString(2))).toSeq ===
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions at the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[SessionEvent]
    val sessions = Streams.sessionize(input.toDS(), gapMs = 60000) // 1-min gap
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: two events 30s apart = one session; user 2: one event
      input.addData(
        SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, ts("2024-01-01 10:00:30"), 2.0),
        SessionEvent(2L, ts("2024-01-01 10:00:10"), 5.0))
      q.processAllAvailable()
      // advance watermark far past both sessions' gap timeouts
      input.addData(SessionEvent(3L, ts("2024-01-01 10:30:00"), 0.0))
      q.processAllAvailable()
      input.addData(SessionEvent(3L, ts("2024-01-01 11:30:00"), 0.0))
      q.processAllAvailable()
      val out = spark.table("sessions")
        .orderBy("user_id", "session_start").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getLong(3), r.getDouble(4)))
      assert(out.toSeq.take(2) === Seq(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:30"), 2L, 3.0),
        (2L, ts("2024-01-01 10:00:10"), ts("2024-01-01 10:00:10"), 1L, 5.0)))
    } finally q.stop()
  }

  test("sessionize splits on gaps within one batch (batch-mode semantics)") {
    import spark.implicits._
    val events = Seq(
      SessionEvent(7L, ts("2024-01-01 09:00:00"), 1.0),
      SessionEvent(7L, ts("2024-01-01 09:00:20"), 1.0),
      SessionEvent(7L, ts("2024-01-01 09:10:00"), 9.0), // >1min gap → closes first
      SessionEvent(7L, ts("2024-01-01 09:20:00"), 4.0)  // closes second, stays open
    ).toDS()
    val out = Streams.sessionize(events, gapMs = 60000).collect()
    assert(out.toSeq === Seq(
      UserSession(7L, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:00:20"), 2L, 2.0),
      UserSession(7L, ts("2024-01-01 09:10:00"), ts("2024-01-01 09:10:00"), 1L, 9.0)))
  }

  test("incremental SCD sink: a streamed dimension maintained at " +
    "O(touched buckets) per micro-batch — SCD2 semantics, untouched " +
    "buckets carried, versions time-travel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = Files.createTempDirectory("iscd_stream").toString
    val table = new graft.lake.IncrementalScdTable(spark, s"$dir/dim",
      numBuckets = 4)
    table.create(StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)) ++
      ScdConfig.SystemCols.map(c => StructField(c,
        if (c == "record_status" || c.endsWith("_key")) StringType
        else TimestampType))))
    val cfg = ScdConfig(pkCols = Seq("k"), scdKeyCols = Seq("v"),
      selectCols = Some(Seq("k", "v")))
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("k", "v").writeStream
      .foreachBatch(Streams.incrementalScdSink(table, cfg,
        Instant.parse("2025-06-01T00:00:00Z")))
      .start()
    try {
      input.addData((1L to 8L).map(k => (k, s"v$k")): _*)
      q.processAllAvailable()
      assert(table.snapshot().count() === 8)
      val v0Files = table.table.files(table.table.latestVersion.get).toSet
      input.addData((1L, "CHANGED")) // one key → one touched bucket
      q.processAllAvailable()
      val snap = table.snapshot()
      assert(snap.count() === 9)
      assert(snap.filter("record_status = 'A' and effective_to is null").count() === 8)
      val k1 = snap.filter("k = 1").orderBy("effective_from")
        .select("v", "record_status").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(k1.toSeq === Seq(("v1", "I"), ("CHANGED", "A")))
      // untouched buckets' files carried forward, not rewritten
      val v1Files = table.table.files(table.table.latestVersion.get).toSet
      assert(v0Files.intersect(v1Files).nonEmpty,
        "untouched bucket files must carry over across micro-batches")
      // each batch is one commit; the first is time-travelable
      assert(table.snapshotAt(0L).count() === 8)
    } finally q.stop()
  }

  test("incremental-table append sink: one version per batch, replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_sink_").toString + "/t"
    val table = new graft.lake.IncrementalTable(spark, dir)
    val sink = Streams.incrementalAppendSink(table)
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "tag").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) => sink(b, id) }
      .start()
    try {
      input.addData((1L, "a")); q.processAllAvailable()
      input.addData((2L, "b"), (3L, "c")); q.processAllAvailable()
      assert(table.latestVersion === Some(1L))
      assert(table.snapshot().count() === 3L)
      // simulate a failure replay of batch 1: must not double-commit
      sink(Seq((2L, "b"), (3L, "c")).toDF("id", "tag"), 1L)
      assert(table.latestVersion === Some(1L))
      assert(table.snapshot().count() === 3L)
      // read back through the connector, time-traveled
      assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
        .count() === 1L)
    } finally q.stop()
  }

  test("incremental append sink survives a vacuumed history") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("inc_sink_vac_").toString + "/t"
    val table = new graft.lake.IncrementalTable(spark, dir)
    val sink = Streams.incrementalAppendSink(table)
    sink(Seq((1L, "a")).toDF("id", "tag"), 0L)
    sink(Seq((2L, "b")).toDF("id", "tag"), 1L)
    sink(Seq((3L, "c")).toDF("id", "tag"), 2L)
    table.vacuum(keepLast = 2) // manifest for v0 is gone
    // new batch must not throw walking the vacuumed history
    sink(Seq((4L, "d")).toDF("id", "tag"), 3L)
    assert(table.latestVersion === Some(3L))
    assert(table.snapshot().count() === 4L)
    // replay of a surviving batch still no-ops
    sink(Seq((3L, "c")).toDF("id", "tag"), 2L)
    assert(table.latestVersion === Some(3L))
  }
}
