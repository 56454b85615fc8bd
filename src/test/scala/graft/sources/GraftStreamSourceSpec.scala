package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalTable

/** `spark.readStream.format("graft")`: tailing the incremental table's
  * commit log as a micro-batch stream — append deltas only, loud
  * failure on rewrites, checkpoint resume, startingVersion.
  */
class GraftStreamSourceSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): (IncrementalTable, String) = {
    val dir = Files.createTempDirectory("graft_stream_").toString + "/t"
    import spark.implicits._
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    (t, dir)
  }

  private def runToMemory(dir: String, sinkName: String,
      options: Map[String, String] = Map.empty) = {
    val reader = options.foldLeft(spark.readStream.format("graft")) {
      case (r, (k, v)) => r.option(k, v)
    }
    reader.load(dir).writeStream.format("memory")
      .queryName(sinkName).trigger(Trigger.AvailableNow()).start()
  }

  test("streams existing data, then per-commit deltas; offsets are versions") {
    import spark.implicits._
    val (t, dir) = freshTable()
    t.append(Seq((3L, "c")).toDF("id", "tag"))

    val q1 = runToMemory(dir, "s1")
    q1.awaitTermination(60000); q1.stop()
    assert(spark.table("s1").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))

    // new commits stream as deltas on a fresh pass
    t.append(Seq((4L, "d")).toDF("id", "tag"))
    val q2 = runToMemory(dir, "s2")
    q2.awaitTermination(60000); q2.stop()
    assert(spark.table("s2").count() === 4L)
  }

  test("startingTimestamp starts at the first commit at-or-after the instant") {
    import spark.implicits._
    val (t, dir) = freshTable() // v0: rows 1,2
    Thread.sleep(1100)
    val cut = System.currentTimeMillis()
    t.append(Seq((3L, "c")).toDF("id", "tag")) // v1, after the cut
    val q = runToMemory(dir, "sts",
      Map("startingTimestamp" -> cut.toString))
    q.awaitTermination(60000); q.stop()
    assert(spark.table("sts").as[(Long, String)].collect().toSet ===
      Set((3L, "c")), "only the post-timestamp commit should stream")
    // a timestamp before the first commit streams everything
    val q2 = runToMemory(dir, "sts2", Map("startingTimestamp" -> "0"))
    q2.awaitTermination(60000); q2.stop()
    assert(spark.table("sts2").count() === 3L)
    // a future timestamp streams nothing yet
    val q3 = runToMemory(dir, "sts3",
      Map("startingTimestamp" -> (System.currentTimeMillis() + 3600_000L).toString))
    q3.awaitTermination(60000); q3.stop()
    assert(spark.table("sts3").count() === 0L)
  }

  test("checkpoint resume delivers only versions after the last offset") {
    import spark.implicits._
    val (t, dir) = freshTable()
    val base = Files.createTempDirectory("graft_stream_ck_").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")

    def pass(): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    pass()
    assert(spark.read.parquet(out).count() === 2L)
    t.append(Seq((3L, "c")).toDF("id", "tag"))
    t.append(Seq((4L, "d")).toDF("id", "tag"))
    pass()
    // second pass resumed from the checkpointed version offset: the two
    // appended rows land exactly once, no re-delivery of v0
    assert(spark.read.parquet(out).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(spark.read.parquet(out).count() === 4L)
  }

  test("compaction is invisible to a resuming stream (datachange=false)") {
    import spark.implicits._
    val (t, dir) = freshTable()
    val base = Files.createTempDirectory("graft_stream_rw_").toString
    def pass(): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    pass() // checkpoint now holds version offset 0

    t.append(Seq((3L, "c")).toDF("id", "tag"))
    t.compact(targetFiles = 1) // removes the checkpointed version's files

    // resuming across the compaction: the appended row arrives exactly
    // once (from its ORIGINAL file — bytes outlive the manifest until
    // vacuum); the compacted files are skipped, not re-delivered
    pass()
    assert(spark.read.parquet(s"$base/out").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(spark.read.parquet(s"$base/out").count() === 3L)
  }

  test("a DATA-CHANGING rewrite fails the stream unless ignoreChanges") {
    import spark.implicits._
    val (t, dir) = freshTable()
    val base = Files.createTempDirectory("graft_stream_rw2_").toString
    def pass(): Unit = {
      val q = spark.readStream.format("graft").load(dir)
        .writeStream.format("parquet").option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000); q.stop()
    }
    pass() // checkpoint at v0
    t.writeSnapshot(Seq((9L, "z")).toDF("id", "tag"), operation = "overwrite")
    val err = intercept[Exception](pass())
    assert(err.getMessage != null)

    // ignoreChanges: rewritten files deliver as re-deliveries
    val q2 = runToMemory(dir, "w2", Map("ignoreChanges" -> "true"))
    q2.awaitTermination(60000); q2.stop()
    assert(spark.table("w2").as[(Long, String)].collect().toSet ===
      Set((9L, "z")))
  }

  test("startingVersion skips history; 'latest' streams only the future") {
    import spark.implicits._
    val (t, dir) = freshTable()            // v0: ids 1,2
    t.append(Seq((3L, "c")).toDF("id", "tag")) // v1
    t.append(Seq((4L, "d")).toDF("id", "tag")) // v2

    val q = runToMemory(dir, "sv", Map("startingVersion" -> "1"))
    q.awaitTermination(60000); q.stop()
    assert(spark.table("sv").as[(Long, String)].collect().toSet ===
      Set((3L, "c"), (4L, "d")))

    val qLatest = runToMemory(dir, "sl", Map("startingVersion" -> "latest"))
    qLatest.awaitTermination(60000); qLatest.stop()
    assert(spark.table("sl").count() === 0L)
    t.append(Seq((9L, "z")).toDF("id", "tag"))
    // 'latest' was resolved at source creation; a fresh pass with the
    // same option now starts after v3 — the new row needs its own pass
    val q3 = runToMemory(dir, "sl2", Map("startingVersion" -> "3"))
    q3.awaitTermination(60000); q3.stop()
    assert(spark.table("sl2").as[(Long, String)].collect().toSet ===
      Set((9L, "z")))
  }

  test("streaming runs through the DSv2 MicroBatchStream (not a v1 fallback)") {
    val (_, dir) = freshTable()
    val q = runToMemory(dir, "v2probe")
    q.awaitTermination(60000)
    val sources = q.recentProgress.flatMap(_.sources.map(_.description)).toSeq
    q.stop()
    assert(sources.nonEmpty && sources.forall(_.contains("GraftMicroBatchStream")),
      s"expected the DSv2 stream, saw: $sources")
  }

  test("streaming a plain parquet directory fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_pq_").toString + "/t"
    // parquet files but no commit log: there is no table to tail
    Seq((1L, "a")).toDF("id", "tag").write.parquet(dir)
    assertThrows[Exception](
      spark.readStream.format("graft").load(dir))
  }

  test("maxFilesPerTrigger chunks the backlog; AvailableNow still drains it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_rl_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    // four single-file versions = a 4-file backlog
    (1L to 4L).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "tag").coalesce(1)))

    val q = runToMemory(dir, "rl", Map("maxFilesPerTrigger" -> "1"))
    q.awaitTermination(60000)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    // the whole backlog arrives (AvailableNow pins the head and drains)
    assert(spark.table("rl").count() === 4L)
    // ...but in 1-file micro-batches, one per version, not one big gulp
    assert(dataBatches === 4, s"expected 4 rate-limited batches, got $dataBatches")

    // a fresh unlimited pass takes the backlog in a single batch
    val q2 = runToMemory(dir, "rl_all")
    q2.awaitTermination(60000)
    val oneBatch = q2.recentProgress.count(_.numInputRows > 0)
    q2.stop()
    assert(spark.table("rl_all").count() === 4L && oneBatch === 1)
  }

  test("readChangeFeed streams the full CDF: inserts, delete, update images") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val (t, dir) = freshTable()                       // v0: (1,a), (2,b)
    t.append(Seq((3L, "c")).toDF("id", "tag"))        // v1: insert (3,c)
    t.deleteWhere(col("id") === 1L)                   // v2: delete (1,a)
    t.updateWhere(col("id") === 2L, Map("tag" -> lit("B"))) // v3: b -> B

    val q = runToMemory(dir, "cdf", Map("readChangeFeed" -> "true"))
    q.awaitTermination(60000); q.stop()
    val rows = spark.table("cdf")
      .select("id", "tag", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(rows === Set(
      (1L, "a", "insert", 0L), (2L, "b", "insert", 0L),
      (3L, "c", "insert", 1L),
      (1L, "a", "delete", 2L),
      (2L, "b", "update_preimage", 3L), (2L, "B", "update_postimage", 3L)))

    // a deletion-vector delete feeds through CDC too (no file rewritten)
    t.deleteVector(col("id") === 3L)                  // v4
    val q2 = runToMemory(dir, "cdf2",
      Map("readChangeFeed" -> "true", "startingVersion" -> "4"))
    q2.awaitTermination(60000); q2.stop()
    val dv = spark.table("cdf2").select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(dv === Set((3L, "delete", 4L)))

    // batch reads reject the streaming-only option
    val err = intercept[Exception](
      spark.read.format("graft").option("readChangeFeed", "true").load(dir).collect())
    assert(err.getMessage.contains("STREAMING") ||
      Option(err.getCause).exists(_.getMessage.contains("STREAMING")))

    // compaction inside the CDF range is skipped (datachange=false):
    // the feed crosses it without failing or re-delivering
    t.compact(targetFiles = 1)                        // v5: no row changes
    t.append(Seq((7L, "g")).toDF("id", "tag"))        // v6
    val q3 = runToMemory(dir, "cdf3",
      Map("readChangeFeed" -> "true", "startingVersion" -> "5"))
    q3.awaitTermination(60000); q3.stop()
    val tail = spark.table("cdf3").select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(tail === Set((7L, "insert", 6L)))
  }

  test("writeStream.format(graft): exactly-once streaming append sink") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Files.createTempDirectory("graft_sink_").toString
    val (dir, ckpt) = (s"$base/t", s"$base/ckpt")

    val mem = MemoryStream[(Long, String)]
    mem.addData((1L, "a"), (2L, "b"))
    def run(): Unit = {
      val q = mem.toDF().toDF("id", "tag").writeStream
        .format("graft").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start(dir)
      q.awaitTermination(60000); q.stop()
    }
    run()
    val t = new IncrementalTable(spark, dir)
    assert(t.snapshot().count() === 2L)
    assert(t.operationAt(t.latestVersion.get).startsWith("stream_append[batch="))

    // second pass: only new data commits; replays of batch 0 no-op
    mem.addData((3L, "c"))
    run()
    assert(t.snapshot().select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 2L, 3L))
    // exactly-once across a checkpoint-less replay of the same batch:
    // driving addBatch directly with an already-committed id no-ops
    val sink = new GraftDataSource().createSink(spark.sqlContext,
      Map("path" -> dir), Seq.empty,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0L, Seq((9L, "dup")).toDF("id", "tag"))
    assert(t.snapshot().count() === 3L)

    // the table the sink built is a first-class graft table: readable
    // through the connector, streamable, time-travelable
    assert(spark.read.format("graft").load(dir).count() === 3L)
  }

  test("a deletion-vector commit fails the append stream unless ignoreChanges") {
    import spark.implicits._
    val (t, dir) = freshTable()
    t.deleteVector(org.apache.spark.sql.functions.col("id") === 1L)
    // the guard fires as early as stream resolution
    val err = intercept[Exception](runToMemory(dir, "dvs"))
    assert(err.getMessage.contains("deletion vectors"))
    // ignoreChanges streams the inserts only (deletes aren't delivered)
    val q2 = runToMemory(dir, "dvs2", Map("ignoreChanges" -> "true"))
    q2.awaitTermination(60000); q2.stop()
    assert(spark.table("dvs2").count() === 2L)
  }
}
