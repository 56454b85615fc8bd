package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalTable

/** `spark.read.format("graft")`: manifest-resolved version reads with
  * Delta-style versionAsOf / timestampAsOf, delegating bytes to the
  * engine's parquet DSv2 (so pushdown survives the indirection).
  */
class GraftDataSourceSpec extends AnyFunSuite with SparkSpec {

  private def freshTable(): (IncrementalTable, String) = {
    val dir = Files.createTempDirectory("graft_dsv2_").toString + "/t"
    (new IncrementalTable(spark, dir), dir)
  }

  test("latest read, versionAsOf, and timestampAsOf resolve through manifests") {
    import spark.implicits._
    val (t, dir) = freshTable()
    t.writeSnapshot(Seq((1L, "v0")).toDF("id", "tag"))
    Thread.sleep(20)
    val tsBetween = System.currentTimeMillis()
    Thread.sleep(20)
    t.writeSnapshot(Seq((1L, "v1"), (2L, "v1")).toDF("id", "tag"))

    val latest = spark.read.format("graft").load(dir)
    assert(latest.count() === 2L)
    assert(latest.select("tag").distinct().as[String].collect().toSeq === Seq("v1"))

    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(dir)
    assert(v0.as[(Long, String)].collect().toSeq === Seq((1L, "v0")))

    val ts = spark.read.format("graft")
      .option("timestampAsOf", tsBetween.toString).load(dir)
    assert(ts.as[(Long, String)].collect().toSeq === Seq((1L, "v0")))
  }

  test("uncommitted version directories stay invisible") {
    import spark.implicits._
    val (t, dir) = freshTable()
    t.writeSnapshot(Seq((1L, "committed")).toDF("id", "tag"))
    // crashed writers: a staged directory that was never published, a
    // data file no manifest references, and a half-written manifest
    Seq((98L, "staged")).toDF("id", "tag").write.parquet(s"$dir/_stage/dead")
    Seq((99L, "orphan")).toDF("id", "tag").coalesce(1)
      .write.parquet(s"$dir/_stage/orphan")
    val orphan = new java.io.File(s"$dir/_stage/orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(orphan.toPath,
      java.nio.file.Paths.get(s"$dir/data/orphan-0.parquet"))
    Files.writeString(java.nio.file.Paths.get(
      s"$dir/_log/_tmp_00000000000000000001.json"), "{\"version\":1}")
    assert(t.latestVersion === Some(0L))
    val seen = spark.read.format("graft").load(dir)
    assert(seen.select("tag").as[String].collect().toSeq === Seq("committed"))
    assert(t.history().count() === 1L)
  }

  test("missing version and empty table fail loudly") {
    import spark.implicits._
    val (t, dir) = freshTable()
    assertThrows[Exception](spark.read.format("graft").load(dir).collect())
    t.writeSnapshot(Seq((1L, "x")).toDF("id", "tag"))
    assertThrows[Exception](
      spark.read.format("graft").option("versionAsOf", "7").load(dir).collect())
  }

  test("write path commits versions: overwrite, append, ignore, errorIfExists") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_w_").toString + "/t"
    Seq((1L, "a")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").save(dir)
    Seq((2L, "b")).toDF("id", "tag")
      .write.format("graft").mode("append").save(dir)
    val t = new IncrementalTable(spark, dir)
    assert(t.latestVersion === Some(1L))
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // ignore: no new version; errorIfExists: throws
    Seq((9L, "z")).toDF("id", "tag")
      .write.format("graft").mode("ignore").save(dir)
    assert(t.latestVersion === Some(1L))
    assertThrows[Exception](Seq((9L, "z")).toDF("id", "tag")
      .write.format("graft").mode("errorifexists").save(dir))
  }

  test("a save to a fresh path creates a table that time-travels and streams") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_fresh_").toString + "/t"
    Seq((1L, "a")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").save(dir)
    val t = new IncrementalTable(spark, dir)
    assert(t.exists && t.latestVersion === Some(0L))
    Seq((2L, "b")).toDF("id", "tag")
      .write.format("graft").mode("append").save(dir)
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // the connector-made table is a streaming source like any other
    val q = spark.readStream.format("graft").load(dir).writeStream
      .format("memory").queryName("graft_fresh_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(60000) finally q.stop()
    assert(spark.table("graft_fresh_stream").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b")))
    // replaceWhere needs an existing table: a fresh path fails loudly
    val fresh = Files.createTempDirectory("graft_dsv2_fresh_rw_").toString + "/t"
    val e = intercept[IllegalArgumentException](Seq((3L, "c")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").option("replaceWhere", "id = 3").save(fresh))
    assert(e.getMessage.contains("append first"), e.getMessage)
    assert(!new IncrementalTable(spark, fresh).exists)
  }

  test("reads incremental-manifest tables with the same time-travel options") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_inc_").toString + "/t"
    val it = new graft.lake.IncrementalTable(spark, dir)
    it.writeSnapshot(Seq((1L, "a")).toDF("id", "tag"))
    it.append(Seq((2L, "b")).toDF("id", "tag"))
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("writes to an incremental-layout table route through its manifest protocol") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_incw_").toString + "/t"
    val it = new graft.lake.IncrementalTable(spark, dir)
    it.writeSnapshot(Seq((1L, "a")).toDF("id", "tag"))
    // a save through the connector commits through the table's own
    // manifest protocol: one new version per save
    Seq((2L, "b")).toDF("id", "tag")
      .write.format("graft").mode("append").save(dir)
    assert(it.latestVersion === Some(1L))
    assert(spark.read.format("graft").load(dir)
      .as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    Seq((3L, "c")).toDF("id", "tag")
      .write.format("graft").mode("overwrite").save(dir)
    assert(it.latestVersion === Some(2L))
    assert(it.snapshot().as[(Long, String)].collect().toSeq === Seq((3L, "c")))
    // time travel still resolves across the connector's commits
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .count() === 2L)
    assertThrows[Exception](Seq((9L, "z")).toDF("id", "tag")
      .write.format("graft").mode("errorifexists").save(dir))
  }

  test("connector reads see the evolved schema; time travel keeps the written one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_evo_").toString + "/t"
    val it = new graft.lake.IncrementalTable(spark, dir)
    it.append(Seq((1L, "a")).toDF("id", "tag"))
    it.append(Seq((2L, "b", 0.5)).toDF("id", "tag", "score"))
    val latest = spark.read.format("graft").load(dir)
    assert(latest.columns.toSeq === Seq("id", "tag", "score"))
    val rows = latest.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getDouble(2) === 0.5)
    // explicit version: the schema its files were written with
    assert(spark.read.format("graft").option("versionAsOf", "0").load(dir)
      .columns.toSeq === Seq("id", "tag"))
  }

  test("catalog tables over graft paths: CREATE TABLE USING graft LOCATION") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dsv2_sql_").toString + "/t"
    val it = new graft.lake.IncrementalTable(spark, dir)
    it.append(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    spark.sql("DROP TABLE IF EXISTS graft_sql_t")
    spark.sql(s"CREATE TABLE graft_sql_t USING graft LOCATION '$dir'")
    try {
      assert(spark.sql("SELECT count(*) AS n FROM graft_sql_t").as[Long].head() === 2L)
      // commits made after table creation are visible (manifest-resolved)
      it.append(Seq((3L, "c")).toDF("id", "tag"))
      assert(spark.table("graft_sql_t").count() === 3L)
      assert(spark.sql("SELECT tag FROM graft_sql_t WHERE id = 3").as[String].head() === "c")
    } finally spark.sql("DROP TABLE IF EXISTS graft_sql_t")
  }

  test("predicate pushdown reaches the parquet scan through the connector") {
    import spark.implicits._
    val (t, dir) = freshTable()
    t.writeSnapshot((0L until 100L).map(i => (i, s"t$i")).toDF("id", "tag"))
    val q = spark.read.format("graft").load(dir).filter(col("id") > 90)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,90)"),
      s"filter not pushed through graft connector:\n$plan")
    assert(q.count() === 9L)
  }

  test("time-travel / streaming timestamps parse leniently (ISO-8601, bare dates)") {
    import graft.lake.IncrementalTable.parseTimestampMillis
    val ref = java.sql.Timestamp.valueOf("2026-01-02 03:04:05").getTime
    assert(parseTimestampMillis("2026-01-02 03:04:05") === ref)
    assert(parseTimestampMillis("2026-01-02T03:04:05") === ref)
    assert(parseTimestampMillis("2026-01-02") ===
      java.sql.Timestamp.valueOf("2026-01-02 00:00:00").getTime)
    assert(parseTimestampMillis("1700000000000") === 1700000000000L)
    assert(parseTimestampMillis(" 2026-01-02T03:04:05 ") === ref)
    intercept[IllegalArgumentException](parseTimestampMillis("not-a-time"))
  }
}
