package graft.examples

import java.time.Instant

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake.IncrementalScdTable
import graft.scd.ScdConfig
import graft.scd.ScdConfig.SystemCols

/** Usage demo of the SCD engine against the driver testdata: treats the
  * `events` table as an incremental feed for a (user_id, event_type)
  * dimension tracking `value` as the SCD2 column (FIXTURES.md §2).
  *
  * Run: sbt "runMain graft.examples.ScdDemo [sfDir] [outDir]"
  */
object ScdDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir =
      if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("scd_demo").toString
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val events = graft.Tables.events(spark, sfDir)
    // one row per key per day: the latest event that day
    val daily = events
      .withColumn("day", to_date(col("ts_utc")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "event_type", "day")
          .orderBy(col("ts").desc)))
      .filter(col("rn") === 1)
    val days = daily.select("day").distinct()
      .orderBy("day").limit(3).collect().map(_.getDate(0))

    // start from a clean slate: re-applying the fixed demo clocks onto a
    // previous run's state would violate applyScd's forward-moving-clock
    // precondition and fabricate duplicate active rows
    val tableDir = java.nio.file.Paths.get(outDir, "user_event_dim")
    if (java.nio.file.Files.exists(tableDir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tableDir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    val table = new IncrementalScdTable(spark, tableDir.toString, numBuckets = 8)
    val cfg = ScdConfig(
      pkCols = Seq("user_id", "event_type"),
      scdKeyCols = Seq("value"),
      selectCols = Some(Seq("user_id", "event_type", "value", "props")),
      effectiveFromCol = Some("ts_utc"),
      clock = () => Instant.parse("2025-06-01T00:00:00Z"))

    days.zipWithIndex.foreach { case (day, i) =>
      val batch = daily.filter(col("day") === lit(day))
        .select("user_id", "event_type", "value", "props", "ts_utc")
      if (!table.exists) {
        val schema = org.apache.spark.sql.types.StructType(
          batch.drop("ts_utc").schema.fields ++
            graft.scd.ScdConfig.SystemCols.map(c =>
              org.apache.spark.sql.types.StructField(c,
                if (c == "record_status" || c.endsWith("_key"))
                  org.apache.spark.sql.types.StringType
                else org.apache.spark.sql.types.TimestampType)))
        table.create(schema)
      }
      table.applyScd(batch,
        cfg.copy(clock = () => Instant.parse(f"2025-06-0${i + 1}T00:00:00Z")))
      // the latest commit: the `history(1)` surface of the reference
      // (scd_handler.py:54-55)
      println(s"--- after batch $day: rows=${table.snapshot().count()} " +
        s"commit=${table.table.history().take(1).headOption.getOrElse("none")}")
    }

    val dim = table.snapshot()
    println(s"total rows: ${dim.count()}")
    println(s"active rows: ${dim.filter("record_status = 'A' and effective_to is null").count()}")
    println("sample version chain (a key with >1 version):")
    val versioned = dim.groupBy("user_id", "event_type").count().filter("count > 1").limit(1)
    versioned.join(dim, Seq("user_id", "event_type"))
      .select(("user_id" +: "event_type" +: "value" +: SystemCols.filterNot(_.endsWith("_key"))).map(col): _*)
      .orderBy("effective_from")
      .show(10, truncate = false)
    spark.stop()
  }
}
