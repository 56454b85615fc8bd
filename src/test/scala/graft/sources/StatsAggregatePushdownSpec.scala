package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.lake.IncrementalTable

/** Metadata-only aggregate pushdown: a global count(*)/count(col)/
  * min/max over an unfiltered graft scan is answered from the per-file
  * stats in the manifest and planned as a driver-local one-row scan —
  * zero tasks, zero data files read. Everything doubtful falls back to the
  * real scan with identical results.
  */
class StatsAggregatePushdownSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** 3-file table: ids 0-299, v null for id % 3 == 0, a date column. */
  private def builtTable(): String = {
    val dir = Files.createTempDirectory("aggpd_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    (0 until 3).foreach { i =>
      val lo = i * 100
      val df = (lo until lo + 100).map { id =>
        (id.toLong,
          if (id % 3 == 0) None else Some(id.toLong * 2),
          java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(id)),
          s"p$id")
      }.toDF("id", "v", "d", "payload")
      t.append(df.coalesce(1))
    }
    dir
  }

  private def planOf(df: DataFrame): SparkPlan = {
    df.collect() // finalize any adaptive plan before inspecting
    def fin(p: SparkPlan): SparkPlan = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    fin(df.queryExecution.executedPlan)
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = {
      out += n
      val kids = n match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      kids.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  private def isMetadataOnly(df: DataFrame): Boolean = {
    val ns = nodes(planOf(df))
    ns.exists(_.isInstanceOf[LocalTableScanExec]) &&
      !ns.exists(_.isInstanceOf[BatchScanExec])
  }

  private def scansFiles(df: DataFrame): Boolean =
    nodes(planOf(df)).exists(_.isInstanceOf[BatchScanExec])

  test("global count/min/max/count(col) answered metadata-only, exactly") {
    val dir = builtTable()
    val q = spark.read.format("graft").load(dir)
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"),
        count("v").as("nv"), min("d").as("dmn"), max("d").as("dmx"))
    assert(isMetadataOnly(q), "expected a driver-local stats answer")
    val r = q.collect().head
    assert(r.getLong(0) === 300L)
    assert(r.getLong(1) === 0L && r.getLong(2) === 299L)
    assert(r.getLong(3) === 200L) // 100 of 300 ids are %3==0 -> null v
    assert(r.getDate(4) === java.sql.Date.valueOf("2026-01-01"))
    assert(r.getDate(5) === java.sql.Date.valueOf("2026-10-27"))
    // foil: same aggregate with pushdown off
    spark.conf.set("spark.graft.aggregatePushdown.enabled", "false")
    try {
      val foil = spark.read.format("graft").load(dir)
        .agg(count(lit(1)), min("id"), max("id"), count("v"), min("d"), max("d"))
      assert(scansFiles(foil))
      assert(foil.collect().head === r)
    } finally spark.conf.unset("spark.graft.aggregatePushdown.enabled")
  }

  test("min over a column with an all-null file stays pushed and exact") {
    val dir = Files.createTempDirectory("aggpd_").toString + "/t"
    val t = new IncrementalTable(spark, dir)
    t.append(Seq((1L, Some(10L)), (2L, Some(20L))).toDF("id", "v").coalesce(1))
    t.append(Seq((3L, None: Option[Long]), (4L, None: Option[Long]))
      .toDF("id", "v").coalesce(1))
    val q = spark.read.format("graft").load(dir)
      .agg(min("v").as("mn"), max("v").as("mx"), count("v").as("nv"))
    assert(isMetadataOnly(q))
    val r = q.collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 20L && r.getLong(2) === 2L)
  }

  test("WHERE clause falls back to a real scan with equal results") {
    val dir = builtTable()
    val q = spark.read.format("graft").load(dir)
      .filter($"id" >= 100).agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(scansFiles(q))
    val r = q.collect().head
    assert(r.getLong(0) === 200L && r.getLong(1) === 299L)
  }

  test("string bounds are never pushed; string counts are") {
    val dir = builtTable()
    val mn = spark.read.format("graft").load(dir).agg(min("payload"))
    assert(scansFiles(mn))
    assert(mn.collect().head.getString(0) === "p0")
    val cn = spark.read.format("graft").load(dir).agg(count("payload"))
    assert(isMetadataOnly(cn))
    assert(cn.collect().head.getLong(0) === 300L)
  }

  test("grouped aggregation is not pushed") {
    val dir = builtTable()
    val q = spark.read.format("graft").load(dir)
      .groupBy($"id" % 2).agg(count(lit(1)))
    assert(scansFiles(q))
    assert(q.collect().map(_.getLong(1)).sum === 300L)
  }

  test("a stats-less file disables the answer, never corrupts it") {
    val dir = Files.createTempDirectory("aggpd_").toString + "/t"
    new IncrementalTable(spark, dir)
      .append(Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    new IncrementalTable(spark, dir, collectStats = false)
      .append(Seq((3L, "c")).toDF("id", "s").coalesce(1))
    val q = spark.read.format("graft").load(dir).agg(count(lit(1)).as("n"))
    assert(scansFiles(q))
    assert(q.collect().head.getLong(0) === 3L)
  }

  test("time travel answers THAT version's snapshot metadata-only") {
    val dir = builtTable() // 3 appends -> versions 0,1,2
    val q = spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .agg(count(lit(1)).as("n"), max("id").as("mx"))
    assert(isMetadataOnly(q))
    val r = q.collect().head
    assert(r.getLong(0) === 200L && r.getLong(1) === 199L)
  }

  test("catalog SQL count(*) is metadata-only") {
    val dir = Files.createTempDirectory("aggpd_cat_").toString
    new IncrementalTable(spark, s"$dir/t")
      .append((0 until 50).map(i => (i.toLong, s"x$i")).toDF("id", "s"))
    val cat = s"aggpd${Integer.toHexString(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", dir)
    try {
      val q = spark.sql(s"SELECT count(*) AS n, min(id) AS mn FROM $cat.t")
      assert(isMetadataOnly(q))
      val r = q.collect().head
      assert(r.getLong(0) === 50L && r.getLong(1) === 0L)
    } finally {
      spark.conf.unset(s"spark.sql.catalog.$cat")
      spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
    }
  }
}
