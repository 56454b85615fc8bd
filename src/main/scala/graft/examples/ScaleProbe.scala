package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling evidence for SCALE.md: runs the near-dup pipeline on 1×/2×/
  * 4×/8× replicas of the sf0.1 corpus (each replica's doc ids offset;
  * replicas are exact dups of the originals, so pair count grows
  * quadratically in K per cluster while the corpus grows linearly —
  * a deliberately adversarial dedup load), and compares full-rewrite
  * vs bucketed SCD apply on an events-derived dimension.
  *
  * Run: sbt "runMain graft.examples.ScaleProbe [sfDir]"
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint()
    val n = docs.count()

    println(f"[scale] corpus replication: minhash pairs + clusters")
    Seq(1, 2, 4, 8).foreach { k =>
      val corpus = (0 until k)
        .map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000L)))
        .reduce(_ unionByName _)
      val (pairs, tPairs) = time {
        graft.dedup.MinHashLSH.nearDuplicates(
          corpus, "doc_id", "text", 3, 8, 4, 3, 10).count()
      }
      val (clustered, tClust) = time {
        graft.dedup.Clusters.connectedComponents(
          graft.dedup.MinHashLSH.nearDuplicates(
            corpus, "doc_id", "text", 3, 8, 4, 3, 10)).count()
      }
      println(f"[scale] x$k%-2d docs=${k * n}%7d pairs=$pairs%8d  " +
        f"pairs_s=$tPairs%6.1f  clusters=$clustered%7d cluster_s=$tClust%6.1f")
    }

    println("[scale] SCD apply: full rewrite vs bucketed (touched buckets only)")
    import java.time.Instant
    val cfg = graft.scd.ScdConfig(
      pkCols = Seq("user_id", "event_type"),
      scdKeyCols = Seq("value_cents"),
      selectCols = Some(Seq("user_id", "event_type", "value_cents", "props")),
      effectiveFromCol = Some("ts_utc"),
      clock = () => Instant.parse("2025-06-01T00:00:00Z"))
    val day1 = graft.ops.ScdEventQueries.dimSource(spark, sfDir, "2024-01-01")
      .localCheckpoint()
    // a small incremental: 20 keys change
    val day2small = graft.ops.ScdEventQueries.dimSource(spark, sfDir, "2024-01-02")
      .filter(col("user_id") < 20).localCheckpoint()
    val schema = org.apache.spark.sql.types.StructType(
      day1.drop("ts_utc").schema.fields ++ graft.scd.ScdConfig.SystemCols.map(c =>
        org.apache.spark.sql.types.StructField(c,
          if (c == "record_status" || c.endsWith("_key"))
            org.apache.spark.sql.types.StringType
          else org.apache.spark.sql.types.TimestampType)))

    // one bucket = the whole table rewritten every batch (the
    // full-rewrite foil); more buckets = only the touched ones
    def drive(table: graft.lake.IncrementalScdTable, label: String,
        d1: DataFrame, d2: DataFrame): Unit = {
      table.create(schema)
      table.applyScd(d1, cfg)
      val (_, t) = time {
        table.applyScd(d2,
          cfg.copy(clock = () => Instant.parse("2025-06-02T00:00:00Z")))
      }
      println(f"[scale] $label%-18s incremental_apply_s=$t%6.2f rows=${table.snapshot().count()}")
    }
    val base = java.nio.file.Files.createTempDirectory("scale_scd").toString
    drive(new graft.lake.IncrementalScdTable(spark, s"$base/full",
      numBuckets = 1), "full-rewrite", day1, day2small)
    drive(new graft.lake.IncrementalScdTable(spark, s"$base/inc",
      numBuckets = 64), "incremental-64", day1, day2small)

    // the crossover: a 50x dimension with the SAME small batch — full
    // rewrite pays O(table), incremental pays O(touched buckets)
    val day1big = (0 until 50)
      .map(i => day1.withColumn("user_id", col("user_id") + lit(i * 100000L)))
      .reduce(_ unionByName _).localCheckpoint()
    println(s"[scale] 50x dimension (${day1big.count()} keys), same 20-key batch")
    drive(new graft.lake.IncrementalScdTable(spark, s"$base/full50",
      numBuckets = 1), "full-rewrite-50x", day1big, day2small)
    drive(new graft.lake.IncrementalScdTable(spark, s"$base/inc50",
      numBuckets = 256), "incremental-256-50x", day1big, day2small)

    // ---- stats-based data skipping: selective scans on a clustered
    // incremental table read O(matching files), not O(table) ----
    println("[scale] data skipping: unclustered vs range-clustered scans")
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_shipdate", "l_extendedprice")
    val skipDir = java.nio.file.Files.createTempDirectory("scale_skip").toString
    val t = new graft.lake.IncrementalTable(spark, s"$skipDir/t")
    // ingest as 16 interleaved appends (stats useless: every file spans
    // the full date range), then cluster by ship date
    (0 until 16).foreach(i =>
      t.append(li.filter(pmod(col("l_orderkey"), lit(16)) === i).coalesce(1)))
    val pred = col("l_shipdate") >= lit("1999-06-01").cast("timestamp") &&
      col("l_shipdate") < lit("1999-07-01").cast("timestamp")
    def probeScan(label: String): Unit = {
      val all = t.files(t.latestVersion.get)
      val kept = t.prunedFiles(all, Seq(pred))
      val (rows, s) = time(t.scan(pred).count())
      println(f"[scale] $label%-14s files=${kept.size}%3d/${all.size}%3d " +
        f"rows=$rows%8d scan_s=$s%6.2f")
    }
    probeScan("interleaved")
    t.cluster(16, "l_shipdate")
    probeScan("clustered")

    // streaming read: batch cost tracks the APPEND, not the table
    println("[scale] incremental commit-log streaming: per-batch delta files")
    val last = t.latestVersion.get
    t.append(li.limit(1000).coalesce(1))
    val deltaFiles = t.files(last + 1).toSet -- t.files(last).toSet
    println(s"[scale] one 1000-row append after ${t.files(last).size}-file table " +
      s"-> stream batch reads ${deltaFiles.size} file(s)")

    spark.stop()
  }
}
