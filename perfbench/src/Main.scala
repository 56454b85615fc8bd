package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One operation of a round. `run` makes the call into the program
  * (timed) and returns the untimed follow-up: it checks the result
  * against the model and advances the model. An operation that is not
  * `scored` is attempted and may fail, but its time enters no metric.
  */
final case class Op(write: Boolean, label: String, rows: Long, run: () => () => Unit,
    scored: Boolean = true)

/** A closed-loop workload driven by one client. */
trait Workload {
  /** Generate the inputs and bootstrap the tables under `dir`. */
  def setup(dir: String): Unit

  /** Operations run before the timed phase, until their times level off. */
  def warmup(): Iterator[Op]

  /** The next round: the same operations in the same order every time.
    * An operation may be built only once the ones before it have run and
    * been checked.
    */
  def round(): Iterator[Op]

  /** Checks of the final state against the model (untimed). */
  def finish(): Unit

  /** Directories holding the measured tables. */
  def tableRoots: Seq[String]

  /** Rows in the latest version of the measured tables. */
  def latestRows(): Long

  /** Layer gauges read once at the end of a traced run. */
  def endGauges(): Map[String, Double]
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    runDir: String, cores: Int)

object Main {
  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val spark = Session.start(a)
    log(f"session ready after ${(System.nanoTime() - entryNs) / 1e9}%.1f s")
    tracer.install(spark)
    val tables = new File(a.runDir, "tables").getPath
    try {
      val result = run(spark, a, tracer, tables, entryNs)
      println(result)
    } finally {
      val s0 = System.nanoTime()
      spark.stop()
      deleteTree(new File(tables))
      log(f"stop: ${(System.nanoTime() - s0) / 1e9}%.1f s, " +
        f"${(System.nanoTime() - entryNs) / 1e9}%.1f s after entry")
    }
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("run-dir"), cores)
  }

  def workload(name: String, spark: SparkSession, seed: Long, tracer: Tracer): Workload =
    name match {
      case "scd_daily" => new ScdDaily(spark, seed, tracer)
      case "fp_dedup" => new FpDedup(spark, seed, tracer)
      case other => sys.error(s"unknown workload $other (scd_daily, fp_dedup)")
    }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private final case class Timed(op: Op, ms: Double, gcMs: Long, spanOp: Int)

  private def run(spark: SparkSession, a: Args, tracer: Tracer, tables: String,
      entryNs: Long): String = {
    val w = workload(a.workload, spark, a.seed, tracer)
    var correct = true
    def checked(what: String)(body: => Unit): Unit =
      try body catch {
        case e: CheckFailed =>
          log(s"check failed after $what: ${e.getMessage}")
          correct = false
      }

    // the catalog resolves `lake.bench.<name>` to `<tables>/bench/<name>`
    tracer.span("setup")(w.setup(new File(tables, "bench").getPath))

    // warm-up: as many operations as the workload needs for their times
    // to level off (the first SQL read of a session takes seconds, the
    // first writes about twice the steady time)
    val w0 = System.nanoTime()
    tracer.span("warmup")(w.warmup().foreach { op =>
      val follow = try Some(op.run()) catch {
        case NonFatal(e) =>
          log(s"warm-up operation ${op.label} failed: $e")
          None
      }
      follow.foreach(f => checked(op.label)(f()))
    })
    log(f"warm-up: ${(System.nanoTime() - w0) / 1e6}%.0f ms")
    System.gc()
    val setupS = (System.nanoTime() - entryNs) / 1e9

    // timed phase: whole rounds until the run length is used up
    val timed = Vector.newBuilder[Timed]
    var failed = 0
    var attempted = 0
    var bytesPerRow = Double.NaN
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (bytesPerRow.isNaN || System.nanoTime() < deadline) {
      w.round().foreach { op =>
        attempted += 1
        tracer.span(s"op:${op.label}") {
          val g0 = gcMs()
          val t0 = System.nanoTime()
          val follow = try Some(op.run()) catch {
            case NonFatal(e) =>
              log(s"operation ${op.label} failed: $e")
              failed += 1
              None
          }
          val ms = (System.nanoTime() - t0) / 1e6
          follow.foreach { f =>
            if (op.scored) timed += Timed(op, ms, gcMs() - g0, tracer.currentOp)
            log(f"op ${op.label} $ms%.0f ms")
            checked(op.label)(f())
          }
        }
      }
      // space per row at a fixed point of every run (after the first timed
      // round), so that it does not depend on how many rounds a run fits in
      if (bytesPerRow.isNaN)
        bytesPerRow = w.tableRoots.map(r => treeBytes(new File(r))).sum.toDouble / w.latestRows()
    }

    log(s"timed phase: $attempted operations, $failed failed")
    val f0 = System.nanoTime()
    checked("the run")(w.finish())
    log(f"final checks: ${(System.nanoTime() - f0) / 1e9}%.1f s")
    val all = timed.result()
    val writes = all.filter(_.op.write)
    val reads = all.filter(!_.op.write)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("write_rows_per_s", writes.map(_.op.rows).sum / (writes.map(_.ms).sum / 1e3), "1/s"),
      ("write_p50_ms", median(writes.map(_.ms)), "ms"),
      ("read_p50_ms", median(reads.map(_.ms)), "ms"),
      ("disk_bytes_per_row", bytesPerRow, "B"))
    def obj(ms: Seq[(String, Double, String)]) = ms.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val metrics =
      if (!a.trace) endToEnd
      else {
        // a traced run reports the per-layer metrics; its end-to-end
        // figures go to the trace directory and the log, so that the
        // tracing overhead can be measured against untraced runs
        val rec = tracer.drain()
        val layers = Layers.perOp(rec, all.map(t => t.spanOp -> t.gcMs).toMap) ++
          w.endGauges()
        val dir = new File(a.runDir, "trace")
        Layers.write(dir, rec, layers)
        val e2e = new java.io.PrintWriter(new File(dir, "end_to_end.json"))
        try e2e.println(obj(endToEnd)) finally e2e.close()
        log(s"end_to_end: ${obj(endToEnd)}")
        Layers.Names.map { case (n, unit) => (n, layers.getOrElse(n, 0.0), unit) }
      }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${obj(metrics)}}"""
  }

  private def log(msg: String): Unit = System.err.println(msg)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(treeBytes).sum
    else if (f.isFile) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** The one Spark session of a run: `local[cores]`, shuffle partitions =
  * cores, everything Spark writes kept under the run directory, and the
  * graft catalog `lake` over the run's tables.
  */
object Session {
  def start(a: Args): SparkSession = {
    val dir = new File(a.runDir).getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.default.parallelism", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$dir/tables")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
