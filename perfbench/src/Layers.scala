package perfbench

import java.io.{File, PrintWriter}

/** Per-layer metrics of a traced run: each is computed per timed
  * operation from the spans, jobs and SQL executions recorded inside it
  * (summed when one operation calls a layer more than once), and
  * reported as the median over the operations that called that layer.
  */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "scd.plan_ms" -> "ms", "scd.exchanges" -> "count", "scd.joins" -> "count",
    "lake.apply.jobs" -> "count", "lake.apply.tasks" -> "count",
    "lake.apply.idle_ms" -> "ms", "lake.apply.task_ms" -> "ms",
    "lake.apply.shuffle_bytes" -> "B", "lake.apply.rewrite_ratio" -> "ratio",
    "lake.apply.bytes_written" -> "B", "lake.apply.files_added" -> "count",
    "lake.manifest_ms" -> "ms", "lake.live_files" -> "count", "lake.versions" -> "count",
    "sources.read.plan_ms" -> "ms", "sources.read.jobs" -> "count",
    "sources.read.files_scanned" -> "count", "sources.read.scan_ratio" -> "ratio",
    "sources.read.task_ms" -> "ms", "sources.history_ms" -> "ms",
    "dedup.decide_ms" -> "ms", "dedup.admit_ms" -> "ms",
    "dedup.decide.shuffle_bytes" -> "B", "dedup.decide.jobs" -> "count",
    "dedup.scan_files_ratio" -> "ratio", "dedup.knn_ms" -> "ms",
    "jvm.gc_ms" -> "ms")

  /** Metrics of one operation. `notes` are the counts the workload
    * recorded for it (rows returned, rows in added files, ...).
    */
  private def ofOp(rec: Recorded, op: Span, notes: Map[String, Double]): Map[String, Double] = {
    val inside = rec.subtree(op.id).map(rec.byId).toVector.filter(_.id != op.id)
    def named(n: String) = inside.filter(_.name == n)
    val out = Map.newBuilder[String, Double]
    def jobs(ss: Vector[Span]) = ss.flatMap(s => rec.jobsUnder(s.id))
    def queries(ss: Vector[Span]) = ss.flatMap(rec.queriesIn)

    val apply = named("lake.apply")
    if (apply.nonEmpty) {
      val js = jobs(apply)
      val qs = queries(apply)
      out ++= Seq(
        "scd.plan_ms" -> qs.map(_.planMs).sum,
        "scd.exchanges" -> qs.map(_.exchanges).sum.toDouble,
        "scd.joins" -> qs.map(_.joins).sum.toDouble,
        "lake.apply.jobs" -> js.size.toDouble,
        "lake.apply.tasks" -> js.map(_.tasks.get).sum.toDouble,
        "lake.apply.idle_ms" -> apply.map(rec.idleMs).sum,
        "lake.apply.task_ms" -> js.map(_.taskMs.get).sum.toDouble,
        "lake.apply.shuffle_bytes" -> js.map(_.shuffleBytes.get).sum.toDouble,
        "lake.apply.bytes_written" -> js.map(_.bytesWritten.get).sum.toDouble)
      for (added <- notes.get("lake.apply.added_rows"); in <- notes.get("lake.apply.input_rows"))
        out += "lake.apply.rewrite_ratio" -> added / in
      notes.get("lake.apply.files_added").foreach(v => out += "lake.apply.files_added" -> v)
    }
    val manifest = named("lake.manifest")
    if (manifest.nonEmpty) out += "lake.manifest_ms" -> manifest.map(_.ms).sum

    val read = named("sources.read")
    if (read.nonEmpty) {
      val js = jobs(read)
      val qs = queries(read)
      out ++= Seq(
        "sources.read.plan_ms" -> qs.map(_.planMs).sum,
        "sources.read.jobs" -> js.size.toDouble,
        "sources.read.files_scanned" -> qs.map(_.filesScanned).sum.toDouble,
        "sources.read.task_ms" -> js.map(_.taskMs.get).sum.toDouble)
      notes.get("sources.read.rows").filter(_ > 0).foreach(n =>
        out += "sources.read.scan_ratio" -> qs.map(_.rowsScanned).sum / n)
    }
    val history = named("sources.history")
    if (history.nonEmpty) out += "sources.history_ms" -> history.map(_.ms).sum

    val decide = named("dedup.decide")
    if (decide.nonEmpty) {
      val js = jobs(decide)
      out ++= Seq(
        "dedup.decide_ms" -> decide.map(_.ms).sum,
        "dedup.decide.shuffle_bytes" -> js.map(_.shuffleBytes.get).sum.toDouble,
        "dedup.decide.jobs" -> js.size.toDouble)
      notes.get("dedup.live_files").filter(_ > 0).foreach(n =>
        out += "dedup.scan_files_ratio" -> queries(decide).map(_.filesScanned).sum / n)
    }
    val admit = named("dedup.admit")
    if (admit.nonEmpty) out += "dedup.admit_ms" -> admit.map(_.ms).sum
    val knn = named("dedup.knn")
    if (knn.nonEmpty) out += "dedup.knn_ms" -> knn.map(_.ms).sum
    out.result()
  }

  /** Median of each metric over the timed operations, except `jvm.gc_ms`:
    * most operations see no collection, so it is the mean GC time per
    * operation (`gcMs` maps each timed operation's span id to the GC
    * time during its call).
    */
  def perOp(rec: Recorded, gcMs: Map[Int, Long]): Map[String, Double] = {
    val ops = rec.spans.filter(s => s.parent == -1 && gcMs.contains(s.id))
    val per = ops.map(op => ofOp(rec, op, rec.notes.getOrElse(op.id, Map.empty)))
    per.flatMap(_.keys).distinct.map(k => k -> Main.median(per.flatMap(_.get(k)))).toMap +
      ("jvm.gc_ms" -> gcMs.values.sum.toDouble / math.max(1, gcMs.size))
  }

  /** Spans (with self time) as JSON lines, and the per-layer metrics
    * plus each layer's median self time per operation.
    */
  def write(dir: File, rec: Recorded, metrics: Map[String, Double]): Unit = {
    dir.mkdirs()
    val spans = new PrintWriter(new File(dir, "spans.jsonl"))
    try {
      rec.spans.sortBy(_.startMs).foreach { s =>
        spans.println(s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
          s""""name": "${s.name}", "start_ms": ${Main.num(s.startMs)}, """ +
          s""""end_ms": ${Main.num(s.endMs)}, "self_ms": ${Main.num(rec.selfMs(s))}}""")
      }
      rec.jobs.filter(_.span >= 0).sortBy(_.startMs).foreach { j =>
        val op = rec.byId.get(j.span).map(_.op).getOrElse(-1)
        spans.println(s"""{"id": "job${j.jobId}", "parent": ${j.span}, "op": $op, """ +
          s""""name": "job", "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
          s""""tasks": ${j.tasks.get}, "task_ms": ${j.taskMs.get}, """ +
          s""""shuffle_bytes": ${j.shuffleBytes.get}, "bytes_written": ${j.bytesWritten.get}}""")
      }
    } finally spans.close()
    val self = rec.spans.filter(_.parent != -1).groupBy(_.name).map { case (n, ss) =>
      n -> Main.median(ss.groupBy(_.op).values.map(_.map(rec.selfMs).sum).toSeq)
    }
    val out = new PrintWriter(new File(dir, "layers.json"))
    try {
      def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": ${Main.num(v)}""" }.mkString("{", ", ", "}")
      out.println(s"""{"metrics": ${obj(metrics)}, "self_ms": ${obj(self)}}""")
    } finally out.close()
  }
}
