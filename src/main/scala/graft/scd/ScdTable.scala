package graft.scd

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A mutable, Parquet-backed SCD table — the stand-in for the reference's
  * Delta table handle (`DeltaTable.forName`, scd_handler.py:77) on a
  * classpath without the Delta connector.
  *
  * Write protocol: materialize the FULL next state into a sibling `__tmp`
  * directory (this forces the read of the current snapshot to complete
  * before anything is touched — Spark reads lazily, so overwriting a path
  * one is still reading from corrupts it), then swap directories with two
  * renames. Rename is atomic per directory on a real filesystem and on
  * HDFS; on object stores a manifest-pointer commit (what Delta's log
  * actually is) would replace the swap — the `ScdTable` interface is the
  * seam where that backend would plug in.
  *
  * Scale gap vs Delta, documented deliberately (SURVEY.md §7.6): Delta
  * MERGE rewrites only files containing matches; this rewrites the whole
  * table, O(table) I/O per batch. The scalable evolution keeps the same
  * API: partition the table by `pmod(hash(pk), N)` buckets and rewrite
  * only buckets containing update keys — the merge plan already
  * partitions by pk-hash, so bucket pruning composes with it.
  *
  * @param identityCol optional surrogate-key column emulating the test
  *   DDL's `GENERATED ALWAYS AS IDENTITY` (test_scd_handler.py:41): rows
  *   arriving with a NULL value get `max(existing) + monotonic id + 1` —
  *   unique and distributed (no single-partition row_number bottleneck)
  *   but intentionally NOT promising the gap-free monotonicity Delta
  *   doesn't promise either.
  */
class ScdTable(
    spark: SparkSession,
    val path: String,
    identityCol: Option[String] = None,
    identityStart: Long = 1L) {

  @volatile private var _lastMetrics: Option[MergeMetrics] = None

  /** Metrics of the most recent merge, the emulation of
    * `delta_table.history(1).select("operationMetrics")`
    * (scd_handler.py:54-55). Only populated by [[applyScd]] when
    * `trackMetrics = true` (they cost extra Spark jobs).
    */
  def lastMetrics: Option[MergeMetrics] = _lastMetrics

  private def hadoopPath = new Path(path)
  private def fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(hadoopPath)

  /** CREATE TABLE: an empty Parquet dataset carrying `schema`
    * (≈ test_scd_handler.py:40-57 DDL).
    */
  def create(schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("overwrite").parquet(path)

  def snapshot(): DataFrame = spark.read.parquet(path)

  protected def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Atomic-swap overwrite; see class Scaladoc for the protocol. */
  def overwrite(next: DataFrame): Unit = {
    val tmp = new Path(path + "__tmp")
    val old = new Path(path + "__old")
    next.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(hadoopPath)) fs.rename(hadoopPath, old)
    fs.rename(tmp, hadoopPath)
    fs.delete(old, true)
  }

  /** The reference's `apply_scd` (scd_handler.py:58-163) end-to-end:
    * the SCD kernel ([[ScdApply.nextState]]: split and both merges in
    * one per-key pass) against one snapshot, persisted once. With
    * `trackMetrics`, the literal `delta_merge` port
    * ([[ScdApply.viaMerges]]) prices merge #2 for [[lastMetrics]].
    * Empty-source guard (scd_handler.py:151,162) becomes: skip the write
    * entirely when the source is empty (the merges are then identity).
    *
    * PRECONDITION (inherited from the reference): `cfg.clock` must move
    * forward across successive calls on one table. Version recency is
    * decided by `dw_inserted_at DESC` (scd_handler.py:73), so a batch
    * stamped with an older clock than rows already in the table makes the
    * snapshot dedup pick a closed row as "current", which can leave a key
    * with two active rows. Observed empirically by replaying batches with
    * reused fixed clocks (see examples/ScdDemo).
    */
  def applyScd(source: DataFrame, cfg: ScdConfig, trackMetrics: Boolean = false): Unit = {
    if (source.isEmpty) return
    val snap = snapshot()
    if (trackMetrics) _lastMetrics = Some(ScdApply.viaMerges(snap, source, cfg).metrics())
    overwrite(withIdentity(ScdApply.nextState(snap, source, cfg)))
  }

  protected def withIdentity(next: DataFrame): DataFrame = identityCol match {
    case None => next
    case Some(idCol) if !next.columns.contains(idCol) => next
    case Some(idCol) =>
      val maxExisting =
        if (exists)
          snapshot().agg(max(col(idCol))).head().getAs[Any](0) match {
            case null => identityStart - 1
            case n: Number => n.longValue()
          }
        else identityStart - 1
      next.withColumn(
        idCol,
        coalesce(
          col(idCol),
          lit(maxExisting) + monotonically_increasing_id() + lit(1L))
          .cast(next.schema(idCol).dataType))
  }
}
