package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.IncrementalTable

/** Path-convention catalog over graft tables — the piece that turns the
  * connector into a full SQL surface:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.lake = graft.sources.GraftCatalog
  *               spark.sql.catalog.lake.warehouse = /data/lake
  *
  *   SELECT * FROM lake.events                       -- latest
  *   SELECT * FROM lake.events VERSION AS OF 3       -- time travel (SQL!)
  *   SELECT * FROM lake.events TIMESTAMP AS OF '...'
  *   CREATE TABLE lake.t2 (id BIGINT, tag STRING)    -- empty v0 commit
  *   DROP TABLE lake.t2
  * }}}
  *
  * A table named `ns1.ns2.t` lives at `<warehouse>/ns1/ns2/t`; there is
  * no side metastore — the directory IS the registry (its commit log
  * holds schema + versions), so the catalog stays stateless and any
  * number of sessions share it. `VERSION AS OF` resolves through the
  * same manifest read as `option("versionAsOf", ...)`; Delta exposes
  * the identical surface through its own catalog.
  *
  * WRITES go through the path API (`df.write.format("graft").save`) or
  * the injected MERGE/UPDATE/DELETE SQL — the exposed table is
  * deliberately read-only (see [[GraftReadOnlyTable]]), which keeps the
  * manifest commit the single write path. `createTable` commits an
  * empty v0 carrying the DDL schema, so a freshly-created table reads
  * as empty rather than failing.
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def fs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  // ---- FunctionCatalog: the storage-partitioned-join planner
  // resolves a scan-reported `bucket(n, col)` transform through the
  // relation's catalog ([[GraftStreamScan.outputPartitioning]] /
  // [[GraftBucketFunction]]). Only `bucket` exists; nothing else is
  // SQL-invocable here.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def pathOf(ident: Identifier): String =
    (warehouse.stripSuffix("/") +: (ident.namespace() :+ ident.name())).mkString("/")

  /** Filesystem path of `ident` — the maintenance SQL statements
    * (OPTIMIZE / VACUUM / DESCRIBE HISTORY) resolve through this.
    */
  def tablePath(ident: Identifier): String = pathOf(ident)

  private def isTableDir(path: String): Boolean =
    new IncrementalTable(spark, path).exists

  private def tableAt(path: String, extra: Map[String, String]): Table = {
    // a column-mapped table can't be served through the path-level
    // parquet delegate (files carry physical names); serve a schema-only
    // stub so DDL (ALTER ... RENAME/DROP COLUMN, DESCRIBE) resolves,
    // while scans fail with the connector's materialization hint
    val incM = new IncrementalTable(spark, path)
    if (incM.colMap.nonEmpty || incM.droppedCols.nonEmpty)
      return new GraftMappedStubTable(path,
        incM.logicalSchema.getOrElse(new org.apache.spark.sql.types.StructType()))
    val ds = new GraftDataSource
    val props = new java.util.HashMap[String, String]()
    props.put("path", path)
    // the scan uses this to tell a catalog table (whose bucket
    // transform Spark can resolve through this FunctionCatalog) from a
    // path read (which silently misses SPJ on a bucketized layout)
    props.put("graft.catalogResolved", "true")
    extra.foreach { case (k, v) => props.put(k, v) }
    val opts = new CaseInsensitiveStringMap(props)
    val t = ds.getTable(ds.inferSchema(opts), ds.inferPartitioning(opts), props)
    t match {
      // catalog-resolved tables accept SQL INSERT (append / overwrite
      // manifest commits) — but only at the LATEST version;
      // time-traveled reads stay read-only
      case ro: GraftReadOnlyTable if extra.isEmpty =>
        new GraftWritableTable(ro, path)
      case other => other
    }
  }

  override def loadTable(ident: Identifier): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    tableAt(p, Map.empty)
  }

  /** `VERSION AS OF <v>` (SQL time travel). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    tableAt(p, Map("versionAsOf" -> version))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    tableAt(p, Map("timestampAsOf" -> (timestamp / 1000L).toString))
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(pathOf(ident))

  // the analyzer requires these before it will hand identity /
  // generated column DDL to createTable (Spark's v2 column features)
  override def capabilities(): java.util.Set[
    org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS,
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS)

  /** `CREATE TABLE ... (id BIGINT GENERATED ALWAYS AS IDENTITY (START
    * WITH 10 INCREMENT BY 5), v DOUBLE GENERATED ALWAYS AS (expr),
    * ...)` — the reference's own DDL (TEST:41). The base table commits
    * first (empty v0 + properties), then the identity declaration and
    * generated-column expressions land as metadata commits; every
    * check that could reject the statement runs BEFORE the v0 commit
    * so a refused CREATE strands nothing.
    */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    val idCols = columns.filter(_.identityColumnSpec() != null)
    val genCols = columns.filter(_.generationExpression() != null)
    require(idCols.length <= 1,
      s"graft: at most one identity column per table, got ${idCols.length}")
    val schema = StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())))
    // pre-commit validation of everything the post-commit declarations
    // would reject: identity type/name, generation expressions
    idCols.foreach { c =>
      require(IncrementalTable.saneColumnName(c.name()),
        s"graft: illegal identity column name '${c.name()}'")
      require(c.dataType() == org.apache.spark.sql.types.LongType ||
        c.dataType() == org.apache.spark.sql.types.IntegerType,
        s"graft: identity column ${c.name()} must be BIGINT or INT")
      require(c.identityColumnSpec().getStep >= 1,
        "graft: identity INCREMENT BY must be >= 1")
    }
    genCols.foreach { c =>
      val others = StructType(schema.filterNot(_.name == c.name()))
      val analyzed = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), others)
        .selectExpr(c.generationExpression())
      analyzed.queryExecution.assertAnalyzed()
      // the expression's TYPE must match the declared column's, or the
      // first insert materializes (say) STRING files under a DATE
      // tracked schema and every later read fails
      val got = analyzed.schema.head.dataType
      require(got == c.dataType(),
        s"graft: generated column ${c.name()} is declared " +
          s"${c.dataType().sql} but (${c.generationExpression()}) " +
          s"produces ${got.sql}")
    }
    require(partitions.isEmpty,
      "graft catalog tables are clustered post-hoc (cluster/clusterZ), not hive-partitioned")
    val p = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.stripSuffix("/")).getOrElse(pathOf(ident))
    if (isTableDir(p)) {
      // CREATE over an EXISTING table is pure registration (Delta's
      // external-table behavior) — it must VERIFY the declared
      // identity/generated columns against what the table already
      // declares, never mutate it: a re-registration with the same DDL
      // succeeds, one with a different START WITH must not silently
      // redeclare the counter on a populated table
      val t = new IncrementalTable(spark, p)
      idCols.foreach { c =>
        val s = c.identityColumnSpec()
        val want = (c.name(), s.getStart.longValue, s.getStep.longValue,
          s.isAllowExplicitInsert.booleanValue)
        require(t.identityDecl.contains(want),
          s"graft: table at $p already declares identity " +
            s"${t.identityDecl.orNull}, which differs from $want — " +
            "registration cannot redeclare it")
      }
      genCols.foreach { c =>
        require(t.generatedColumns.get(c.name())
            .contains(c.generationExpression()),
          s"graft: table at $p declares generated columns " +
            s"${t.generatedColumns}, which do not match " +
            s"${c.name()} AS (${c.generationExpression()}) — " +
            "registration cannot redeclare them")
      }
      return tableAt(p, Map.empty)
    }
    val created = createTable(ident, schema, partitions, properties)
    if (idCols.isEmpty && genCols.isEmpty) return created
    val t = new IncrementalTable(spark, p)
    idCols.foreach { c =>
      val s = c.identityColumnSpec()
      t.setIdentity(c.name(), s.getStart, s.getStep, s.isAllowExplicitInsert)
    }
    genCols.foreach(c => t.addGeneratedColumn(c.name(), c.generationExpression()))
    tableAt(p, Map.empty)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse.stripSuffix("/") +: namespace).mkString("/")
    val f = fs(dir)
    if (!f.exists(new Path(dir))) Array.empty
    else f.listStatus(new Path(dir)).toSeq
      .filter(st => st.isDirectory && isTableDir(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
      .toArray
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: JMap[String, String]): Table = {
    require(partitions.isEmpty,
      "graft catalog tables are clustered post-hoc (cluster/clusterZ), not hive-partitioned")
    val p = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.stripSuffix("/")).getOrElse(pathOf(ident))
    if (isTableDir(p)) {
      // CREATE TABLE ... USING graft LOCATION over an EXISTING table is
      // registration, not creation — Delta's external-table behavior
      return tableAt(p, Map.empty)
    }
    if (schema.isEmpty)
      throw new IllegalArgumentException(
        s"graft: CREATE TABLE $ident needs a schema (or a LOCATION holding an existing table)")
    // CREATE TABLE ... TBLPROPERTIES: the graft configs apply at birth
    // (same keys ALTER TABLE SET TBLPROPERTIES drives). Standard
    // engine-managed properties (comment, owner, provider, location)
    // pass through. VALIDATE before committing anything — a rejected
    // property must not leave a half-created table behind.
    def cols(v: String) = v.split("[,;]").map(_.trim).filter(_.nonEmpty).toSeq
    val passthrough = Set(TableCatalog.PROP_LOCATION, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_COMMENT, "option.path", "transient_lastDdlTime")
    val graftProps = new scala.collection.mutable.ListBuffer[(String, String)]
    properties.forEach { (k, v) =>
      k match {
        case "graft.bloomColumns" | "graft.writeOrder" =>
          // value check belongs HERE, pre-commit: setBloomColumns /
          // setWriteOrder would reject an illegal column name only
          // AFTER the v0 commit, stranding a half-created table
          cols(v).foreach(c => require(IncrementalTable.saneColumnName(c),
            s"graft: illegal column name '$c' in table property '$k'"))
          graftProps += (k -> v)
        case "graft.enableTypeWidening" =>
          require(Set("true", "false").contains(v.trim.toLowerCase),
            s"graft: table property '$k' must be 'true' or 'false', got '$v'")
          graftProps += (k -> v)
        // the one perf-adjacent property the reference's DDL sets
        // (test_scd_handler.py:55-57) — its Delta spelling is accepted
        // verbatim so that DDL ports run unchanged
        case "graft.autoOptimize.optimizeWrite" |
             "delta.autoOptimize.optimizeWrite" =>
          require(Set("true", "false").contains(v.trim.toLowerCase),
            s"graft: table property '$k' must be 'true' or 'false', got '$v'")
          graftProps += ("graft.autoOptimize.optimizeWrite" -> v)
        case "graft.autoOptimize.autoCompact" |
             "delta.autoOptimize.autoCompact" =>
          require(Set("true", "false").contains(v.trim.toLowerCase),
            s"graft: table property '$k' must be 'true' or 'false', got '$v'")
          graftProps += ("graft.autoOptimize.autoCompact" -> v)
        case other if passthrough.contains(other) ||
          other.startsWith("option.") => ()
        case other => throw new IllegalArgumentException(
          s"graft: unknown table property '$other' (supported: " +
            "graft.bloomColumns, graft.writeOrder, graft.enableTypeWidening, " +
            "graft.autoOptimize.optimizeWrite, graft.autoOptimize.autoCompact)")
      }
    }
    val t = new IncrementalTable(spark, p)
    // empty v0 carrying the DDL schema
    t.commitFiles(Seq.empty, Set.empty, "create", schema = Some(schema))
    graftProps.foreach {
      case ("graft.bloomColumns", v) => t.setBloomColumns(cols(v): _*)
      case ("graft.writeOrder", v) => t.setWriteOrder(cols(v): _*)
      case ("graft.enableTypeWidening", v) =>
        if (v.trim.equalsIgnoreCase("true")) t.setTypeWidening(true)
      case ("graft.autoOptimize.optimizeWrite", v) =>
        if (v.trim.equalsIgnoreCase("true")) t.setOptimizeWrite(true)
      case ("graft.autoOptimize.autoCompact", v) =>
        if (v.trim.equalsIgnoreCase("true")) t.setAutoCompact(true)
      case _ => ()
    }
    tableAt(p, Map.empty)
  }

  /** `ALTER TABLE lake.t ADD COLUMNS (x TYPE, ...)` — a METADATA-ONLY
    * commit: no files change, the tracked schema merges the new
    * columns through the same commit CAS as a write-side evolution
    * (so a racing append can't lose the columns), and existing files
    * read the additions as NULL. `RENAME COLUMN` / `DROP COLUMN` are
    * metadata-only too (column mapping — the files keep their physical
    * names; catalog reads then serve a schema-only stub until
    * OPTIMIZE/compact materializes the mapping). Retype is rejected:
    * it would require rewriting every historical file.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTableDir(p)) throw new NoSuchTableException(ident)
    val inc = new IncrementalTable(spark, p)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val setProps = changes.collect { case p: TableChange.SetProperty => p }
    val unsetProps = changes.collect { case p: TableChange.RemoveProperty => p }
    require(adds.size + renames.size + drops.size + setProps.size +
        unsetProps.size == changes.size,
      "graft: only ADD COLUMNS / RENAME COLUMN / DROP COLUMN / " +
        "SET|UNSET TBLPROPERTIES are supported — schema otherwise " +
        "evolves through writes (add-column merge on commit)")
    // VALIDATE the whole statement before applying any part of it: a
    // mixed ALTER whose later change is rejected must not leave the
    // earlier property/column commits applied (one statement, one
    // all-or-nothing outcome — modulo the per-commit granularity of
    // the log; each surviving change is still its own commit).
    def cols(v: String) = v.split("[,;]").map(_.trim).filter(_.nonEmpty).toSeq
    val propChanges = setProps.map(p => p.property() -> p.value()) ++
      unsetProps.map(_.property() -> "")
    propChanges.foreach {
      case ("graft.bloomColumns" | "graft.writeOrder", v) =>
        cols(v).foreach(c => require(IncrementalTable.saneColumnName(c),
          s"graft: illegal column name '$c' in table property"))
      case ("graft.enableTypeWidening", v) =>
        // "" is UNSET (disable); otherwise strict true/false
        require(Set("", "true", "false").contains(v.trim.toLowerCase),
          s"graft: 'graft.enableTypeWidening' must be 'true' or " +
            s"'false', got '$v'")
      case ("graft.autoOptimize.optimizeWrite" |
            "delta.autoOptimize.optimizeWrite", v) =>
        require(Set("", "true", "false").contains(v.trim.toLowerCase),
          s"graft: 'graft.autoOptimize.optimizeWrite' must be 'true' or " +
            s"'false', got '$v'")
      case ("graft.autoOptimize.autoCompact" |
            "delta.autoOptimize.autoCompact", v) =>
        require(Set("", "true", "false").contains(v.trim.toLowerCase),
          s"graft: 'graft.autoOptimize.autoCompact' must be 'true' or " +
            s"'false', got '$v'")
      case (k, _) => throw new IllegalArgumentException(
        s"graft: unknown table property '$k' (supported: " +
          "graft.bloomColumns, graft.writeOrder, graft.enableTypeWidening, " +
          "graft.autoOptimize.optimizeWrite, graft.autoOptimize.autoCompact)")
    }
    require((adds ++ renames ++ drops: Seq[TableChange.ColumnChange])
        .forall(_.fieldNames().length == 1),
      "graft: nested column changes are not supported")
    require(adds.isEmpty && renames.isEmpty && drops.isEmpty ||
        inc.tableSchema.isDefined,
      s"graft: $p has no tracked schema to evolve (write once first)")
    // rename/drop pre-checks, except for columns this same statement
    // adds (those can only be validated after the add commits)
    val addNames = adds.map(_.fieldNames().head).toSet
    renames.filterNot(r => addNames(r.fieldNames().head))
      .foreach(r => inc.validateRename(r.fieldNames().head, r.newName()))
    // a rename whose SOURCE is added by this same statement can't run
    // the full source-side validation yet, but its TARGET must be
    // checked now — otherwise the add commits and the rename throws,
    // half-applying the statement
    renames.filter(r => addNames(r.fieldNames().head))
      .foreach(r => inc.validateRenameTarget(r.newName()))
    drops.filterNot(d => addNames(d.fieldNames().head))
      .foreach(d => inc.validateDrop(d.fieldNames().head))
    // CUMULATIVE checks: the per-change validations above run against
    // the pre-statement schema, so interactions between changes in one
    // statement need their own pass (two drops each leaving "one other
    // column", two renames onto one target)
    val dropNames = drops.map(_.fieldNames().head)
    require(dropNames.distinct.size == dropNames.size,
      "graft: duplicate DROP COLUMN targets in one ALTER statement")
    val renameTargets = renames.map(_.newName())
    require(renameTargets.distinct.size == renameTargets.size,
      "graft: two RENAME COLUMN changes share a target name")
    val renameSources = renames.map(_.fieldNames().head)
    require(renameSources.distinct.size == renameSources.size,
      "graft: duplicate RENAME COLUMN sources in one ALTER statement")
    require(!renameTargets.exists(addNames),
      "graft: RENAME COLUMN target collides with a column added in " +
        "the same statement")
    require(!renameSources.exists(dropNames.toSet),
      "graft: a column cannot be both renamed and dropped in one " +
        "ALTER statement")
    if (drops.nonEmpty) {
      val live = inc.logicalSchema.map(_.fieldNames.toSeq).getOrElse(Seq.empty)
      require((live.filterNot(dropNames.contains) ++ addNames).nonEmpty,
        s"graft: statement would drop every column of $p")
    }
    // `ALTER TABLE ... SET TBLPROPERTIES` drives the table configs:
    //   'graft.bloomColumns' = 'a,b'  -> bloom point-lookup index
    //   'graft.writeOrder'   = 'a,b'  -> write-time range clustering
    // (',' or ';' separated; empty string or UNSET clears)
    propChanges.foreach {
      case ("graft.bloomColumns", v) => inc.setBloomColumns(cols(v): _*)
      case ("graft.writeOrder", v) => inc.setWriteOrder(cols(v): _*)
      case ("graft.enableTypeWidening", v) =>
        inc.setTypeWidening(v.trim.equalsIgnoreCase("true"))
      case ("graft.autoOptimize.optimizeWrite" |
            "delta.autoOptimize.optimizeWrite", v) =>
        inc.setOptimizeWrite(v.trim.equalsIgnoreCase("true"))
      case ("graft.autoOptimize.autoCompact" |
            "delta.autoOptimize.autoCompact", v) =>
        inc.setAutoCompact(v.trim.equalsIgnoreCase("true"))
      case _ => ()
    }
    if (adds.nonEmpty) {
      val newCols = StructType(adds.map(a => org.apache.spark.sql.types.StructField(
        a.fieldNames().head, a.dataType(), a.isNullable)))
      // commitFiles' schema merge (tracked ++ new-only) runs inside the
      // CAS retry loop, same as a write-side evolution
      inc.commitFiles(Seq.empty, Set.empty, "alter_add_columns",
        schema = Some(newCols))
    }
    // metadata-only column mapping (no data rewrite) — see
    // IncrementalTable.renameColumn/dropColumn
    renames.foreach(r => inc.renameColumn(r.fieldNames().head, r.newName()))
    drops.foreach(d => inc.dropColumn(d.fieldNames().head))
    tableAt(p, Map.empty)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = pathOf(ident)
    if (!isTableDir(p)) false
    else fs(p).delete(new Path(p), true)
  }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    val src = pathOf(from)
    if (!isTableDir(src)) throw new NoSuchTableException(from)
    if (isTableDir(pathOf(to))) throw new TableAlreadyExistsException(to)
    if (!fs(src).rename(new Path(src), new Path(pathOf(to))))
      throw new IllegalStateException(s"graft: rename $from -> $to failed")
  }
}

/** Catalog stub for a COLUMN-MAPPED table: exposes the logical schema
  * so DDL and column resolution work, but advertises no read/write
  * capability — a scan fails with Spark's capability error instead of
  * silently serving physical names. Run OPTIMIZE/compact() to
  * materialize the mapping; the catalog then serves the real table.
  */
private[sources] class GraftMappedStubTable(
    path: String, logical: org.apache.spark.sql.types.StructType)
    extends org.apache.spark.sql.connector.catalog.Table {
  override def name(): String = s"graft:$path (column mapping pending)"
  override def schema(): org.apache.spark.sql.types.StructType = logical
  override def capabilities(): java.util.Set[
    org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.Collections.emptySet()
}
