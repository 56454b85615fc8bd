package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** Per-file column statistics for manifest-level data skipping — the
  * Delta "stats in the commit log" idea: each data file's
  * min/max/null-count per column is harvested from its parquet FOOTER
  * at commit time (metadata-only read, no data scan) into that file's
  * manifest entry, and queries prune the file list BEFORE the engine
  * scan by rewriting their predicate into a "can this file possibly
  * match" test over (min, max, nulls), evaluated on the driver per
  * entry — no Spark job, no I/O beyond the manifests. Files without
  * stats (or with a NULL bound) are always kept — skipping is an
  * over-approximation, never a filter.
  *
  * An entry has Delta's add-action stats shape,
  * `{"numRecords":n,"minValues":{..},"maxValues":{..},"nullCount":{..}}`,
  * keyed by PHYSICAL column name. Values are type-free JSON (integers,
  * dates as epoch days, timestamps as epoch micros, floats as doubles,
  * strings) typed only when read, so a type widening needs no rewrite.
  */
object FileStats {
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
  import com.fasterxml.jackson.databind.node.ObjectNode

  private val mapper = new ObjectMapper()

  /** One file's stats entry (see the object doc for its shape). */
  type Entry = JsonNode

  /** Columns eligible for skipping stats. Timestamps ride along when
    * parquet wrote them as INT64 micros (Spark's TIMESTAMP_MICROS);
    * INT96 footers carry no usable stats and degrade to NULL = no skip.
    */
  private[lake] def supported(f: StructField): Boolean = f.dataType match {
    case IntegerType | LongType | FloatType | DoubleType | StringType |
         DateType | TimestampType | TimestampNTZType | ShortType | ByteType => true
    case _ => false
  }

  /** Read one parquet footer and produce the file's stats entry for the
    * supported columns of `table` (physical names). Conservative
    * throughout: anything surprising leaves the bound out (= keep the
    * file).
    */
  def harvest(conf: Configuration, absPath: String, table: StructType): ObjectNode = {
    val wanted = table.fields.filter(supported).map(f => f.name -> f.dataType).toMap
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(absPath), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      // aggregate chunk stats across row groups per top-level column
      val acc = scala.collection.mutable.Map.empty[String, (Any, Any, Long, Boolean)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val pathParts = c.getPath.toArray
        if (pathParts.length == 1 && wanted.contains(pathParts(0))) {
          val name = pathParts(0)
          val dt = wanted(name)
          val st = c.getStatistics
          val valid = st != null && !st.isEmpty && st.isNumNullsSet
          val (mn, mx, ok) =
            if (valid && st.hasNonNullValue)
              (convert(st.genericGetMin, dt), convert(st.genericGetMax, dt), true)
            else if (valid) (null, null, true) // all-null chunk: bounds stay absent but COUNT is known
            else (null, null, false)
          val nulls = if (valid) st.getNumNulls else 0L
          acc.get(name) match {
            case None => acc(name) = (mn, mx, nulls, ok)
            case Some((pmn, pmx, pn, pok)) =>
              acc(name) = (minOf(pmn, mn), maxOf(pmx, mx), pn + nulls, pok && ok)
          }
        }
      }
      val entry = mapper.createObjectNode()
      entry.put("numRecords", blocks.map(_.getRowCount).sum)
      val mins = entry.putObject("minValues")
      val maxs = entry.putObject("maxValues")
      val nullCounts = entry.putObject("nullCount")
      // a single stats-less chunk poisons the whole file's bounds
      for ((name, (mn, mx, nulls, ok)) <- acc if ok) {
        if (mn != null) mins.set[JsonNode](name, mapper.valueToTree[JsonNode](mn))
        if (mx != null) maxs.set[JsonNode](name, mapper.valueToTree[JsonNode](mx))
        nullCounts.put(name, nulls)
      }
      entry
    } finally reader.close()
  }

  /** Parquet footer value → the JSON-native bound (Long, Double or
    * String) for a column of type `dt`. NULL when the conversion isn't
    * trustworthy.
    */
  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    // int32 physical: ints, narrow ints, dates (epoch days) — and a
    // narrow file harvested under a WIDENED table schema
    case (i: java.lang.Integer, IntegerType | ShortType | ByteType | LongType | DateType) =>
      java.lang.Long.valueOf(i.longValue)
    // int64 physical: longs and TIMESTAMP_MICROS (with or without zone)
    case (l: java.lang.Long, LongType | TimestampType | TimestampNTZType) => l
    // floats ride as their exact double value; NaN and infinities have
    // no JSON form and are left out (= no skip on that bound)
    case (f: java.lang.Float, FloatType | DoubleType) if f.isNaN || f.isInfinite => null
    case (f: java.lang.Float, FloatType | DoubleType) => java.lang.Double.valueOf(f.doubleValue)
    case (d: java.lang.Double, DoubleType) if d.isNaN || d.isInfinite => null
    case (d: java.lang.Double, DoubleType) => d
    case (b: org.apache.parquet.io.api.Binary, StringType) =>
      val s = b.toStringUsingUTF8
      // parquet orders binaries by unsigned bytes; that matches
      // String ordering only for ASCII — degrade to NULL otherwise
      if (s.forall(_ < 128)) s else null
    case _ => null
  }

  private def cmp(a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)
  private def minOf(a: Any, b: Any): Any =
    if (a == null || b == null) null else if (cmp(a, b) <= 0) a else b
  private def maxOf(a: Any, b: Any): Any =
    if (a == null || b == null) null else if (cmp(a, b) >= 0) a else b

  def parse(json: String): JsonNode = mapper.readTree(json)

  /** The `"stats"` object of a manifest: file → entry, in name order
    * (an entry's own JSON is its `toString`).
    */
  def statsJson(entries: Seq[(String, JsonNode)]): String = {
    val o = mapper.createObjectNode()
    entries.sortBy(_._1).foreach { case (f, e) => o.set[JsonNode](f, e) }
    o.toString
  }

  /** A file's physical row count, if its entry carries one. */
  def numRecords(entry: JsonNode): Option[Long] =
    Option(entry.get("numRecords")).map(integral(_, "numRecords"))

  /** A file's null count for physical column `c`, if known. */
  def nullCount(entry: JsonNode, c: String): Option[Long] =
    Option(entry.path("nullCount").get(c)).map(integral(_, s"nullCount.$c"))

  /** A file's min (or max) bound for physical column `c` as a Catalyst
    * INTERNAL value of type `dt`; None when unknown. Throws on a value
    * that does not fit `dt` (a malformed entry).
    */
  def bound(entry: JsonNode, c: String, isMax: Boolean, dt: DataType): Option[Any] =
    Option(entry.path(if (isMax) "maxValues" else "minValues").get(c))
      .filterNot(_.isNull).map { n =>
        def bad = new IllegalStateException(
          s"malformed stats bound $c=$n for type ${dt.simpleString}")
        def int(fits: Int => Boolean): Int =
          if (n.isIntegralNumber && n.canConvertToInt && fits(n.intValue)) n.intValue
          else throw bad
        dt match {
          case IntegerType | DateType => int(_ => true)
          case ShortType => int(_.isValidShort).toShort
          case ByteType => int(_.isValidByte).toByte
          case LongType | TimestampType | TimestampNTZType => integral(n, c)
          case FloatType if n.isNumber => n.doubleValue.toFloat
          case DoubleType if n.isNumber => n.doubleValue
          case StringType if n.isTextual =>
            org.apache.spark.unsafe.types.UTF8String.fromString(n.textValue)
          case _ => throw bad
        }
      }

  private def integral(n: JsonNode, what: String): Long =
    if (n.isIntegralNumber && n.canConvertToLong) n.longValue
    else throw new IllegalStateException(s"malformed stats value $what=$n")

  /** Driver-side file test for analyzed filter conditions over the
    * stat columns `cols` = (logical name, physical name, type): their
    * [[pruneExpr]] rewrites, bound to one in-memory row per entry.
    * True (or NULL) = the file may hold a matching row.
    */
  def possiblyMatches(
      cols: Seq[(String, String, DataType)],
      conditions: Seq[Expression]): JsonNode => Boolean = {
    // the row: num_rows, then (min, max, nulls) per column
    val layout: Seq[(String, DataType, JsonNode => Any)] =
      ("num_rows", LongType, (e: JsonNode) => numRecords(e).getOrElse(null)) +:
        cols.flatMap { case (l, p, dt) => Seq(
          (s"min_$l", dt, (e: JsonNode) => bound(e, p, isMax = false, dt).orNull),
          (s"max_$l", dt, (e: JsonNode) => bound(e, p, isMax = true, dt).orNull),
          (s"nulls_$l", LongType, (e: JsonNode) => nullCount(e, p).getOrElse(null)))
        }
    val ref = layout.zipWithIndex.map { case ((n, dt, _), i) =>
      n -> BoundReference(i, dt, nullable = true) }.toMap
    val test = conditions.map(pruneExpr(_, cols.map(_._1).toSet, ref)).reduce(And(_, _))
    entry => test.eval(new GenericInternalRow(layout.map(_._3(entry)).toArray)) != false
  }

  /** Rewrite a data predicate into its file-level "possibly matches"
    * over-approximation over the stats columns. Unrecognized shapes
    * become TRUE (keep), every leaf is NULL-tolerant (missing stats
    * keep), so pruning can only ever remove files that provably cannot
    * contain a matching row. `stat` resolves the stats columns
    * (`min_<c>`, `max_<c>`, `nulls_<c>`, `num_rows`).
    */
  def pruneExpr(
      filter: Expression, statCols: Set[String],
      stat: String => Expression): Expression = {
    def attrName(e: Expression): Option[String] = e match {
      case a: AttributeReference if statCols.contains(a.name) => Some(a.name)
      case u: UnresolvedAttribute if u.nameParts.length == 1 &&
        statCols.contains(u.nameParts.head) => Some(u.nameParts.head)
      case _ => None
    }
    // a monotone (order-preserving) cast maps [min, max] to valid
    // bounds, so a cast the analyzer wrapped around the column can be
    // re-applied to the stats columns instead of defeating the match
    def monotoneCast(from: DataType, to: DataType): Boolean = (from, to) match {
      case (TimestampNTZType, TimestampType) | (TimestampType, TimestampNTZType) => true
      case (DateType, TimestampType) | (DateType, TimestampNTZType) => true
      case (f: NumericType, t: NumericType) =>
        // widening numeric casts are monotone non-decreasing
        Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
          .indexOf(f) <= Seq(ByteType, ShortType, IntegerType, LongType,
            FloatType, DoubleType).indexOf(t) || t.isInstanceOf[DecimalType]
      case _ => false
    }
    /** The column (possibly under a monotone cast), carrying the
      * wrapper that re-applies the cast to a stats bound column.
      */
    case class BoundRef(col: String, wrap: Expression => Expression)
    def ref(e: Expression): Option[BoundRef] = e match {
      case a if attrName(a).isDefined => Some(BoundRef(attrName(a).get, identity))
      case c @ Cast(inner, to, _, _) if attrName(inner).isDefined &&
        monotoneCast(inner.dataType, to) =>
        Some(BoundRef(attrName(inner).get, x => c.withNewChildren(Seq(x))))
      case _ => None
    }
    def mnx(r: BoundRef): (Expression, Expression) =
      (r.wrap(stat(s"min_${r.col}")), r.wrap(stat(s"max_${r.col}")))
    def nulls(c: String) = stat(s"nulls_$c")
    def keepIfUnknown(e: Expression): Expression =
      Coalesce(Seq(e, Literal.TrueLiteral))
    def eqPossible(r: BoundRef, l: Literal): Expression = {
      val (mn, mx) = mnx(r)
      keepIfUnknown(And(LessThanOrEqual(mn, l), GreaterThanOrEqual(mx, l)))
    }

    object R {
      def unapply(e: Expression): Option[BoundRef] = ref(e)
    }
    def go(e: Expression): Expression = e match {
      case And(l, r) => And(go(l), go(r))
      case Or(l, r) => Or(go(l), go(r))
      case EqualTo(R(r), l: Literal) => eqPossible(r, l)
      case EqualTo(l: Literal, R(r)) => eqPossible(r, l)
      case EqualNullSafe(R(r), l: Literal) if l.value != null => eqPossible(r, l)
      case EqualNullSafe(l: Literal, R(r)) if l.value != null => eqPossible(r, l)
      case GreaterThan(R(r), l: Literal) =>
        keepIfUnknown(GreaterThan(mnx(r)._2, l))
      case GreaterThan(l: Literal, R(r)) =>
        keepIfUnknown(LessThan(mnx(r)._1, l))
      case GreaterThanOrEqual(R(r), l: Literal) =>
        keepIfUnknown(GreaterThanOrEqual(mnx(r)._2, l))
      case GreaterThanOrEqual(l: Literal, R(r)) =>
        keepIfUnknown(LessThanOrEqual(mnx(r)._1, l))
      case LessThan(R(r), l: Literal) =>
        keepIfUnknown(LessThan(mnx(r)._1, l))
      case LessThan(l: Literal, R(r)) =>
        keepIfUnknown(GreaterThan(mnx(r)._2, l))
      case LessThanOrEqual(R(r), l: Literal) =>
        keepIfUnknown(LessThanOrEqual(mnx(r)._1, l))
      case LessThanOrEqual(l: Literal, R(r)) =>
        keepIfUnknown(GreaterThanOrEqual(mnx(r)._2, l))
      case In(R(r), vs) if vs.nonEmpty &&
        vs.forall(v => v.isInstanceOf[Literal] && v.asInstanceOf[Literal].value != null) =>
        val lits = vs.map(_.asInstanceOf[Literal])
        if (lits.size <= 128) {
          // balanced, not reduceLeft: a runtime IN (dynamic file
          // pruning hands over the build side's key set) can carry
          // hundreds of values, and a left-deep OR chain overflows the
          // stack in every later tree traversal. 128, not 512: each
          // per-value range term compiles to ~30 lines of generated
          // Java, and a ~450-term tree blows janino's 64 KB method
          // limit — the stats Project then runs INTERPRETED with an
          // ERROR logged per scan (measured on the IVF re-rank fetch,
          // whose candidate sets sit in the 300–2000 range). Above
          // 128 the envelope below prunes by range and blooms prune
          // by value — sound, constant-size code, zero fallbacks.
          def orTree(es: Seq[Expression]): Expression =
            if (es.size == 1) es.head
            else {
              val (l, rr) = es.splitAt(es.size / 2)
              Or(orTree(l), orTree(rr))
            }
          orTree(lits.map(eqPossible(r, _)))
        } else {
          // wide IN: collapse to the values' [min, max] envelope —
          // sound (only ever keeps more files), constant-size, and the
          // bloom phase still probes every value exactly on
          // point-indexed columns
          val dt = lits.head.dataType
          val (mn, mx) = mnx(r)
          val loVal = Literal(Least(lits).eval(), dt)
          val hiVal = Literal(Greatest(lits).eval(), dt)
          keepIfUnknown(And(LessThanOrEqual(mn, hiVal),
            GreaterThanOrEqual(mx, loVal)))
        }
      case IsNull(a) if attrName(a).isDefined =>
        keepIfUnknown(GreaterThan(nulls(attrName(a).get), Literal(0L)))
      // IS NOT NULL prunes all-null files (nulls == num_rows)
      case IsNotNull(a) if attrName(a).isDefined =>
        keepIfUnknown(LessThan(nulls(attrName(a).get), stat("num_rows")))
      // != prunes only constant files pinned to exactly that value
      case Not(EqualTo(R(r), l: Literal)) =>
        val (mn, mx) = mnx(r)
        keepIfUnknown(Not(And(EqualTo(mn, l), EqualTo(mx, l))))
      case Not(EqualTo(l: Literal, R(r))) =>
        val (mn, mx) = mnx(r)
        keepIfUnknown(Not(And(EqualTo(mn, l), EqualTo(mx, l))))
      // LIKE 'p%' ⇒ the file's range must intersect [p, next(p)): a
      // string starting with p is >= p and < p-with-last-char-bumped
      // (Delta's startsWith skipping). Bail to TRUE when the prefix
      // can't be bumped (empty / last char at max) — rare and safe.
      case StartsWith(R(r), l @ Literal(_, StringType)) if l.value != null =>
        prefixPossible(r, l.value.toString)
      // the ANALYZED (unoptimized) tree keeps LIKE 'p%' as Like — the
      // same prefix bound applies when the pattern has no other
      // wildcards or escapes
      case Like(R(r), l @ Literal(_, StringType), escape) if l.value != null &&
        l.value.toString.endsWith("%") &&
        !l.value.toString.dropRight(1).exists(c =>
          c == '%' || c == '_' || c == escape) =>
        prefixPossible(r, l.value.toString.dropRight(1))
      case _ => Literal.TrueLiteral
    }
    def prefixPossible(r: BoundRef, prefix: String): Expression =
      prefixUpperBound(prefix) match {
        case Some(next) =>
          val (mn, mx) = mnx(r)
          keepIfUnknown(And(
            GreaterThanOrEqual(mx, Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(prefix), StringType)),
            LessThan(mn, Literal(
              org.apache.spark.unsafe.types.UTF8String.fromString(next), StringType))))
        case None => Literal.TrueLiteral
      }
    go(filter)
  }

  /** Smallest string strictly greater than every string with prefix
    * `p`: bump the last bumpable char and truncate. None when no char
    * can be bumped (keeps the file — pruning stays conservative).
    * Restricted to ASCII-bumpable tails because the stats harvest only
    * trusts ASCII string bounds (see [[convert]]).
    */
  private def prefixUpperBound(p: String): Option[String] = {
    val i = p.lastIndexWhere(c => c < 127)
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** Analyze `filter` against an empty frame of the DATA schema and
    * fold foldables into typed Literals. A Spark 4 `Column` is a
    * ColumnNode tree, not catalyst — analysis produces the typed-
    * literal/cast-inserted catalyst tree both [[pruneExpr]] and
    * [[BloomIndex.pointTargets]] pattern-match, so one analysis pass
    * per filter serves both. Any trouble (e.g. a column outside the
    * schema) degrades to TRUE = no pruning from this filter.
    */
  def analyzedCondition(
      spark: SparkSession, dataSchema: StructType, filter: Column): Expression =
    try {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[Row](), dataSchema)
      val analyzed = empty.filter(filter).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }.getOrElse(Literal.TrueLiteral)
      // analysis inserts casts but never folds them — fold here so
      // `cast('2024-05-01' as date)` matches the Literal patterns
      analyzed.transformUp {
        case e if e.foldable && !e.isInstanceOf[Literal] =>
          Literal.create(e.eval(null), e.dataType)
      }
    } catch { case scala.util.control.NonFatal(_) => Literal.TrueLiteral }
}
