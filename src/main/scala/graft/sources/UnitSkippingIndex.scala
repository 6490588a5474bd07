package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryComparison,
  Cast, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The file index of every commit-log read: the read's units
  * (`units`, their manifest names, at `rootPaths`), listed by `listed` —
  * Spark's own listing — only when a scan reads them, minus the units
  * that the data filters
  * `FileSourceScanExec` hands to [[listFiles]] rule out by `table`'s
  * `version` sidecars. Skipping so follows Catalyst's own pushdown: a
  * `filter`, a filter inferred across a join, one pushed through an
  * anti-join or a union.
  *
  * A conjunct that compares a column with literals prunes a unit when
  * `=`, `<`, `<=`, `>`, `>=` or `IN` cannot hold in the unit's cstats
  * `[min, max]`, or when the unit's bloom filter holds none of an `=`
  * or `IN`'s values, rendered by Catalyst's cast to string as the
  * bloom build hashed them. Only `long` entries of BIGINT, INT,
  * SMALLINT, TINYINT and DATE columns (compared on the literal's
  * internal value) and `string` entries of binary-collated STRING
  * columns (code-point order, as Parquet's UTF8 min/max) prune: never
  * doubles or floats (NaN, -0.0), decimals (unscaled footer values) or
  * timestamps (an INT64 footer may count millis), and never a unit
  * without an entry for the column.
  *
  * [[inputFiles]] and [[sizeInBytes]] are those of every unit, so size
  * estimates do not move; equality is on the first parameter list, no
  * listing, so cache lookups and exchange reuse match across reads of
  * one version. The sidecars are read only when a conjunct can prune.
  */
final case class UnitSkippingIndex(table: String, version: Long,
    units: Seq[String], rootPaths: Seq[Path], partitionSchema: StructType)(
    listed: Seq[Path] => FileIndex) extends FileIndex {

  // every unit listed: what an unpruned scan, the size estimate and
  // the input-file list read
  private lazy val all = listed(rootPaths)

  def inputFiles: Array[String] = all.inputFiles
  def refresh(): Unit = all.refresh()
  def sizeInBytes: Long = all.sizeInBytes

  def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val out = skipped(dataFilters)
    if (out.isEmpty) all.listFiles(partitionFilters, dataFilters)
    else rootPaths.filterNot(out) match {
      case Seq() => Nil
      case kept => listed(kept).listFiles(partitionFilters, dataFilters)
    }
  }

  /** How many of the read's units a scan with `dataFilters` reads. */
  def scannedUnits(dataFilters: Seq[Expression]): Int =
    rootPaths.size - skipped(dataFilters).size

  /** The units' paths that some conjunct of `filters` rules out. */
  private def skipped(filters: Seq[Expression]): Set[Path] = {
    val probes = filters.flatMap(UnitSkippingIndex.probe)
    if (probes.isEmpty) return Set.empty
    val stats = CommitLog.colStatsOpt(table, version).getOrElse(Nil)
      .groupBy(s => (s.unit, s.col))
    lazy val blooms = CommitLog.bloomLines(table, version)
      .map { case (u, c, b64) => (u, c) -> b64 }.toMap
    units.zip(rootPaths).collect { case (u, path) if probes.exists { p =>
      stats.get((u, p.col)).exists {
        case Seq(s) => s.kind == p.kind && p.outside(p.key(s.min), p.key(s.max))
        case _ => false
      } || (p.op == "=" && blooms.get((u, p.col)).exists(p.absentFrom))
    } => path }.toSet
  }
}

object UnitSkippingIndex {

  /** A conjunct `col op values` with the column on the left: `op` is
    * `=` (several values for IN), `<`, `<=`, `>` or `>=`; `kind` is the
    * cstats kind that keeps the column type's order.
    */
  private final case class Probe(col: String, dt: DataType, kind: String,
      op: String, values: Seq[Any]) {

    /** A literal or a sidecar bound in the comparison domain. */
    def key(v: Any): Any = v match {
      case s: String => if (kind == "string") UTF8String.fromString(s) else s.toLong
      case n: Number => n.longValue
      case other => other // a string literal's UTF8String
    }

    private def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: UTF8String, y: UTF8String) => x.binaryCompare(y) < 0
    }

    /** No value in `[mn, mx]` satisfies the conjunct. */
    def outside(mn: Any, mx: Any): Boolean = {
      lazy val v = key(values.head)
      op match {
        case "=" => values.map(key).forall(x => lt(x, mn) || lt(mx, x))
        case "<" => !lt(mn, v)
        case "<=" => lt(v, mn)
        case ">" => !lt(v, mx)
        case ">=" => lt(mx, v)
      }
    }

    /** The base64 bloom filter holds none of the values. */
    def absentFrom(b64: String): Boolean = {
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(java.util.Base64.getDecoder.decode(b64)))
      val tz = Some(SQLConf.get.sessionLocalTimeZone)
      values.forall(v => !bf.mightContainString(
        Cast(Literal(v, dt), StringType, tz).eval().toString))
    }
  }

  // the cstats kind whose order a column type's compare keeps
  // (`StringType` equals only the binary-collated string type)
  private def kindOf(dt: DataType): Option[String] = dt match {
    case LongType | IntegerType | ShortType | ByteType | DateType => Some("long")
    case StringType => Some("string")
    case _ => None
  }

  /** Whether a filter on a column of type `dt` can skip units. */
  private[sources] def prunable(dt: DataType): Boolean = kindOf(dt).isDefined

  // each comparison's operator with its sides swapped
  private val Flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  private def probe(e: Expression): Option[Probe] = {
    // `a op ls` when every one of `ls` is a literal of `a`'s type
    def of(a: Attribute, op: String, ls: Seq[Expression]): Option[Probe] = {
      val vs = ls.collect { case l: Literal if l.dataType == a.dataType => l.value }
      val nonNull = vs.filter(_ != null)
      if (vs.size != ls.size || nonNull.isEmpty || (op != "=" && nonNull.size != vs.size)) None
      else kindOf(a.dataType).map(Probe(a.name, a.dataType, _, op, nonNull))
    }
    e match {
      case c: BinaryComparison if Flipped.contains(c.symbol) => (c.left, c.right) match {
        case (a: Attribute, l) => of(a, c.symbol, Seq(l))
        case (l, a: Attribute) => of(a, Flipped(c.symbol), Seq(l))
        case _ => None
      }
      case In(a: Attribute, ls) => of(a, "=", ls)
      case InSet(a: Attribute, vs) => of(a, "=", vs.toSeq.map(Literal(_, a.dataType)))
      case _ => None
    }
  }
}
