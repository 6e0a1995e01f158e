package graft.sinks

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, BasePredicate, BindReferences, Expression, Murmur3HashFunction, Predicate, XxHash64Function}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._

/** One written file's statistics in Catalyst-internal values, as its
  * writer saw the rows: per [[WriteStats.statable]] column the min, max
  * (null = no non-null value) and non-null count, per
  * [[WriteStats.bloomable]] column the Bloom bitmap. `name` is the file's
  * basename, which survives the commit protocol's rename. */
private[sinks] final case class RawFileStat(
    name: String,
    rows: Long,
    min: Array[Any],
    max: Array[Any],
    nonNull: Array[Long],
    blooms: Array[Array[Byte]])

/** The per-file stats kernel shared by every data write: the batch
  * writer's [[FileStatsJobTracker]] (inside Spark's write job) and the
  * DSv2 streaming sink's executor writers. Min/max follow Spark's own
  * ordering and keep the first of equal values, exactly as the `min`/`max`
  * aggregates would over the file read back in order. */
private[graft] object WriteStats {
  val BloomBits = 4096
  val BloomK = 4

  /** Orderable atomic types we record min/max for. */
  def statable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | StringType | DateType |
        TimestampType | TimestampNTZType | BooleanType =>
      true
    case _: DecimalType => true
    case _ => false
  }

  /** Column types we bloom: equality-meaningful, hash-stable. */
  def bloomable(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType | DateType => true
    case _ => false
  }

  /** The k Bloom positions of one non-null INTERNAL value: murmur3 and
    * xxhash64 (seed 42, Spark's `hash()`/`xxhash64()`) double-hashed, h2
    * forced odd so the stride never collapses. The write side feeds it
    * every row; [[SnapshotTable.probePositions]] feeds it a literal. */
  def bloomPositions(dt: DataType, v: Any): Array[Int] = {
    val m = BloomBits.toLong
    val h1 = java.lang.Math.floorMod(Murmur3HashFunction.hash(v, dt, 42L).toInt.toLong, m)
    val h2 = java.lang.Math.floorMod(XxHash64Function.hash(v, dt, 42L), m) * 2 + 1
    Array.tabulate(BloomK)(i => java.lang.Math.floorMod(h1 + i * h2, m).toInt)
  }

  /** The column layout of one written schema, shipped to the writers. */
  final case class Layout(schema: StructType) {
    val statIdx: Array[Int] = schema.fields.indices.filter(i => statable(schema(i).dataType)).toArray
    val bloomIdx: Array[Int] = schema.fields.indices.filter(i => bloomable(schema(i).dataType)).toArray
    def statFields: Seq[StructField] = statIdx.toSeq.map(schema(_))
    def bloomFields: Seq[StructField] = bloomIdx.toSeq.map(schema(_))
  }

  /** Accumulates one file's stats row by row. */
  final class FileAcc(layout: Layout) {
    import layout.{bloomIdx, statIdx}
    private val statTypes = statIdx.map(layout.schema(_).dataType)
    private val bloomTypes = bloomIdx.map(layout.schema(_).dataType)
    private val ords = statTypes.map(PhysicalDataType.ordering)
    private var rows = 0L
    private val mins = new Array[Any](statIdx.length)
    private val maxs = new Array[Any](statIdx.length)
    private val nonNull = new Array[Long](statIdx.length)
    private val blooms = Array.fill(bloomIdx.length)(new Array[Byte](BloomBits / 8))

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < statIdx.length) {
        val o = statIdx(i)
        if (!row.isNullAt(o)) {
          nonNull(i) += 1
          val v = row.get(o, statTypes(i))
          if (mins(i) == null) {
            val c = InternalRow.copyValue(v)
            mins(i) = c
            maxs(i) = c
          } else if (ords(i).lt(v, mins(i))) mins(i) = InternalRow.copyValue(v)
          else if (ords(i).gt(v, maxs(i))) maxs(i) = InternalRow.copyValue(v)
        }
        i += 1
      }
      i = 0
      while (i < bloomIdx.length) {
        val o = bloomIdx(i)
        if (!row.isNullAt(o)) {
          val b = blooms(i)
          bloomPositions(bloomTypes(i), row.get(o, bloomTypes(i))).foreach(p =>
            b(p >> 3) = (b(p >> 3) | (1 << (p & 7))).toByte)
        }
        i += 1
      }
    }

    def result(name: String): RawFileStat = RawFileStat(name, rows, mins, maxs, nonNull, blooms)
  }

  /** The CHECK constraints as row predicates over the written (PHYSICAL)
    * columns: each is true on a VIOLATING row — `NOT coalesce(check,
    * false)`, so a null result violates. Checks are authored in LOGICAL
    * names: a renamed column is visible under its logical name as well as
    * its physical one. Analysed on the driver, bound to ordinals. */
  def violationPredicates(
      spark: SparkSession,
      schema: StructType,
      physicalOf: Map[String, String],
      checks: Seq[String]): Seq[Expression] =
    if (checks.isEmpty) Seq.empty
    else {
      import org.apache.spark.sql.functions.{coalesce, expr, lit}
      val phys = schema.fields.toSeq.map(f => AttributeReference(f.name, f.dataType)())
      val logical =
        for ((l, p) <- physicalOf.toSeq if l != p; a <- phys.find(_.name == p))
          yield AttributeReference(l, a.dataType)() -> a
      val frame: DataFrame =
        org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LocalRelation(phys ++ logical.map(_._1)))
      val analyzed = frame.select(checks.map(c => !coalesce(expr(c), lit(false))): _*).queryExecution.analyzed
      val toPhys = logical.map { case (l, a) => l.exprId -> a }.toMap
      analyzed.asInstanceOf[Project].projectList.map { ne =>
        val e = ne match { case Alias(c, _) => c; case o => o }
        BindReferences.bindReference(
          e.transform { case a: AttributeReference if toPhys.contains(a.exprId) => toPhys(a.exprId) },
          phys)
      }
    }

  /** Converts one internal min/max back to the external value
    * [[SnapshotTable.statJson]] encodes — the same conversion a collected
    * Row applies (dates and timestamps rebased as Spark does). */
  def toExternal(dt: DataType, v: Any): Any = dt match {
    case StringType => v.toString
    case DateType => org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaDate(v.asInstanceOf[Int])
    case TimestampType => org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(v.asInstanceOf[Long])
    case TimestampNTZType =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToLocalDateTime(v.asInstanceOf[Long])
    case _: DecimalType => v.asInstanceOf[Decimal].toJavaBigDecimal
    case _ => v
  }
}

/** What one write task saw: its files' stats and per-CHECK violations. */
private[sinks] final case class TaskFileStats(files: Seq[RawFileStat], violations: Array[Long])
    extends WriteTaskStats

/** The stats tracker handed to Spark's `FileFormatWriter`: each task
  * builds every file's [[RawFileStat]] and counts CHECK violations from
  * the rows as it writes them, so a data write is ONE job — no second
  * query re-reads the files for the manifest. The driver-side instance
  * collects the committed tasks' results in [[processStats]]. */
private[sinks] final class FileStatsJobTracker(layout: WriteStats.Layout, violations: Seq[Expression])
    extends WriteJobStatsTracker {
  @transient private var collected: Seq[TaskFileStats] = Seq.empty

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val files = mutable.LinkedHashMap.empty[String, WriteStats.FileAcc]
    private var curPath: String = _
    private var cur: WriteStats.FileAcc = _
    private val bad = new Array[Long](violations.length)
    private lazy val preds: Array[BasePredicate] = violations.toArray.map { e =>
      val p = Predicate.create(e)
      p.initialize(Option(TaskContext.get()).map(_.partitionId()).getOrElse(0))
      p
    }

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = {
      cur = files.getOrElseUpdate(filePath, new WriteStats.FileAcc(layout))
      curPath = filePath
    }
    override def closeFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit = {
      if (filePath != curPath) newFile(filePath)
      cur.add(row)
      var i = 0
      while (i < bad.length) {
        if (preds(i).eval(row)) bad(i) += 1
        i += 1
      }
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      TaskFileStats(
        files.toSeq.map { case (p, acc) => acc.result(p.substring(p.lastIndexOf('/') + 1)) },
        bad)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    collected = stats.collect { case t: TaskFileStats => t }

  def files: Seq[RawFileStat] = collected.flatMap(_.files)

  /** Violating rows per CHECK, in the order the predicates were given. */
  def violationCounts: Seq[Long] =
    violations.indices.map(i => collected.map(_.violations(i)).sum)
}
