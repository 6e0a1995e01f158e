package perfbench

import java.io.File
import java.sql.{DriverManager, SQLException}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.pipeline.{FixturePagedSource, PagedSource, RawProduct, UpcSkuLoad}
import graft.sinks.SnapshotTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import perfbench.Model.{Part, Product, SRow}

/** One timed call (or one check with no call of its own). */
final class Op(val kind: String, val name: String, val ms: Double) {
  var ok = true
  var note = ""
  def fail(why: String): Unit = if (ok) { ok = false; note = why }
}

/** What one timed pass measured: wall and process CPU time summed over its
  * timed operations, the workload's own end-to-end metrics (`extra`) and
  * the per-layer values the workload measures itself (`layer`). */
final class Pass(val tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  val extra = LinkedHashMap.empty[String, (Double, String)]
  val layer = LinkedHashMap.empty[String, Double]
  var wallNs = 0L
  var cpuNs = 0L
  var startMs = 0L
  var endMs = 0L

  /** Run `body` as one timed operation; a throw fails the operation. */
  def timed[A](kind: String, name: String)(body: => A): (Op, Option[A]) = {
    val c0 = Pass.processCpuNs
    val t0 = System.nanoTime()
    val r =
      try Right(body)
      catch { case e: Exception => Left(e) }
    val ns = System.nanoTime() - t0
    wallNs += ns
    cpuNs += Pass.processCpuNs - c0
    val op = new Op(kind, name, ns / 1e6)
    ops += op
    r.left.foreach(e => op.fail(s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    (op, r.toOption)
  }

  def check(name: String)(problems: Seq[String]): Unit = {
    val op = new Op("check", name, 0.0)
    ops += op
    if (problems.nonEmpty) op.fail(problems.mkString("; "))
  }
}

object Pass {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of every thread of this JVM: executors, driver, JIT and GC. */
  def processCpuNs: Long = os.getProcessCpuTime
}

/** The session, paths and seed a run shares between its passes. */
final class Ctx(
    val spark: SparkSession,
    val sfDir: String,
    val work: String,
    val seed: Long,
    val oracleCounts: String) {
  def dir(name: String): String = new File(work, name).getPath
}

trait Workload {
  def inputDigest: String
  /** Untimed: fill the JIT, codegen and planner caches on a small input. */
  def warmUp(): Unit
  /** Fresh state for the next pass; part of set-up, never of a pass. */
  def prep(): Unit
  def pass(p: Pass): Unit
  /** Traced runs only: decompose the pass into per-layer calls. */
  def probe(p: Pass): Unit = ()
  /** Untimed output checks after the pass (and the probe, when traced). */
  def finish(p: Pass): Unit = ()
}

object Workloads {
  val Names = Seq("load_stream", "query_common67")

  def apply(name: String, c: Ctx): Workload = name match {
    case "load_stream"    => new LoadStream(c)
    case "query_common67" => new QueryCommon67(c)
    case other             => throw new IllegalArgumentException(s"unknown workload $other (known: ${Names.mkString(", ")})")
  }

  /** Spark task slots per workload. The query sweep runs hundreds of short
    * jobs whose times swing with contention for the host's cores: on a
    * 4-vCPU VM, five runs at four slots (against the JIT, GC and driver
    * threads) spread 0.18 to 0.22 (quartile distance over median), at two
    * 0.07. The load phases shuffle into hundreds of tasks per page and lose
    * a third of their speed at two slots, while spreading 0.07 at four. */
  def cores(workload: String): Int = if (workload == "query_common67") 2 else 4

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** In-memory Derby: one live database at a time, dropped when the next
  * pass asks for a fresh one. */
object Derby {
  private var current: Option[String] = None
  private var n = 0

  /** A new database holding an empty product table per name in `tables`. */
  def fresh(tables: Seq[String]): String = {
    current.foreach(drop)
    n += 1
    val name = s"perfbench_$n"
    current = Some(name)
    val c = DriverManager.getConnection(s"jdbc:derby:memory:$name;create=true")
    try tables.foreach { t =>
      c.createStatement().execute(
        s"CREATE TABLE $t (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
    } finally c.close()
    s"jdbc:derby:memory:$name"
  }

  private def drop(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true").close()
    catch { case _: SQLException => () } // Derby reports a successful drop as an exception

  def rows(url: String, table: String): Seq[Product] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT upc, name, brand, price FROM $table")
      val out = ArrayBuffer.empty[Product]
      while (rs.next()) out += Product(rs.getString(1), rs.getString(2), rs.getString(3), rs.getDouble(4))
      out.toSeq
    } finally c.close()
  }

  def count(url: String, table: String): Long = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      rs.getLong(1)
    } finally c.close()
  }
}

/** The two write paths in one JVM: the reference's ETL load into Derby
  * ([[Etl]]), then the exactly-once snapshot stream ([[SnapshotStream]]).
  * Each phase reports its own metrics; they share the set-up and the
  * session, which keeps a run inside the time the benchmark may take. */
final class LoadStream(c: Ctx) extends Workload {
  private val etl = new Etl(c)
  private val stream = new SnapshotStream(c)
  val inputDigest: String = Inputs.digest(Seq(etl.inputDigest, stream.inputDigest))
  def warmUp(): Unit = { etl.warmUp(); stream.warmUp() }
  def prep(): Unit = { etl.prep(); stream.prep() }
  def pass(p: Pass): Unit = { etl.pass(p); stream.pass(p) }
  override def probe(p: Pass): Unit = { etl.probe(p); stream.probe(p) }
}

/** The reference's job, both ways, into one in-memory Derby database per
  * pass: `UpcSkuLoad.run` over the seeded `part` variant into a fresh table
  * (the INSERT wave), a reload with changed prices through `UpcSkuLoad.load`
  * (the UPDATE wave), and `UpcSkuLoad.runPaged` over
  * `FixturePagedSource(pageSize = 1000)` with a replayed page into a second
  * table. The batch phase is row-bound (the transform's expression tower);
  * the paged phase is bound by the fixed cost of each page. */
final class Etl(c: Ctx) extends Workload {
  import c.spark
  import Etl._

  private val base: IndexedSeq[Part] =
    spark.read
      .parquet(s"${c.sfDir}/part.parquet")
      .select("p_partkey", "p_name", "p_brand", "p_retailprice")
      .collect()
      .map(r => Part(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .sortBy(_.partkey)
      .take(Inputs.EtlParts)
      .toIndexedSeq
  private val load = Inputs.partVariant(base, c.seed)
  private val reload = Inputs.reload(load, c.seed)
  // RawProduct.price is a primitive Double, so the paged source cannot carry
  // a null price: the paged input turns them into zero prices (still invalid).
  private val paged = Inputs.paged(load).map(p => if (p.price == null) p.copy(price = 0.0) else p)
  private val schedule = Inputs.pageSchedule(c.seed)
  private val loadDir = writeParts("load", load)
  private val reloadDir = writeParts("reload", reload)
  private val pagedDir = writeParts("paged", paged)
  private val expectLoad = Model.load(load)
  private val expectReload = Model.upsert(expectLoad, Model.load(reload))
  private val expectPaged = Model.load(paged)
  private val expectUpserted = schedule.map { pg =>
    Model.load(paged.filter(p => p.partkey / Inputs.PageSize == pg)).size.toLong
  }.sum
  private var url = ""

  val inputDigest: String =
    Inputs.digest(Seq(Inputs.render(load), Inputs.render(reload), Inputs.render(paged), schedule.mkString(",")))

  private def writeParts(name: String, parts: Seq[Part]): String = {
    val schema = StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_retailprice", DoubleType)))
    val rows = parts.map(p => Row(p.partkey, p.name, p.brand, p.price))
    val dir = c.dir(name)
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    dir
  }

  def warmUp(): Unit = {
    val dir = writeParts("warm", load.take(200))
    UpcSkuLoad.run(spark, dir, Derby.fresh(Seq(Batch)), Batch)
  }

  def prep(): Unit = url = Derby.fresh(Seq(Batch, Paged))

  private def tableProblems(table: String, expected: Map[String, Product]): Seq[String] =
    Model.diff(expected, Derby.rows(url, table))

  def pass(p: Pass): Unit = {
    val tr = p.tracer
    val (loadOp, n) = p.timed("load", "UpcSkuLoad.run")(tr.span("pipeline.UpcSkuLoad.run")(UpcSkuLoad.run(spark, loadDir, url, Batch)))
    if (loadOp.ok) {
      if (!n.contains(expectLoad.size.toLong)) loadOp.fail(s"run returned ${n.getOrElse(-1)}, expected ${expectLoad.size}")
      tableProblems(Batch, expectLoad).foreach(loadOp.fail)
    }
    val (reloadOp, _) = p.timed("reload", "UpcSkuLoad.load")(tr.span("pipeline.UpcSkuLoad.load")(
      UpcSkuLoad.load(UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, reloadDir))), url, Batch)))
    if (reloadOp.ok) tableProblems(Batch, expectReload).foreach(reloadOp.fail)
    val afterReload = if (tr.enabled) Derby.count(url, Batch) else 0L

    val src = new ReplayingSource(new FixturePagedSource(spark, pagedDir, Inputs.PageSize), schedule, tr)
    val (walkOp, total) = p.timed("walk", "UpcSkuLoad.runPaged")(tr.span("pipeline.UpcSkuLoad.runPaged")(
      UpcSkuLoad.runPaged(spark, src, url, Paged)))
    if (walkOp.ok) {
      if (!total.contains(expectUpserted)) walkOp.fail(s"runPaged returned ${total.getOrElse(-1)}, expected $expectUpserted")
      // the paged table must equal the batch load of the same rows: replays change nothing
      tableProblems(Paged, expectPaged).foreach(walkOp.fail)
    }
    val pages = src.pageMs
    val reloaded = Model.load(reload).size
    p.extra ++= Seq(
      "load_s" -> (loadOp.ms / 1e3, "s"),
      "reload_s" -> (reloadOp.ms / 1e3, "s"),
      "batch_rows_per_s" -> ((expectLoad.size + reloaded) / ((loadOp.ms + reloadOp.ms) / 1e3), "1/s"),
      "page_p50_s" -> (Workloads.median(pages) / 1e3, "s"),
      "paged_rows_per_s" -> (expectUpserted / (walkOp.ms / 1e3), "1/s"),
      "pages" -> (pages.size.toDouble, "count"))
    p.layer ++= Seq(
      "pipeline.pages" -> pages.size.toDouble,
      "pipeline.pages_replayed" -> (schedule.size - schedule.distinct.size).toDouble)
    if (tr.enabled) {
      val pagedRows = Derby.count(url, Paged)
      val inserted = afterReload + pagedRows
      p.layer ++= Seq(
        "sinks.JdbcSink.rows_inserted" -> inserted.toDouble,
        "sinks.JdbcSink.rows_updated" -> (expectLoad.size + reloaded + expectUpserted - inserted).toDouble,
        "pipeline.fetch_s" -> tr.named("pipeline.PagedSource.fetchPage").map(_.durNs).sum / 1e9)
    }
  }

  override def probe(p: Pass): Unit = {
    val tr = p.tracer
    val (valid, quarantined) = UpcSkuLoad.validateWithQuarantine(UpcSkuLoad.extract(spark, loadDir))
    val counts = (
      UpcSkuLoad.extract(spark, loadDir).count(),
      valid.count(),
      quarantined.count(),
      UpcSkuLoad.dedup(valid).count())
    p.check("pipeline counts")(
      if (counts == Model.counts(load)) Nil
      else Seq(s"(in, valid, quarantined, deduped) = $counts, expected ${Model.counts(load)}"))
    val ready = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, loadDir)))
    val t0 = System.nanoTime()
    tr.span("pipeline.UpcSkuLoad.transform")(ready.count())
    val t1 = System.nanoTime()
    tr.span("pipeline.UpcSkuLoad.recount")(ready.count())
    val t2 = System.nanoTime()
    val materialized = ready.localCheckpoint(true)
    url = Derby.fresh(Seq(Batch, Paged))
    val t3 = System.nanoTime()
    tr.span("sinks.JdbcSink.upsert")(UpcSkuLoad.load(materialized, url, Batch))
    val t4 = System.nanoTime()
    p.check("upsert of the materialized transform")(tableProblems(Batch, expectLoad))
    p.layer ++= Seq(
      "pipeline.rows_in" -> counts._1.toDouble,
      "pipeline.rows_valid" -> counts._2.toDouble,
      "pipeline.rows_quarantined" -> counts._3.toDouble,
      "pipeline.rows_deduped" -> counts._4.toDouble,
      "pipeline.transform_s" -> (t1 - t0) / 1e9,
      "pipeline.recount_s" -> (t2 - t1) / 1e9,
      "sinks.JdbcSink.upsert_s" -> (t4 - t3) / 1e9,
      "sinks.JdbcSink.partitions" -> materialized.rdd.getNumPartitions.toDouble,
      "spark.catalyst.optimized_expr_nodes" ->
        ready.queryExecution.optimizedPlan.collect { case n => n.expressions.map(_.collect { case e => e }.size).sum }.sum.toDouble)
  }
}

object Etl {
  val Batch = "products"
  val Paged = "products_paged"
}

/** Delivers pages in a seeded order that repeats some of them: the
  * at-least-once upstream the keyed upsert must absorb. Records when each
  * delivery was asked for, so a page's latency is the gap to the next ask. */
final class ReplayingSource(inner: PagedSource, schedule: IndexedSeq[Int], tracer: Tracer) extends PagedSource {
  private val askedNs = ArrayBuffer.empty[Long]
  override def fetchPage(page: Int): Option[Seq[RawProduct]] = {
    askedNs += System.nanoTime()
    if (page < 0 || page >= schedule.size) None
    else tracer.span("pipeline.PagedSource.fetchPage")(inner.fetchPage(schedule(page)))
  }
  def pageMs: Seq[Double] = askedNs.toSeq.zip(askedNs.toSeq.drop(1)).map { case (a, b) => (b - a) / 1e6 }
}

/** The common-67 queries, each built through `SparkEntry.queries` and
  * counted, in seeded order. Every count is compared with the DuckDB twin's;
  * a seeded few outputs are compared in full. */
final class QueryCommon67(c: Ctx) extends Workload {
  import c.spark
  private val order = Inputs.queryOrder(c.seed)
  private val oracle = SparkEntry.oracleSql
  private val full = Inputs.fullCheck(order, oracle.keySet, c.seed, QueryCommon67.FullChecks)
  private val counts = LinkedHashMap.empty[String, Long]
  private val byName = LinkedHashMap.empty[String, Op]

  val inputDigest: String = Inputs.digest(order)

  /** The repo Bench's warm-up: one small scan, join and aggregate. */
  def warmUp(): Unit = {
    import org.apache.spark.sql.functions.count
    val n = graft.Fixtures.table(spark, c.sfDir, "nation")
    val r = graft.Fixtures.table(spark, c.sfDir, "region")
    n.join(r, n("n_regionkey") === r("r_regionkey")).groupBy("r_name").agg(count("*")).count()
  }

  def prep(): Unit = {
    graft.ops.BpeTokenizer.clearMemo()
    graft.ops.Graph.clearMemo()
    graft.ops.SnapshotCycle.clearMemo()
  }

  def pass(p: Pass): Unit = {
    val tr = p.tracer
    val queryMs = ArrayBuffer.empty[Double]
    val buildMs = ArrayBuffer.empty[Double]
    val actionMs = ArrayBuffer.empty[Double]
    val moduleS = LinkedHashMap.empty[String, Double]
    counts.clear()
    byName.clear()
    order.foreach { q =>
      var b = 0L
      val module = QueryCommon67.moduleOf(q)
      val (op, n) = p.timed("query", q)(tr.span(s"ops.$module.$q") {
        val t0 = System.nanoTime()
        val df = tr.span("ops.build")(SparkEntry.queries(q)(spark, c.sfDir))
        b = System.nanoTime() - t0
        tr.span("ops.action")(df.count())
      })
      n.foreach(counts(q) = _)
      byName(q) = op
      queryMs += op.ms
      buildMs += b / 1e6
      actionMs += op.ms - b / 1e6
      moduleS(module) = moduleS.getOrElse(module, 0.0) + op.ms / 1e3
    }
    val ms = queryMs.toSeq
    p.extra ++= Seq(
      "query_p50_s" -> (Workloads.median(ms) / 1e3, "s"),
      "query_p85_s" -> (Workloads.quantile(ms, 0.85) / 1e3, "s"),
      "common67_s" -> (ms.sum / 1e3, "s"))
    p.layer ++= Seq("ops.build_ms" -> Workloads.median(buildMs.toSeq), "ops.action_ms" -> Workloads.median(actionMs.toSeq))
    QueryCommon67.Modules.foreach { case (m, _) => p.layer(s"ops.${m}_s") = moduleS.getOrElse(m, 0.0) }
  }

  /** Compare with the DuckDB twins: every count with the twin's count the
    * checkout computed once, and the full outputs of the seeded few through
    * `tools/check.py`, the repo's oracle comparison. */
  override def finish(p: Pass): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val twins = Records.read(c.oracleCounts).extract[Map[String, Long]]
    counts.foreach { case (q, n) =>
      twins.get(q).filter(_ != n).foreach(t => byName(q).fail(s"count $n, DuckDB twin $t"))
    }
    val dir = c.dir("oracle")
    full.foreach(q => SparkEntry.queries(q)(spark, c.sfDir).write.mode("overwrite").parquet(s"$dir/$q"))
    Records.write(s"$dir/oracle_sql.json", org.json4s.JObject(full.toList.map(q => q -> org.json4s.JString(oracle(q)))))
    val log = new File(s"$dir/check.log")
    val code = new ProcessBuilder(Seq("python3", "tools/check.py", dir, c.sfDir) ++ full: _*)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
      .waitFor()
    val src = scala.io.Source.fromFile(log)
    val passed =
      try src.getLines().filter(_.startsWith("PASS ")).map(_.split(' ')(1)).toSet
      finally src.close()
    full.filterNot(passed).foreach(q => byName.get(q).foreach(_.fail(s"output differs from the DuckDB twin (tools/check.py exit $code), see $log")))
    p.extra("oracle_counts_checked") = (counts.keys.count(twins.contains).toDouble, "count")
    p.extra("oracle_full_checked") = (full.size.toDouble, "count")
  }
}

object QueryCommon67 {
  val FullChecks = 2

  /** The `graft.ops` modules whose `queries` maps make up `SparkEntry.queries`. */
  val Modules: Seq[(String, Set[String])] = Seq(
    "Sources" -> graft.ops.Sources.queries.keySet,
    "Relational" -> graft.ops.Relational.queries.keySet,
    "Aggregates" -> graft.ops.Aggregates.queries.keySet,
    "Joins" -> graft.ops.Joins.queries.keySet,
    "SortSetOps" -> graft.ops.SortSetOps.queries.keySet,
    "Windows" -> graft.ops.Windows.queries.keySet,
    "Scalars" -> graft.ops.Scalars.queries.keySet,
    "LlmOps" -> graft.ops.LlmOps.queries.keySet,
    "ExtraText" -> graft.ops.ExtraText.queries.keySet,
    "BpeTokenizer" -> graft.ops.BpeTokenizer.queries.keySet,
    "PipelineOps" -> graft.ops.PipelineOps.queries.keySet,
    "StreamingBatch" -> graft.ops.StreamingBatch.queries.keySet,
    "Analytics" -> graft.ops.Analytics.queries.keySet,
    "Behavior" -> graft.ops.Behavior.queries.keySet,
    "Reports" -> graft.ops.Reports.queries.keySet)

  def moduleOf(q: String): String = Modules.find(_._2.contains(q)).map(_._1).getOrElse("unknown")
}

/** One exactly-once stream into a `SnapshotTable` root: alternating append
  * and upsert epochs, replayed batch ids, point counts and time travel. */
final class SnapshotStream(c: Ctx) extends Workload {
  import c.spark
  private val stream = Inputs.stream(c.seed)
  private val schema = StructType(Seq(
    StructField("upc", StringType),
    StructField("name", StringType),
    StructField("price", DoubleType),
    StructField("epoch", LongType)))
  private def frame(rows: Seq[SRow]): DataFrame =
    spark.createDataFrame(rows.map(r => Row(r.upc, r.name, r.price, r.epoch)).asJava, schema)
  private def srows(df: DataFrame): Seq[SRow] =
    df.select("upc", "name", "price", "epoch").collect().map(r => SRow(r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSeq
  /** states(v) is the table at version v (index 0 unused). */
  private val states: Vector[Vector[SRow]] =
    stream.epochs.scanLeft(stream.initial) { (s, e) =>
      if (e.upsert) Model.upsertRows(s, e.rows) else Model.append(s, e.rows)
    }.toVector.prepended(Vector.empty)
  private var root = ""
  private var n = 0

  val inputDigest: String = Inputs.digest(Seq(Inputs.render(stream)))

  def warmUp(): Unit = {
    val r = c.dir("warm")
    deleteTree(new File(r))
    SnapshotTable.create(spark, r, frame(stream.initial.take(100)))
    val e1 = stream.epochs(0)
    val e2 = stream.epochs(1)
    SnapshotTable.appendBatchExactlyOnce(spark, r, frame(e1.rows.take(20)), 1L)
    SnapshotTable.upsertBatchExactlyOnce(spark, r, frame(e2.rows.take(20)), Seq("upc"), 2L)
    SnapshotTable.appendBatchExactlyOnce(spark, r, frame(e1.rows.take(20)), 1L)
    SnapshotTable.countWhere(spark, r, Seq(SnapshotTable.Bound("upc", Some(e1.point._1), Some(e1.point._2))))
    SnapshotTable.readVersion(spark, r, 1).collect()
  }

  def prep(): Unit = {
    if (root.nonEmpty) deleteTree(new File(root))
    n += 1
    root = c.dir(s"snapshot/$n")
    SnapshotTable.create(spark, root, frame(stream.initial))
  }

  private def commit(e: Inputs.Epoch): Int =
    if (e.upsert) SnapshotTable.upsertBatchExactlyOnce(spark, root, frame(e.rows), Seq("upc"), e.id.toLong)
    else SnapshotTable.appendBatchExactlyOnce(spark, root, frame(e.rows), e.id.toLong)

  def pass(p: Pass): Unit = {
    val tr = p.tracer
    val commitMs = ArrayBuffer.empty[Double]
    val readMs = ArrayBuffer.empty[Double]
    stream.epochs.foreach { e =>
      val kind = if (e.upsert) "upsert" else "append"
      val spanName = if (e.upsert) "sinks.SnapshotTable.upsertBatchExactlyOnce" else "sinks.SnapshotTable.appendBatchExactlyOnce"
      val (op, v) = p.timed(kind, s"epoch ${e.id}")(tr.span(spanName)(commit(e)))
      if (op.ok && !v.contains(e.id + 1)) op.fail(s"committed version ${v.getOrElse(-1)}, expected ${e.id + 1}")
      commitMs += op.ms
      e.replayOf.foreach { j =>
        val orig = stream.epochs(j - 1)
        val (rop, rv) = p.timed("replay", s"epoch ${e.id} replays $j")(tr.span("sinks.SnapshotTable.replay")(commit(orig)))
        if (rop.ok && !rv.contains(j + 1)) rop.fail(s"replay returned version ${rv.getOrElse(-1)}, expected ${j + 1}")
        if (rop.ok && !SnapshotTable.latestVersion(spark, root).contains(e.id + 1)) rop.fail("replay moved the version")
      }
      val bound = SnapshotTable.Bound("upc", Some(e.point._1), Some(e.point._2))
      val (pop, cnt) = p.timed("point_read", s"epoch ${e.id}")(tr.span("sinks.SnapshotTable.countWhere")(
        SnapshotTable.countWhere(spark, root, Seq(bound))))
      val expectCnt = states(e.id + 1).count(r => r.upc >= e.point._1 && r.upc <= e.point._2).toLong
      if (pop.ok && !cnt.contains(expectCnt)) pop.fail(s"countWhere ${cnt.getOrElse(-1)}, expected $expectCnt")
      readMs += pop.ms
      e.timeTravelTo.foreach { v =>
        val (top, got) = p.timed("time_travel", s"epoch ${e.id} reads v$v")(tr.span("sinks.SnapshotTable.readVersion")(
          srows(SnapshotTable.readVersion(spark, root, v))))
        if (top.ok && !got.map(Model.sorted).contains(Model.sorted(states(v)))) top.fail(s"version $v differs from the op-log replay")
        readMs += top.ms
      }
    }
    val finalRows = srows(SnapshotTable.read(spark, root))
    p.check("final state")(
      if (Model.sorted(finalRows) == Model.sorted(states.last)) Nil else Seq("final table differs from the op-log replay"))
    // growth compares whole rounds, so both ends hold one append and one upsert
    val tenth = 2 * math.max(1, commitMs.size / 20)
    p.extra ++= Seq(
      "commit_p50_ms" -> (Workloads.median(commitMs.toSeq), "ms"),
      "commit_p95_ms" -> (Workloads.quantile(commitMs.toSeq, 0.95), "ms"),
      "commit_growth" -> (commitMs.takeRight(tenth).sum / commitMs.take(tenth).sum, "ratio"),
      "read_p50_ms" -> (Workloads.median(readMs.toSeq), "ms"))
  }

  override def probe(p: Pass): Unit = {
    val tr = p.tracer
    def medMs(span: String) = Workloads.median(tr.named(span).map(_.durNs / 1e6))
    val history = SnapshotTable.history(spark, root)
    val live = history.last.files
    val dataBytes = treeBytes(new File(root, "data"))
    val liveBytes = live.map(f => new File(root, f.path).length()).sum
    p.layer ++= Seq(
      "sinks.SnapshotTable.append_ms" -> medMs("sinks.SnapshotTable.appendBatchExactlyOnce"),
      "sinks.SnapshotTable.upsert_ms" -> medMs("sinks.SnapshotTable.upsertBatchExactlyOnce"),
      "sinks.SnapshotTable.replay_ms" -> medMs("sinks.SnapshotTable.replay"),
      "sinks.SnapshotTable.point_read_ms" -> medMs("sinks.SnapshotTable.countWhere"),
      "sinks.SnapshotTable.timetravel_ms" -> medMs("sinks.SnapshotTable.readVersion"),
      "sinks.SnapshotTable.manifests" -> history.size.toDouble,
      "sinks.SnapshotTable.files_live" -> live.size.toDouble,
      "sinks.SnapshotTable.bytes_on_disk" -> treeBytes(new File(root)).toDouble,
      "sinks.SnapshotTable.write_amp" -> (if (liveBytes > 0) dataBytes.toDouble / liveBytes else 0.0))
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L) else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
