package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._

/** One benchmark run: one workload, one seed, in one JVM.
  *
  * Set-up (session, seeded inputs, the untimed warm-up, a fresh table) is
  * timed as `setup_s`. Untraced runs then repeat the timed pass until
  * `--seconds` have passed, at least once, each on fresh state. A traced run
  * makes one traced pass on fresh state: it records spans around every call
  * into the program and Spark's own job, task and planning events, and its
  * wall time against the latest untraced run's is the tracing overhead.
  * The record goes to `<work>/results/`; the last line of stdout is the
  * JSON summary (correct, attempted, failed, metrics), built by reading
  * that record back.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --sf <fixture dir> --work <scratch dir>
  *          --oracle-counts <DuckDB twin counts json>
  *        perfbench.Main --oracle-sql <out json>
  */
object Main {
  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      sfDir: String,
      work: String,
      oracleCounts: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("sf"), need("work"), need("oracle-counts"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // a traced query pass posts tens of thousands of task events
      .config("spark.scheduler.listenerbus.eventqueue.capacity", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** wall_s of the newest untraced record of `workload` from this build. */
  private def lastUntracedWallS(work: String, workload: String): Option[Double] = {
    val digest = sys.props.getOrElse("perfbench.sourceDigest", "")
    Option(new java.io.File(s"$work/results").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".json"))
      .sortBy(-_.lastModified)
      .iterator
      .map(f => Records.read(f.getPath))
      .collectFirst {
        case r if r \ "workload" == JString(workload) && r \ "traced" == JBool(false) &&
            r \ "provenance" \ "source_digest" == JString(digest) &&
            (r \ "end_to_end" \ "wall_s" \ "value").isInstanceOf[JDouble] =>
          (r \ "end_to_end" \ "wall_s" \ "value").asInstanceOf[JDouble].num
      }
  }

  private def runPass(wl: Workload, tracer: Tracer): Pass = {
    val p = new Pass(tracer)
    p.startMs = System.currentTimeMillis()
    tracer.span("bench.pass")(wl.pass(p))
    p.endMs = System.currentTimeMillis()
    p
  }

  def main(argv: Array[String]): Unit = argv match {
    case Array("--oracle-sql", out) => writeOracleSql(out)
    case _                          => run(argv)
  }

  /** The DuckDB twin SQL of every common-67 query that has one. */
  private def writeOracleSql(out: String): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Records.write(out, JObject(Inputs.Common67.filter(sql.contains).toList.map(q => q -> JString(sql(q)))))
  }

  private def run(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}; known: ${Workloads.Names.mkString(", ")}")
    val declaredE2e = Records.declared("BENCHMARK.json", "end_to_end")
    val declaredLayer = Records.declared("BENCHMARK.json", "per_layer")
    val unknown = declaredLayer.map(_._1).filterNot(PerLayer.Names.contains)
    require(unknown.isEmpty, s"BENCHMARK.json declares per-layer metrics this benchmark does not measure: $unknown")

    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val cores = math.min(Workloads.cores(a.workload), Runtime.getRuntime.availableProcessors)
    val runId = s"${a.workload}-s${a.seed}-t${if (a.trace) 1 else 0}-$jvmStartMs"
    val spark = session(cores, a.work)
    val sparkVersion = spark.version
    val sessionMs = System.currentTimeMillis()
    val ctx = new Ctx(spark, a.sfDir, s"${a.work}/${a.workload}", a.seed, a.oracleCounts)
    val wl = Workloads(a.workload, ctx)
    val inputsMs = System.currentTimeMillis()
    wl.warmUp()
    val warmMs = System.currentTimeMillis()
    // the fresh-state step is set up three times and counted once, at its median
    val prepS = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      wl.prep()
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - prepS.sum + Workloads.median(prepS)

    // a traced run compares its wall time with the latest untraced run of
    // this workload and build; it makes that untraced pass itself when none ran
    val reference = if (a.trace) lastUntracedWallS(a.work, a.workload) else None
    val untraced = ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (reference.isEmpty && (untraced.isEmpty || (!a.trace && System.nanoTime() < deadline))) {
      if (untraced.nonEmpty) wl.prep()
      val p = runPass(wl, new Tracer(false, runId))
      wl.finish(p)
      untraced += p
    }
    val traced = if (!a.trace) None else {
      wl.prep()
      val probe = new SparkProbe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      val p = runPass(wl, new Tracer(true, runId))
      wl.probe(p)
      wl.finish(p)
      Some((p, probe))
    }
    spark.stop() // drains the listener bus: every event of the traced pass is in
    val loadEnd = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val passes = untraced.toSeq ++ traced.map(_._1)
    val ops = passes.flatMap(_.ops)
    val failed = ops.count(!_.ok)
    val timed = if (untraced.nonEmpty) untraced.toSeq else passes
    def med(f: Pass => Double) = Workloads.median(timed.map(f))
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> med(_.wallNs / 1e9),
      "peak_rss_mb" -> Records.peakRssMb)
    val extra = timed.head.extra.toSeq.map { case (n, (_, unit)) => (n, med(_.extra(n)._1), unit) } ++
      Seq(("cpu_s", med(_.cpuNs / 1e9), "s"), ("failed_frac", failed.toDouble / ops.size, "ratio"))
    val layer: Map[String, Double] = traced match {
      case None => Map.empty
      case Some((p, probe)) =>
        val self = p.tracer.selfSeconds.map { case (l, s) => s"self.${l}_s" -> s }
        val overhead = p.wallNs / 1e9 / reference.getOrElse(untraced.head.wallNs / 1e9) - 1
        val measured = probe.window(p.startMs, p.endMs, cores) ++ self ++ p.layer + ("trace_overhead_frac" -> overhead)
        // a median over no calls is a layer this workload does not reach
        PerLayer.Names.map(_ -> 0.0).toMap ++ measured.map { case (n, v) => n -> (if (v.isNaN) 0.0 else v) }
    }

    val missing = declaredE2e.map(_._1).filterNot(e2e.contains)
    require(missing.isEmpty, s"BENCHMARK.json declares end-to-end metrics this benchmark does not measure: $missing")
    val record = JObject(
      "benchmark" -> JString("perfbench"),
      "run_id" -> JString(runId),
      "workload" -> JString(a.workload),
      "seed" -> JLong(a.seed),
      "traced" -> JBool(a.trace),
      "input_digest" -> JString(wl.inputDigest),
      "provenance" -> Records.provenance(cores, loadStart, loadEnd, sparkVersion, a.trace, a.seed),
      "correct" -> JBool(failed == 0),
      "attempted" -> JInt(ops.size),
      "failed" -> JInt(failed),
      "passes" -> JInt(untraced.size),
      "untraced_reference_wall_s" -> reference.map(Records.num).getOrElse(JNull),
      "setup_breakdown_s" -> JObject(
        "jvm_and_session" -> JDouble((sessionMs - jvmStartMs) / 1e3),
        "inputs" -> JDouble((inputsMs - sessionMs) / 1e3),
        "warm_up" -> JDouble((warmMs - inputsMs) / 1e3),
        "fresh_state" -> JArray(prepS.toList.map(JDouble(_)))),
      "end_to_end" -> Records.metrics(declaredE2e.map { case (n, u) => (n, e2e(n), u) }),
      "workload_metrics" -> Records.metrics(extra),
      "per_layer" -> Records.metrics(declaredLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }),
      "failures" -> JArray(ops.filterNot(_.ok).toList.map(o => JString(s"${o.kind} ${o.name}: ${o.note}"))),
      "ops" -> JArray(ops.toList.map(o =>
        JObject("kind" -> JString(o.kind), "name" -> JString(o.name), "ms" -> JDouble(o.ms), "ok" -> JBool(o.ok)))),
      "spans" -> JArray(traced.toList.flatMap(_._1.tracer.spans).map(s =>
        JObject(
          "id" -> JInt(s.id),
          "name" -> JString(s.name),
          "parent" -> JInt(s.parent),
          "start_ns" -> JLong(s.startNs),
          "end_ns" -> JLong(s.endNs),
          "run_id" -> JString(s.runId)))))
    val path = s"${a.work}/results/$runId.json"
    Records.write(path, record)

    // the summary is read back from the written record
    val back = Records.read(path)
    def show(key: String): Unit = back \ key match {
      case JObject(fields) =>
        fields.foreach { case (n, m) =>
          println(f"${a.workload}%-16s $n%-36s ${Records.compact(m \ "value")}%s ${Records.compact(m \ "unit").replace("\"", "")}%s")
        }
      case _ => ()
    }
    show("end_to_end")
    show("workload_metrics")
    if (a.trace) show("per_layer")
    (back \ "failures").children.foreach(f => println(s"${a.workload} FAILED ${Records.compact(f)}"))
    println(s"record: $path")
    println(Records.compact(JObject(
      "correct" -> back \ "correct",
      "attempted" -> back \ "attempted",
      "failed" -> back \ "failed",
      "metrics" -> back \ (if (a.trace) "per_layer" else "end_to_end"))))
  }
}

/** Every per-layer metric the traced run can report; a workload reports 0
  * for a layer it does not touch. */
object PerLayer {
  val Names: Seq[String] = Seq(
    "pipeline.transform_s", "pipeline.recount_s", "pipeline.rows_in", "pipeline.rows_valid",
    "pipeline.rows_quarantined", "pipeline.rows_deduped", "pipeline.fetch_s", "pipeline.pages",
    "pipeline.pages_replayed",
    "spark.catalyst.analysis_ms", "spark.catalyst.optimization_ms", "spark.catalyst.planning_ms",
    "spark.catalyst.optimized_expr_nodes",
    "spark.exec.jobs", "spark.exec.tasks", "spark.exec.executor_run_s", "spark.exec.executor_cpu_s",
    "spark.exec.gc_s", "spark.exec.shuffle_read_bytes", "spark.exec.shuffle_write_bytes",
    "spark.exec.spill_bytes", "spark.exec.driver_gap_s", "spark.exec.core_util",
    "sinks.JdbcSink.upsert_s", "sinks.JdbcSink.rows_inserted", "sinks.JdbcSink.rows_updated",
    "sinks.JdbcSink.partitions",
    "sinks.SnapshotTable.append_ms", "sinks.SnapshotTable.upsert_ms", "sinks.SnapshotTable.replay_ms",
    "sinks.SnapshotTable.point_read_ms", "sinks.SnapshotTable.timetravel_ms", "sinks.SnapshotTable.manifests",
    "sinks.SnapshotTable.files_live", "sinks.SnapshotTable.bytes_on_disk", "sinks.SnapshotTable.write_amp",
    "ops.build_ms", "ops.action_ms") ++
    QueryCommon67.Modules.map { case (m, _) => s"ops.${m}_s" } ++
    Seq("self.bench_s", "self.pipeline_s", "self.sinks.JdbcSink_s", "self.sinks.SnapshotTable_s", "self.ops_s",
      "trace_overhead_frac")
}
