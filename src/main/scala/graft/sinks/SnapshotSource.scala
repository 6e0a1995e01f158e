package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{
  BaseRelation,
  CreatableRelationProvider,
  DataSourceRegister,
  Filter,
  PrunedFilteredScan,
  RelationProvider,
  StreamSinkProvider,
  StreamSourceProvider
}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** The snapshot table as a STRUCTURED STREAMING SOURCE — the Delta
  * streaming-source core: `spark.readStream.format("snapshot-table")
  * .option("path", root).load()` turns the commit log into a stream.
  * Offsets ARE table versions, so the semantics fall out of the manifest
  * protocol: each micro-batch is the files the commits in `(start, end]`
  * ADDED (an append's new dir exactly; the first batch is the full
  * snapshot at the stream's starting version), progress survives restarts
  * through the ordinary checkpoint (offsets serialize as version numbers
  * and replayed ranges re-read the same immutable files — exactly-once
  * into an idempotent sink), and COMPACTION is invisible by construction
  * (data-identical commits are skipped, their file churn never re-emitted).
  * Row-level DML commits re-emit the rewritten files' surviving rows —
  * Delta's `ignoreChanges` contract, documented rather than silently
  * wrong; merge-on-read masks are likewise never applied to streamed
  * batches (an emitted row is never retracted). Downstream dedup or the
  * CDC reader ([[SnapshotTable.changesBetween]]) are the precise tools
  * for mutation streams.
  *
  * ADMISSION CONTROL (`maxFilesPerTrigger` / `maxBytesPerTrigger`): a
  * 100-TB backfill must not arrive as one giant batch. With either option
  * set, offsets become POSITIONS `{"v":version,"i":filesConsumed,"snap":…}`
  * — the initial snapshot and each commit's added-file list split across
  * micro-batches at file granularity, every batch capped at the
  * configured budget (always ≥ 1 file, so progress is guaranteed; a file
  * with unrecorded bytes conservatively exhausts the byte budget).
  * Restart recovery is positional: a checkpointed mid-version offset
  * resumes at the exact file index, and a LEGACY version-number offset
  * (a checkpoint written before rate limiting) upgrades seamlessly —
  * it reads as "version fully consumed". Exactly-once is unchanged:
  * positions denote prefixes of deterministic per-version file lists
  * over immutable files.
  *
  * Scale shape: `getOffset` is one manifest listing + lite manifest
  * reads; `getBatch` plans one parquet scan over only the batch's files
  * (through [[SnapshotFileIndex]], so pushed-down filters of the
  * streaming query prune within the batch too). Old files must still
  * exist: retain vacuum history past the slowest reader, the same
  * contract as time travel. */
final class SnapshotSource(
    spark: SparkSession,
    root: String,
    startVersion: Option[Int],
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    cdc: Boolean = false)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val rateLimited = maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined
  require(
    !(cdc && rateLimited),
    "readChangeFeed batches are per-version (cost ∝ touched data); " +
      "maxFilesPerTrigger/maxBytesPerTrigger apply to the append stream only")

  // the stream serves the schema recorded when it started; later evolved
  // files read by-name (missing columns null), like readVersion
  private val tableSchema: StructType = {
    val v = SnapshotTable
      .latestVersion(spark, root)
      .getOrElse(sys.error(s"no snapshot table at $root"))
    SnapshotTable
      .readManifest(spark, root, v)
      .schemaJson
      .map(SnapshotTable.schemaFromJson)
      .getOrElse(SnapshotTable.readVersion(spark, root, v).schema)
  }

  override val schema: StructType =
    if (!cdc) tableSchema
    else SnapshotSource.cdcSchema(tableSchema)

  // ───────────────────────── positions & lists ─────────────────────────

  /** A stream position: `snap=true` while consuming the initial full
    * snapshot's file list at version `v`; false while consuming version
    * v's ADDED-file delta. `i` = files of that list already consumed. */
  private case class Position(v: Int, i: Int, snap: Boolean) {
    def json: String = s"""{"v":$v,"i":$i,"snap":$snap}"""
  }

  private case class PositionOffset(p: Position) extends V1Offset {
    override def json(): String = p.json
  }

  private def parsePosition(o: V1Offset): Position = {
    val txt = o match {
      case LongOffset(l) => l.toString
      case SerializedOffset(json) => json.trim
      case other => other.json().trim
    }
    if (txt.startsWith("{")) {
      val j = org.json4s.jackson.JsonMethods.parse(txt)
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      Position(
        (j \ "v").extract[Int],
        (j \ "i").extract[Int],
        (j \ "snap").extract[Boolean])
    } else Position(txt.toInt, Int.MaxValue, snap = false) // legacy: version fully consumed
  }

  // manifests are immutable once published: cache them per source so a
  // trigger's walk/getBatch pair parses each version's JSON once, not
  // once per helper call (the per-trigger re-parse was measurable at the
  // 10⁵-file manifests the checkpoint work targets). BOUNDED: a stream
  // only ever looks at a sliding window of recent versions, but it runs
  // for months — an unevicted cache of 10⁵-FileStat Commits would
  // eventually OOM the driver. Oldest versions evict beyond the window.
  private val CacheWindow = 8
  private val manifestCache = scala.collection.concurrent.TrieMap.empty[Int, SnapshotTable.Commit]
  private def manifest(v: Int): SnapshotTable.Commit = {
    val c = manifestCache.getOrElseUpdate(v, SnapshotTable.readManifest(spark, root, v))
    if (manifestCache.size > CacheWindow)
      manifestCache.keys.toSeq.sorted.dropRight(CacheWindow).foreach { old =>
        manifestCache.remove(old); bytesCache.remove(old)
      }
    c
  }

  /** Version v's ADDED entries in deterministic (manifest) order;
    * compaction is data-identical and adds nothing; version 0 is the
    * empty pre-create table (positions may legitimately sit there —
    * `startVersion=1`, legacy-offset upgrades).
    *
    * RESTORE commits add NOTHING: a restore copies an EARLIER version's
    * manifest verbatim, so every entry it lists was live at that earlier
    * version — under the appends-once contract (a physical file is
    * appended exactly the first time any version lists it; normal
    * commits add fresh uuid-named entries, for which the cheap v-1 diff
    * IS that rule) the stream has emitted all of them already, and a
    * v-1 diff would re-emit their rows (duplicates downstream of an
    * exactly-once sink). Derived from the manifest SHAPE alone — no
    * history sweep, so vacuumed pre-restore manifests can neither crash
    * the walk nor (worse) silently widen the diff. Rows a restore
    * logically revives are not appends; the exact mutation stream is
    * `readChangeFeed`. */
  private def addedEntries(v: Int): Seq[String] =
    if (v <= 0) Seq.empty
    else {
      val cur = manifest(v)
      if (cur.action == "compact" || cur.action == "restore") Seq.empty
      else if (v == 1) SnapshotTable.fileEntries(cur)
      else {
        val prev = SnapshotTable.fileEntries(manifest(v - 1)).toSet
        SnapshotTable.fileEntries(cur).filterNot(prev)
      }
    }

  private def listAt(p: Position): Seq[String] =
    if (p.snap) SnapshotTable.fileEntries(manifest(p.v)) else addedEntries(p.v)

  /** Per-version entry → byte size (manifest-recorded), built once —
    * bytesOf inside the walk must not be an O(files) scan per entry. An
    * unsized entry (pre-bytes manifest, stat-less dir) maps to MaxValue:
    * it conservatively exhausts the byte budget WHEN one is configured
    * (it still ships — ≥ 1 entry per batch). Evicted alongside
    * [[manifestCache]]. */
  private lazy val bytesCache = scala.collection.concurrent.TrieMap.empty[Int, Map[String, Long]]
  private def bytesOf(v: Int, entry: String): Long =
    bytesCache
      .getOrElseUpdate(
        v,
        manifest(v).files.map(f => f.path -> (if (f.bytes >= 0) f.bytes else Long.MaxValue)).toMap)
      .getOrElse(entry, Long.MaxValue)

  /** Walk from `from` toward `latest`, collecting entries within the
    * file/byte budget. Returns (end position, entries in (from, end]).
    * Never leaves a snapshot list mid-batch AND crosses into deltas (so a
    * start=None batch is always reconstructible from its end position);
    * always ships ≥ 1 entry when any is available. */
  private def walk(
      from: Position,
      latest: Int,
      files: Option[Int] = maxFilesPerTrigger,
      bytes0: Option[Long] = maxBytesPerTrigger): (Position, Seq[String]) = {
    val budgetF = files.getOrElse(Int.MaxValue)
    val budgetB = bytes0.getOrElse(Long.MaxValue)
    // bytes only gate batches when a byte budget is CONFIGURED — with
    // maxFilesPerTrigger alone, an unsized entry must not collapse the
    // batch to one file
    val trackBytes = bytes0.isDefined
    var p = normalize(from, latest)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var bytes = 0L
    var exhausted = false
    while (!exhausted && out.size < budgetF && bytes < budgetB && p.v <= latest) {
      val list = listAt(p)
      var i = p.i
      while (i < list.size && out.size < budgetF && bytes < budgetB) {
        out += list(i)
        if (trackBytes) {
          val b = bytesOf(p.v, list(i))
          bytes = if (b == Long.MaxValue) Long.MaxValue else math.min(Long.MaxValue - 1, bytes + b)
        }
        i += 1
      }
      p = Position(p.v, i, p.snap)
      if (i >= list.size) {
        // list done: advance to the next version's delta — but never in
        // the same batch as a snapshot prefix (reconstruction invariant)
        if (p.snap && out.nonEmpty) exhausted = true
        else if (p.v < latest) p = Position(p.v + 1, 0, snap = false)
        else exhausted = true
      } else exhausted = out.size >= budgetF || bytes >= budgetB
    }
    (p, out.toSeq)
  }

  /** True when `p` sits INSIDE a version's entry list (unconsumed tail) —
    * the one start shape a legacy whole-version end offset cannot encode.
    * A fully-consumed list (i ≥ size, incl. the Int.MaxValue scratch
    * sentinel) is NOT mid-list: `(p.v+1)..latest` delta semantics are
    * exact from there. */
  private def midList(p: Position, latest: Int): Boolean =
    p.v <= latest && p.i < listAt(p).size

  /** Snap a position onto the next non-empty list start. */
  private def normalize(p: Position, latest: Int): Position = {
    var cur = p
    while (cur.v < latest && cur.i >= listAt(cur).size) cur = Position(cur.v + 1, 0, snap = false)
    cur
  }

  // last end position this source produced or committed — getOffset's
  // walk origin. Recovered from getBatch/commit after a restart; until
  // one of those runs, the first batch after restart is uncapped (legacy
  // whole-version semantics), which only affects batch SIZING, never
  // exactly-once.
  @volatile private var pos: Option[Position] = None

  override def getOffset: Option[V1Offset] = {
    val latestOpt = SnapshotTable.latestVersion(spark, root)
    if (latestOpt.isEmpty) return None
    val latest = latestOpt.get
    if (!rateLimited) {
      pos.filter(midList(_, latest)) match {
        // same mid-list guard as [[latestOffset]]'s unbounded branch: after a
        // replayed batch left `pos` inside a version's list, a legacy
        // LongOffset end would drop that list's unconsumed tail
        case Some(p) =>
          val (end, entries) = walk(p, latest, None, None)
          if (entries.isEmpty) pos.map(PositionOffset(_)) else Some(PositionOffset(end))
        case None => latestOpt.map(v => LongOffset(v.toLong))
      }
    } else {
      val from = pos.getOrElse(scratchPosition(latest))
      val (end, entries) = walk(from, latest)
      if (entries.isEmpty) pos.map(p => PositionOffset(p)) // no new data
      else Some(PositionOffset(end))
    }
  }

  private def scratchPosition(latest: Int): Position =
    startVersion match {
      case Some(sv) => Position(sv - 1, Int.MaxValue, snap = false)
      case None => Position(latest, 0, snap = true) // begin the full snapshot
    }

  // ─────────── admission control / Trigger.AvailableNow ───────────
  // The engine prefers this surface over getOffset when a source
  // implements SupportsAdmissionControl (FileStreamSource's pattern).
  // It is REQUIRED for Trigger.AvailableNow correctness under rate
  // limits: the generic V1 wrapper captures ONE getOffset result as the
  // drain target, and a rate-limited getOffset returns only the next
  // CAPPED offset — the wrapped query would stop after a single batch
  // and report a truncated backlog as fully drained. Implementing the
  // trait pins the true end at query start (prepareForTriggerAvailableNow)
  // and lets every latestOffset step walk toward it under the limit.
  // Bonus over the getOffset path: the engine hands the prior end offset
  // back as `start`, so a RESTARTED rate-limited query sizes its first
  // batch correctly instead of falling back to whole-version semantics.

  // drain target pinned at AvailableNow query start: commits landing
  // after the pin are the NEXT run's work (Spark's AvailableNow contract)
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = SnapshotTable.latestVersion(spark, root)

  override def getDefaultReadLimit: org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val limits =
      maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).toSeq ++
        maxBytesPerTrigger.map(b => ReadLimit.maxBytes(b)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Sentinel meaning "nothing consumed yet" — only ever a START for
    * [[latestOffset]] (never logged as an end), so it cannot collide
    * with legacy checkpoint offsets. */
  override def initialOffset(): org.apache.spark.sql.connector.read.streaming.Offset =
    PositionOffset(Position(-1, -1, snap = false))

  override def deserializeOffset(
      json: String): org.apache.spark.sql.connector.read.streaming.Offset =
    PositionOffset(parsePosition(SerializedOffset(json)))

  override def commit(end: org.apache.spark.sql.connector.read.streaming.Offset): Unit =
    end match {
      case v1: V1Offset => commit(v1)
      case other => commit(SerializedOffset(other.json()): V1Offset)
    }

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val latestOpt = SnapshotTable.latestVersion(spark, root)
    if (latestOpt.isEmpty) return start
    // AvailableNow: never walk past the pinned target (even as commits land)
    val latest = availableNowCap.fold(latestOpt.get)(math.min(_, latestOpt.get))
    val startPos = Option(start)
      .map {
        case v1: V1Offset => parsePosition(v1)
        case other => parsePosition(SerializedOffset(other.json()))
      }
      .filter(_.v >= 0) // the initial sentinel means "from scratch"
    // honor the limit the ENGINE passed, not the constructor options
    // verbatim: normally it hands getDefaultReadLimit back, but e.g.
    // Trigger.Once passes ReadLimit.allAvailable() and expects the whole
    // backlog in one batch — applying the configured cap there would
    // truncate the drain and terminate early
    val (limitF, limitB) = readLimitBudgets(limit)
    if (limitF.isEmpty && limitB.isEmpty) {
      // a checkpointed MID-LIST positional start (killed rate-limited run,
      // then Trigger.Once / restart without the rate-limit options) must
      // keep a positional END: a legacy LongOffset end would route
      // getBatch to legacyEntries((v+1)..latest), silently dropping the
      // unconsumed entries i..size of version v — permanent row loss
      startPos.filter(midList(_, latest)) match {
        case Some(p) =>
          val (end, entries) = walk(p, latest, None, None)
          if (entries.isEmpty) start else PositionOffset(end)
        case None =>
          val consumed = startPos.map(_.v).getOrElse(-1)
          if (latest <= consumed && startPos.isDefined) start
          else LongOffset(latest.toLong)
      }
    } else {
      val from = startPos.orElse(pos).getOrElse(scratchPosition(latest))
      val (end, entries) = walk(from, latest, limitF, limitB)
      if (entries.isEmpty) start else PositionOffset(end)
    }
  }

  /** (maxFiles, maxBytes) of an engine-passed ReadLimit; (None, None) =
    * unbounded (ReadAllAvailable). */
  private def readLimitBudgets(
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : (Option[Int], Option[Long]) = {
    import org.apache.spark.sql.connector.read.streaming._
    limit match {
      case f: ReadMaxFiles => (Some(f.maxFiles()), None)
      case b: ReadMaxBytes => (None, Some(b.maxBytes()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(readLimitBudgets).reduce((a, b) =>
          (a._1.orElse(b._1), a._2.orElse(b._2)))
      case _ => (None, None) // ReadAllAvailable (or an unknown limit: no cap)
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    if (cdc) return cdcBatch(start, end)
    val endPos = parsePosition(end)
    val entries = appendEntries(start, end, endPos)
    pos = Some(endPos)
    frameFor(entries, endPos.v)
  }

  /** The append-stream entry set of batch `(start, end]` — shared by the
    * V1 [[getBatch]] and the DSv2 [[offsetFiles]] leg. */
  private def appendEntries(
      start: Option[V1Offset],
      end: V1Offset,
      endPos: Position): Seq[String] =
    // a LEGACY (pre-rate-limit) end offset — a plain version number from a
    // checkpoint written before maxFilesPerTrigger was enabled — always
    // replays with legacy semantics, EVEN under rate limiting: its batch 0
    // was the full snapshot AT endV, not per-commit deltas from version 0.
    // Reconstructing it as deltas would re-emit rows of since-removed
    // files (duplicates) or fail on vacuumed files on tables with
    // pre-stream overwrite/DML churn.
    if (!end.json().trim.startsWith("{")) legacyEntries(start, endPos.v)
    else {
      val from = start.map(parsePosition).getOrElse {
        startVersion match {
          case Some(sv) => Position(sv - 1, Int.MaxValue, snap = false)
          case None if endPos.snap =>
            // initial batch: its end is inside the snapshot list of the
            // base version (walk never crosses out of a non-empty
            // snapshot in one batch)
            Position(endPos.v, 0, snap = true)
          case None =>
            // empty-initial-snapshot corner: the walk started on an
            // empty snapshot list and crossed into deltas
            Position(0, Int.MaxValue, snap = false)
        }
      }
      collectBetween(from, endPos)
    }

  /** DSv2 micro-batch leg ([[GraftMicroBatchStream]]): the batch
    * `(start, end]` as a `(absolute path, bytes)` FILE list — identical
    * entry algebra to [[getBatch]] (same positions, same restore/compact
    * skip rules, same mask non-application), resolved to concrete files
    * through the same synthetic-manifest index [[frameFor]] scans. */
  private[sinks] def offsetFiles(
      start: Option[org.apache.spark.sql.connector.read.streaming.Offset],
      end: org.apache.spark.sql.connector.read.streaming.Offset): Seq[(String, Long)] = {
    def v1(o: org.apache.spark.sql.connector.read.streaming.Offset): V1Offset = o match {
      case v: V1Offset => v
      case other => SerializedOffset(other.json())
    }
    require(!cdc, "the DSv2 micro-batch leg serves the append stream only")
    val endV1 = v1(end)
    val endPos = parsePosition(endV1)
    // the initial sentinel (v = -1) means "from scratch", like a V1 None
    val startV1 = start.map(v1).filter(o => parsePosition(o).v >= 0)
    val entries = appendEntries(startV1, endV1, endPos)
    pos = Some(endPos)
    val endManifest = manifest(endPos.v)
    val entrySet = entries.toSet
    val synthetic = endManifest.copy(
      dirs = entries,
      files = endManifest.files.filter(f => entrySet.contains(f.path)),
      masks = Seq.empty)
    val phys = SnapshotTable.physicalSchemaOf(schema)
    new SnapshotFileIndex(spark, SnapshotTable.dataRoot(root), synthetic, phys)
      .listFiles(Nil, Nil)
      .flatMap(_.files)
      .map(st => (st.getPath.toString, st.getLen))
  }

  /** Entries strictly after `from`, through `to` — the deterministic
    * prefix difference of the walk's position space. */
  private def collectBetween(from: Position, to: Position): Seq[String] = {
    var p = normalize(from, to.v)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (p.v < to.v || (p.v == to.v && p.i < to.i)) {
      val list = listAt(p)
      val limit = if (p.v == to.v) math.min(to.i, list.size) else list.size
      out ++= list.slice(p.i, limit)
      p = Position(p.v, limit, p.snap)
      if (p.i >= list.size && p.v < to.v) p = Position(p.v + 1, 0, snap = false)
      else if (p.i >= limit && p.v == to.v) p = Position(p.v, to.i, p.snap) // done
    }
    out.toSeq
  }

  /** Pre-rate-limit semantics: union of per-commit added files over
    * (start, endV]; initial load = full snapshot at endV. */
  private def legacyEntries(start: Option[V1Offset], endV: Int): Seq[String] =
    start.map(o => parsePosition(o).v).orElse(startVersion.map(_ - 1)) match {
      case None | Some(0) =>
        SnapshotTable.fileEntries(manifest(endV))
      case Some(s) =>
        ((s + 1) to endV).flatMap(addedEntries).distinct
    }

  private def frameFor(entries: Seq[String], endV: Int): DataFrame = {
    val endManifest = manifest(endV)
    val entrySet = entries.toSet
    // masks are deliberately NOT applied to streamed batches: the append
    // stream emits each file's rows as of the commit that ADDED it, and a
    // later merge-on-read mask never retracts already-emitted rows — the
    // same contract as COW DML re-emission (ignoreChanges): the CDC
    // reader (changesBetween / readChangeFeed) is the mutation-stream tool
    val synthetic = endManifest.copy(
      dirs = entries,
      files = endManifest.files.filter(f => entrySet.contains(f.path)),
      masks = Seq.empty)
    // scan PHYSICAL columns, surface logical (renamed tables; see
    // SnapshotTable's column mapping) — the stream's output schema stays
    // the logical one the source declared
    val phys = SnapshotTable.physicalSchemaOf(schema)
    val idx = new SnapshotFileIndex(spark, SnapshotTable.dataRoot(root), synthetic, phys)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx,
      new StructType(),
      phys,
      None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
    val base =
      org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LogicalRelation(rel, isStreaming = true))
    if (phys.fieldNames.sameElements(schema.fieldNames)) base
    else
      base.select(schema.fields.map(f =>
        org.apache.spark.sql.functions.col("`" + SnapshotTable.physName(f) + "`").as(f.name)).toSeq: _*)
  }

  // ───────────────────────── change-data feed ─────────────────────────

  /** STREAMED CDC — `option("readChangeFeed","true")`: each micro-batch
    * emits [[SnapshotTable.changesBetween]]'s row-level `_change_type` /
    * `_commit_version` rows for the commit range `(start, end]` (the
    * first batch starts at `startVersion-1`, default 0 = the creation as
    * inserts — Delta CDF's startingVersion semantics). The change rows of
    * a range are computed once and MATERIALIZED under
    * `<root>/_cdc/r<from>_<to>/` — deterministic per range, so a replayed
    * batch (restart) reuses the bytes instead of recomputing, and the
    * streamed feed over closed input is EXACTLY the batch
    * `changesBetween` result (spec-pinned). Cost per batch ∝ the data its
    * commits touched, the changesBetween economics; vacuum reclaims
    * feeds whose range fell out of retained history. */
  private def cdcBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val endV = parsePosition(end).v
    val fromV = start
      .map(o => parsePosition(o).v)
      .orElse(startVersion.map(_ - 1))
      .getOrElse(0)
    // Compute-or-reuse the range's materialized feed (the shared
    // per-range CDC cache — [[SnapshotTable.materializeChanges]]): two
    // queries (same table, same startVersion, separate checkpoints) can
    // materialize the same range concurrently — publish is the
    // object-store-safe per-file-move + `_SUCCESS`-manifest-last protocol,
    // and this reader scans EXACTLY the files the complete publish named
    // (a racer's orphan parts are invisible), so no atomic directory
    // rename is assumed on the table root's store.
    val files = SnapshotTable.materializedChangeFiles(spark, root, fromV, endV)
    val idx = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      files,
      Map.empty,
      Some(schema))
    val rel2 = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      idx,
      new StructType(),
      schema,
      None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
    pos = Some(Position(endV, Int.MaxValue, snap = false))
    org.apache.spark.sql.GraftSqlBridge.ofRows(spark, LogicalRelation(rel2, isStreaming = true))
  }

  override def commit(end: V1Offset): Unit =
    try pos = Some(parsePosition(end))
    catch { case _: Exception => () }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotSource[$root]"
}

object SnapshotSource {
  /** The change-feed schema: the table's columns plus the CDC tags. */
  def cdcSchema(table: StructType): StructType =
    StructType(
      table.fields :+
        org.apache.spark.sql.types.StructField("_change_type", org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("_commit_version", org.apache.spark.sql.types.IntegerType))
}

/** The snapshot table as a STRUCTURED STREAMING SINK —
  * `stream.writeStream.format("snapshot-table").option("path", root)`:
  * each micro-batch lands through the EXACTLY-ONCE epoch operators the
  * `foreachBatch` adapters already expose (the batch id rides the
  * manifest, so replayed epochs are no-ops however often they rerun).
  * Plain streams append ([[SnapshotTable.appendBatchExactlyOnce]] —
  * creates the table on the first epoch); with `.option("upsertKeys",
  * "k1,k2")` every batch MERGEs by those keys instead
  * ([[SnapshotTable.upsertBatchExactlyOnce]], the CDC-apply shape;
  * `.option("morWrites","true")` takes the O(change) merge-on-read
  * route). Complete mode is refused — a snapshot table's full-rewrite
  * analogue is `overwrite`, not a streaming sink.
  *
  * MAINTENANCE LOOP: a per-epoch trickle is exactly the small-file shape
  * [[SnapshotTable.compactSmall]] exists for — `.option("compactEvery",
  * N)` runs it after every Nth epoch (bin-packing only the sub-threshold
  * files toward `compactTargetBytes`, default 128 MB), so a long-running
  * stream's file count stays bounded by the data volume instead of the
  * epoch count. The compaction commit is data-identical (readers and the
  * append STREAM over the table skip it by construction), and a replayed
  * epoch re-running the compaction is a no-op when nothing is small. */
private final class SnapshotSink(
    spark: SparkSession,
    root: String,
    opts: SnapshotSinkOptions)
    extends Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // V1 sink contract: the incoming frame is a streaming plan — lift its
    // computed rows into a batch frame before handing it to batch writers
    val df = org.apache.spark.sql.GraftSqlBridge
      .internalDataFrame(spark, data.queryExecution.toRdd, data.schema)
    // the stream execution thread carries the STABLE query id as a local
    // property — recorded as the commit's txn appId so two path-sink
    // queries into one table never dedupe each other's epoch numbers.
    // Identity is STRICT (appId, batchId) — same as the DSv2 catalog
    // sink; there is NO adoption of legacy None-appId commits, so a
    // checkpointed stream upgraded from a pre-appId build re-lands at
    // most its single boundary epoch once (see [[SnapshotTable
    // .epochCommitted]] for why adoption was rejected)
    SnapshotSinkOps.landBatch(
      spark, root, df, batchId, opts, SnapshotTable.streamingQueryId(spark))
  }
  override def toString: String = s"SnapshotSink[$root]"
}

/** The ONE per-epoch landing routine both streaming write surfaces share
  * — the V1 path sink ([[SnapshotSink]]) and the DSv2 catalog-identifier
  * sink ([[GraftStreamingWrite]]): exactly-once epoch commit (append, or
  * keyed upsert in COW/MOR mode) followed by the optional best-effort
  * small-file compaction boundary. A fix to the epoch contract lands here
  * once, never per-surface. */
private[sinks] object SnapshotSinkOps {

  /** The sink's writer options, parsed and validated ONCE for both
    * surfaces — `upsertKeys` (comma-separated key columns → per-epoch
    * MERGE), `morWrites` (O(change) merge-on-read route), `compactEvery`
    * (small-file maintenance boundary) and `compactTargetBytes`. */
  def parseOptions(get: String => Option[String]): SnapshotSinkOptions = {
    val keys = get("upsertKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val compactEvery = get("compactEvery").map(_.toInt)
    compactEvery.foreach(n => require(n >= 1, s"compactEvery must be >= 1, got $n"))
    SnapshotSinkOptions(
      keys,
      get("morWrites").exists(_.equalsIgnoreCase("true")),
      compactEvery,
      get("compactTargetBytes").map(_.toLong).getOrElse(128L * 1024 * 1024))
  }

  def landBatch(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      batchId: Long,
      opts: SnapshotSinkOptions,
      appId: Option[String] = None,
      // executor-staged parquet files of this epoch (DSv2 catalog sink):
      // the plain-append route then ADOPTS them by rename instead of
      // re-writing every byte — see appendStagedBatchExactlyOnce
      staged: Option[Seq[GraftStagedFile]] = None): Unit = {
    import opts.{compactEvery, compactTargetBytes}
    opts.upsertKeys match {
      case None =>
        staged match {
          case Some(files) =>
            SnapshotTable.appendStagedBatchExactlyOnce(spark, root, files, df.schema, batchId, appId)
          case None => SnapshotTable.appendBatchExactlyOnce(spark, root, df, batchId, appId)
        }
      case Some(ks) if opts.mor =>
        SnapshotTable.upsertBatchExactlyOnceMor(spark, root, df, ks, batchId, appId)
      case Some(ks) => SnapshotTable.upsertBatchExactlyOnce(spark, root, df, ks, batchId, appId)
    }
    compactEvery.foreach { n =>
      if (batchId > 0 && batchId % n == 0)
        // BEST-EFFORT: the epoch's DATA commit already succeeded — a
        // maintenance hiccup (a racing writer's ConcurrentCommit, a
        // transient FS error) must not escalate into a stream
        // crash/replay cycle; the next boundary simply retries with a
        // bigger small-file set
        try
          SnapshotTable.compactSmall(
            spark, root,
            smallBytes = math.min(32L * 1024 * 1024, compactTargetBytes),
            targetBytes = compactTargetBytes)
        catch {
          // NonFatal: an interrupt (StreamingQuery.stop mid-compaction)
          // must propagate, not be swallowed as a skipped maintenance tick
          case scala.util.control.NonFatal(e) =>
            Console.err.println(
              s"[snapshot-table sink] compactEvery maintenance skipped at epoch $batchId: $e")
        }
    }
    ()
  }
}

/** Parsed writer options shared by the V1 path sink and the DSv2 catalog
  * sink — see [[SnapshotSinkOps.parseOptions]]. */
private[sinks] final case class SnapshotSinkOptions(
    upsertKeys: Option[Seq[String]],
    mor: Boolean,
    compactEvery: Option[Int],
    compactTargetBytes: Long)

/** `format("snapshot-table")` registration (META-INF service) — options:
  * `path` (table root, required), `startVersion` (first version whose
  * data the stream emits; default: full snapshot first),
  * `maxFilesPerTrigger` / `maxBytesPerTrigger` (admission control: split
  * the backlog across micro-batches at file granularity),
  * `readChangeFeed` (stream row-level `_change_type` changes instead of
  * appended rows; see [[SnapshotSource]]); as a SINK, `upsertKeys` /
  * `morWrites` (see [[SnapshotSink]]).
  *
  * BATCH surface (the same format string, Delta-style): `spark.read
  * .format("snapshot-table").load(root)` resolves to the Catalyst-
  * integrated relation ([[SnapshotTable.batchRelation]] — manifest
  * min/max/bloom pruning at plan time), with time travel via
  * `.option("versionAsOf", n)` or `.option("timestampAsOf", ts)` (ts:
  * epoch millis digits or a `yyyy-MM-dd HH:mm:ss[.f]` literal, resolved
  * through manifest publish times); `df.write.format("snapshot-table")
  * .mode(...).save(root)` routes SaveModes onto the transactional
  * operators — ErrorIfExists→create (refused if the table exists),
  * Append→append, Overwrite→overwrite, Ignore→create-if-absent — so a
  * format write is a real atomic commit, never a bare directory. */
/** Read-option resolution shared by the V1 (`snapshot-table`) and DSv2
  * (`graft`) providers: `path` (+ optional `branch` ref qualification)
  * and the mutually-exclusive time-travel trio `versionAsOf` /
  * `timestampAsOf` / `tag`. */
private[sinks] object SnapshotReadOptions {

  def root(parameters: Map[String, String]): String = {
    val base = parameters.getOrElse(
      "path",
      parameters.getOrElse("root", sys.error("snapshot-table source needs .option(\"path\", <table root>)")))
    // `.option("branch", b)` qualifies the handle — reads, writes, and
    // streams then run against the branch's private log ([[SnapshotTable
    // .branchRef]]). `tag` is read-only time travel (timeTravelVersion).
    parameters.get("branch").map(b => SnapshotTable.branchRef(base, b)).getOrElse(base)
  }

  def timeTravelVersion(
      spark: SparkSession,
      r: String,
      parameters: Map[String, String]): Int = {
    val latest = SnapshotTable
      .latestVersion(spark, r)
      .getOrElse(sys.error(s"no snapshot table at $r"))
    // tags pin MAIN versions: resolving one against a branch handle's
    // private log would silently read branch content at the tagged
    // NUMBER (the branch's v3 is not main's v3) — refused. versionAsOf/
    // timestampAsOf on a branch are fine: they travel the branch's own
    // lineage (pre-fork versions resolve main's manifests in place).
    require(
      !(parameters.contains("branch") && parameters.contains("tag")),
      "tags name MAIN versions; read a tag from the main handle (no branch option)")
    (parameters.get("versionAsOf"), parameters.get("timestampAsOf"), parameters.get("tag")) match {
      case (v, ts, t) if Seq(v, ts, t).flatten.size > 1 =>
        sys.error("specify at most one of versionAsOf / timestampAsOf / tag")
      case (Some(n), _, _) =>
        val v = n.toInt
        require(v >= 0 && v <= latest, s"versionAsOf $v out of range [0, $latest]")
        v
      case (_, Some(ts), _) =>
        val millis =
          if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
          else java.sql.Timestamp.valueOf(ts).getTime
        SnapshotTable.versionAsOf(spark, r, millis)
      case (_, _, Some(t)) => SnapshotTable.tagVersion(spark, r, t)
      case _ => latest
    }
  }
}

final class SnapshotSourceProvider
    extends StreamSourceProvider
    with StreamSinkProvider
    with RelationProvider
    with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "snapshot-table"

  private def timeTravelVersion(
      spark: SparkSession,
      r: String,
      parameters: Map[String, String]): Int =
    SnapshotReadOptions.timeTravelVersion(spark, r, parameters)

  override def createRelation(ctx: SQLContext, parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val r = root(parameters)
    SnapshotTable.batchRelation(spark, r, timeTravelVersion(spark, r, parameters))
  }

  override def createRelation(
      ctx: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val r = root(parameters)
    require(
      !parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf") &&
        !parameters.contains("tag"),
      "time travel options apply to reads only")
    val exists = SnapshotTable.latestVersion(spark, r).isDefined
    mode match {
      case SaveMode.ErrorIfExists =>
        if (exists) sys.error(s"snapshot table already exists at $r (SaveMode.ErrorIfExists)")
        SnapshotTable.create(spark, r, data)
      case SaveMode.Ignore =>
        if (!exists) SnapshotTable.create(spark, r, data)
      case SaveMode.Append =>
        if (exists) SnapshotTable.append(spark, r, data)
        else SnapshotTable.create(spark, r, data)
      case SaveMode.Overwrite =>
        if (exists) SnapshotTable.overwrite(spark, r, data)
        else SnapshotTable.create(spark, r, data)
    }
    createRelation(ctx, parameters)
  }

  private def root(parameters: Map[String, String]): String =
    SnapshotReadOptions.root(parameters)

  private def isCdc(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(
      ctx: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val r = root(parameters)
    val spark = ctx.sparkSession
    val v = SnapshotTable.latestVersion(spark, r).getOrElse(sys.error(s"no snapshot table at $r"))
    val s = SnapshotTable
      .readManifest(spark, r, v)
      .schemaJson
      .map(SnapshotTable.schemaFromJson)
      .getOrElse(SnapshotTable.readVersion(spark, r, v).schema)
    val out = if (isCdc(parameters)) SnapshotSource.cdcSchema(s) else s
    (shortName(), schema.getOrElse(out))
  }

  override def createSource(
      ctx: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new SnapshotSource(
      ctx.sparkSession,
      root(parameters),
      parameters.get("startVersion").map(_.toInt),
      parameters.get("maxFilesPerTrigger").map(_.toInt),
      parameters.get("maxBytesPerTrigger").map(_.toLong),
      isCdc(parameters))

  override def createSink(
      ctx: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(
      partitionColumns.isEmpty,
      "snapshot-table sink takes no partitionBy — cluster with compact()/compactZOrder()")
    require(
      outputMode != OutputMode.Complete(),
      "snapshot-table sink supports Append/Update modes; Complete-mode rewrites go through overwrite()")
    new SnapshotSink(
      ctx.sparkSession,
      root(parameters),
      SnapshotSinkOps.parseOptions(parameters.get))
  }
}

/** Fallback V1 relation for snapshots the plain `HadoopFsRelation` can't
  * express directly — pending merge-on-read masks (the scan is a UNION of
  * mask groups) or renamed columns (a logical projection sits atop the
  * physical scan). `PrunedFilteredScan` keeps the scale economics: Spark
  * hands this relation the required columns and pushed filters, both are
  * replayed onto [[SnapshotTable.relationVersion]]'s frame, and the mask
  * groups' own FileIndexes prune against them at plan time underneath.
  * Spark re-applies every filter row-level on top of a V1 scan (default
  * `unhandledFilters`), so a declined translation costs I/O, never
  * correctness. `needConversion = false`: the scan returns the inner
  * plan's InternalRows directly (the standard V1 connector contract for
  * relations computing through Catalyst). */
final class SnapshotBatchRelation(
    spark: SparkSession,
    root: String,
    v: Int,
    override val schema: StructType)
    extends BaseRelation
    with PrunedFilteredScan {

  override def sqlContext: SQLContext = spark.sqlContext

  override def needConversion: Boolean = false

  override def buildScan(
      requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[Row] = {
    import org.apache.spark.sql.functions.col
    val base = SnapshotTable.relationVersion(spark, root, v)
    val filtered = filters
      .flatMap(SnapshotBatchRelation.conjuncts)
      .foldLeft(base)(_ filter _)
    // empty requiredColumns = a count-style scan: project to zero columns
    // (the frame still carries one InternalRow per surviving row)
    val projected = filtered.select(requiredColumns.map(c => col("`" + c + "`")).toSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[org.apache.spark.rdd.RDD[Row]]
  }
}

object SnapshotBatchRelation {
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{sources => s}

  private def c(attr: String): Column = col("`" + attr + "`")

  /** Split a pushed V1 filter into the Column conjuncts we can replay
    * EXACTLY. `And` may translate partially (pruning by a subset of
    * conjuncts is sound); `Or`/`Not` require exact children (a partial
    * disjunct/negation would over-filter). Untranslatable shapes drop —
    * Spark re-applies the full filter row-level above the scan. */
  private[sinks] def conjuncts(f: s.Filter): Seq[Column] = f match {
    case s.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => exact(other).toSeq
  }

  private def exact(f: s.Filter): Option[Column] = f match {
    case s.EqualTo(a, v) => Some(c(a) === lit(v))
    case s.EqualNullSafe(a, v) => Some(c(a) <=> lit(v))
    case s.GreaterThan(a, v) => Some(c(a) > lit(v))
    case s.GreaterThanOrEqual(a, v) => Some(c(a) >= lit(v))
    case s.LessThan(a, v) => Some(c(a) < lit(v))
    case s.LessThanOrEqual(a, v) => Some(c(a) <= lit(v))
    case s.In(a, vs) => Some(c(a).isInCollection(vs.toSeq.map(lit)))
    case s.IsNull(a) => Some(c(a).isNull)
    case s.IsNotNull(a) => Some(c(a).isNotNull)
    case s.StringStartsWith(a, p) => Some(c(a).startsWith(p))
    case s.StringEndsWith(a, p) => Some(c(a).endsWith(p))
    case s.StringContains(a, p) => Some(c(a).contains(p))
    case s.And(l, r) => for { lc <- exact(l); rc <- exact(r) } yield lc && rc
    case s.Or(l, r) => for { lc <- exact(l); rc <- exact(r) } yield lc || rc
    case s.Not(inner) => exact(inner).map(!_)
    case _ => None
  }
}

/** The snapshot APPEND STREAM behind `spark.readStream.table("graft.ns.t")`
  * (SURVEY §2.J `cap_stream_source`, catalog leg) — the DSv2
  * `MicroBatchStream` face of [[SnapshotSource]]: offset algebra, rate
  * limiting (`maxFilesPerTrigger` / `maxBytesPerTrigger` read options),
  * `Trigger.AvailableNow` pinning, and the restore/compact skip rules all
  * DELEGATE to the proven V1 source — this class only turns a committed
  * offset range into its concrete parquet file partitions
  * ([[SnapshotSource.offsetFiles]]) and reads them through the standard
  * codegen'd parquet reader in the scan's pruned (physical) schema.
  * Checkpoint offsets are the same JSON positions the path-based stream
  * logs, so semantics (exactly-once, restore adds nothing) are shared by
  * construction, not by parallel implementation. The change feed stays on
  * the path-based source (`readChangeFeed` needs the widened CDC schema,
  * which a catalog table identifier cannot declare). */
private[sinks] final class GraftMicroBatchStream(
    spark: SparkSession,
    root: String,
    source: SnapshotSource,
    required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => SOffset, ReadLimit}

  override def initialOffset(): SOffset = source.initialOffset()
  override def deserializeOffset(json: String): SOffset = source.deserializeOffset(json)
  override def commit(end: SOffset): Unit = source.commit(end)
  override def stop(): Unit = source.stop()
  override def prepareForTriggerAvailableNow(): Unit = source.prepareForTriggerAvailableNow()
  override def getDefaultReadLimit: ReadLimit = source.getDefaultReadLimit
  override def latestOffset(start: SOffset, limit: ReadLimit): SOffset =
    source.latestOffset(start, limit)

  override def latestOffset(): SOffset =
    // the engine routes through the admission-control overload for
    // sources that implement it (FileStreamSource's contract)
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) drives this source")

  override def planInputPartitions(
      start: SOffset,
      end: SOffset): Array[org.apache.spark.sql.connector.read.InputPartition] =
    source
      .offsetFiles(Option(start), end)
      .map { case (p, len) => GraftInputPartition(p, len) }
      .toArray

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    // the shared native parquet construction ([[GraftParquetReader]]);
    // streams emit full rows, so no pushed filters — they re-apply above
    GraftParquetReader.factory(
      spark,
      SnapshotTable.physicalSchemaOf(source.schema),
      SnapshotTable.physicalSchemaOf(required),
      Seq.empty)

  override def toString: String = s"GraftMicroBatchStream[$root]"
}
