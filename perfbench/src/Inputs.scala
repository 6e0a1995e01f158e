package perfbench

import java.util.SplittableRandom

import perfbench.Model.{Part, SRow}

/** Every input a run feeds the program, derived from the seed alone.
  *
  * The shares are fixed and only the positions and values are seeded, so
  * two seeds give the same amount of work: the figures then spread with the
  * program, not with the draw. The same seed gives byte-identical inputs;
  * [[digest]] fingerprints them for the record.
  */
object Inputs {
  // Sizes keep one run (a cold JVM, about 25 s of set-up on a 4-vCPU VM)
  // near a minute, so the whole benchmark fits its time budget.
  val EtlParts = 5000
  val PageSize = 1000
  val Pages = 2
  val PagedReplays = 1
  val SnapshotInitialRows = 2000
  val SnapshotBatchRows = 200
  val SnapshotExistingKeys = 60
  val Epochs = 8
  val ReplayEvery = 4
  val TimeTravelEvery = 2

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  private def round2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** `n` distinct indices out of `0 until bound`, in ascending order. */
  private def pick(r: SplittableRandom, bound: Int, n: Int): IndexedSeq[Int] = {
    val a = Array.tabulate(bound)(identity)
    (0 until n).foreach { i =>
      val j = i + r.nextInt(bound - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(n).sorted.toIndexedSeq
  }

  /** The `part` variant: 1% null prices, 1% zero prices, 1% blank names and
    * 3% planted duplicate partkeys (a fifth of them invalid themselves).
    * A duplicate's name sorts before or after the original's, so the
    * lowest-name rule picks either side. Rows stay in partkey order. */
  def partVariant(base: IndexedSeq[Part], seed: Long): Vector[Part] = {
    val r = rng(seed, 1)
    val n = base.size
    val bad = pick(r, n, 3 * (n / 100))
    val kind = bad.zipWithIndex.map { case (i, j) => i -> j % 3 }.toMap
    val dups = pick(r, n, 3 * (n / 100)).toSet
    val out = Vector.newBuilder[Part]
    base.indices.foreach { i =>
      val p = base(i)
      out += (kind.get(i) match {
        case Some(0) => p.copy(price = null)
        case Some(1) => p.copy(price = 0.0)
        case Some(_) => p.copy(name = " " * (1 + r.nextInt(3)))
        case None    => p
      })
      if (dups(i)) {
        val tag = r.nextInt(1000)
        val name = if (r.nextBoolean()) s"aaa ${p.name} $tag" else s"${p.name} dup$tag"
        val price: java.lang.Double =
          if (r.nextInt(5) == 0) 0.0 else round2(p.price + 1 + r.nextInt(9000) / 100.0)
        out += Part(p.partkey, name, p.brand, price)
      }
    }
    out.result()
  }

  /** The reload: 5% of the rows with a valid price change it. */
  def reload(load: Vector[Part], seed: Long): Vector[Part] = {
    val r = rng(seed, 2)
    val priced = load.indices.filter(i => load(i).price != null && load(i).price > 0)
    val changed = pick(r, priced.size, priced.size / 20).map(priced).toSet
    load.indices.map { i =>
      val p = load(i)
      if (changed(i)) p.copy(price = round2(p.price + 1 + r.nextInt(5000) / 100.0)) else p
    }.toVector
  }

  /** The paged walk's input: the first `Pages * PageSize` rows of the variant. */
  def paged(load: Vector[Part]): Vector[Part] = load.take(Pages * PageSize)

  /** The delivery order of pages: every page once, in order, plus
    * [[PagedReplays]] seeded pages delivered again one to three pages later. */
  def pageSchedule(seed: Long): IndexedSeq[Int] = {
    val r = rng(seed, 3)
    val replayed = pick(r, Pages, PagedReplays)
    val at = replayed.map(p => p -> math.min(Pages - 1, p + 1 + r.nextInt(3)))
    (0 until Pages).flatMap(p => p +: at.collect { case (q, after) if after == p => q })
  }

  /** One micro-batch of the snapshot stream and what is interleaved after it. */
  final case class Epoch(
      id: Int,
      upsert: Boolean,
      rows: Vector[SRow],
      replayOf: Option[Int],
      point: (String, String),
      timeTravelTo: Option[Int])

  final case class Stream(initial: Vector[SRow], epochs: Vector[Epoch])

  /** The snapshot stream: epochs alternate append and upsert, keyed on
    * `upc`; 30% of each batch's keys already exist. Every [[ReplayEvery]]-th
    * epoch replays an earlier batch id; every epoch ends with a point count
    * over a seeded key range, every [[TimeTravelEvery]]-th with a read of a
    * seeded earlier version. Version v is the table after epoch v - 1. */
  def stream(seed: Long): Stream = {
    val r = rng(seed, 4)
    def row(key: Int, epoch: Int): SRow =
      SRow(Model.upc(key.toLong), s"item-$epoch-${r.nextInt(100000)}", round2(1 + r.nextInt(10000) / 100.0), epoch.toLong)
    val initial = (0 until SnapshotInitialRows).map(row(_, 0)).toVector
    var nextKey = SnapshotInitialRows
    val epochs = (1 to Epochs).map { e =>
      val old = pick(r, nextKey, SnapshotExistingKeys)
      val fresh = nextKey until nextKey + SnapshotBatchRows - SnapshotExistingKeys
      nextKey += fresh.size
      val rows = (old ++ fresh).map(row(_, e)).toVector
      val lo = r.nextInt(nextKey)
      Epoch(
        e,
        upsert = e % 2 == 0,
        rows,
        if (e % ReplayEvery == 0) Some(1 + r.nextInt(e)) else None,
        (Model.upc(lo.toLong), Model.upc((lo + nextKey / 100).toLong)),
        if (e % TimeTravelEvery == 0) Some(1 + r.nextInt(e + 1)) else None)
    }.toVector
    Stream(initial, epochs)
  }

  /** The 67 queries of the v1 BASELINE.md record, the perf gate's common set. */
  val Common67: IndexedSeq[String] = IndexedSeq(
    "q_agg_global", "q_join_shuffle", "q_sort_multi", "q_scan_schema_json", "q_win_running",
    "q_array_funcs", "q_str_funcs", "q_join_right", "q_lang_id", "q_join_theta",
    "q_filter_pred", "q_text_stats", "q_sim_threshold", "q_agg_pivot", "q_stream_sliding",
    "q_text_tfidf", "q_text_tokens", "q_except", "q_agg_grouping_sets", "q_upc_checkdigit",
    "q_win_rank", "q_case_when", "q_union_distinct", "q_doc_fingerprint", "q_dedup_latest",
    "q_join_asof", "q_agg_stats", "q_date_funcs", "q_math_funcs", "q_text_ngram",
    "q_map_funcs", "q_regex", "q_win_range", "q_explode_tokens", "q_sim_cosine_topk",
    "q_win_lag", "q_project_arith", "q_agg_cube", "q_intersect", "q_agg_collect",
    "q_stream_session", "q_agg_rollup", "q_sim_ann_ivf", "q_agg_q1", "q_join_broadcast",
    "q_token_count", "q_agg_udaf", "q_join_left", "q_multimodal_binary", "q_join_semi",
    "q_scan_parquet", "q_dedup_exact", "q_stream_tumbling", "q_union_all", "q_join_full",
    "q_dedup_jaccard", "q_join_anti", "q_agg_distinct", "q_etl_incremental", "q_json_funcs",
    "q_join_multiway", "q_join_cross", "q_cast_types", "q_limit_topk", "q_multimodal",
    "q_win_topk", "q_text_quality")

  /** The common-67 in seeded order. */
  def queryOrder(seed: Long): IndexedSeq[String] = {
    val r = rng(seed, 5)
    val a = Common67.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Queries whose full output is compared with the DuckDB twin in a run;
    * every query's row count is compared in every run. */
  def fullCheck(order: IndexedSeq[String], withOracle: Set[String], seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 6)
    val cands = order.filter(withOracle).sorted
    pick(r, cands.size, math.min(n, cands.size)).map(cands)
  }

  /** SHA-256 of the inputs' canonical renderings, for the record. */
  def digest(chunks: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(c => md.update(c.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def render(parts: Seq[Part]): String =
    parts.map(p => s"${p.partkey}|${p.name}|${p.brand}|${p.price}\n").mkString

  def render(s: Stream): String =
    (s.initial.map(_.toString) ++ s.epochs.map(_.toString)).mkString("\n")
}
