package graft.pipeline

import graft.Fixtures
import graft.sinks.JdbcSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's end-to-end behavior as one composed pipeline:
  * extract product records → synthesize/validate UPC-12 identity → dedup →
  * idempotent keyed load into an RDBMS. Everything is the same operators
  * the query surface exposes (check-digit arithmetic, dedup-by-key,
  * anti-join incremental semantics live inside the upsert), assembled the
  * way the reference's batch loop uses them. Proven by EtlPipelineSpec:
  * re-running is a no-op, changed rows update in place.
  */
object UpcSkuLoad {
  /** 10^11: a partkey needs at most 11 digits to fit the UPC body. */
  private val BodyLimit = 100000000000L

  /** Raw (partkey, name, brand, price) rows → UPC product records. Shared
    * by the batch extract and the paginated path, so both synthesize
    * identity identically.
    *
    * The check digit is integer arithmetic on the key (digit i of the body
    * is `pmod(floor(k / 10^(11-i)), 10)`), not substrings of the padded
    * string: `validate`'s filters are pushed through this projection with
    * `upc` inlined into each reference, so every node here is repeated per
    * reference downstream. A key outside [0, 10^11) has no 11-digit body;
    * its `upc` is null, which quarantines it as `bad_length` instead of
    * truncating it onto another key's UPC (or, for a negative key, throwing
    * out of the job under ANSI casts). */
  def toProducts(raw: DataFrame): DataFrame = {
    val key = col("partkey").cast("long")
    val weighted = (1 to 11)
      .map(i => pmod(floor(key / lit(math.pow(10, 11 - i))), lit(10L)) * lit(if (i % 2 == 1) 3 else 1))
      .reduce(_ + _)
    val cd = (lit(10) - weighted % 10) % 10
    raw.select(
      when(key >= 0 && key < BodyLimit, concat(lpad(key.cast("string"), 11, "0"), cd.cast("string")))
        .as("upc"),
      col("name"),
      col("brand"),
      col("price"),
      current_timestamp().as("loaded_at"))
  }

  /** Extract: parts → UPC product records. */
  def extract(spark: SparkSession, sfDir: String): DataFrame =
    toProducts(
      Fixtures
        .table(spark, sfDir, "part")
        .select(
          col("p_partkey").as("partkey"),
          col("p_name").as("name"),
          col("p_brand").as("brand"),
          col("p_retailprice").as("price")))

  /** Validate: full-12-digit check-digit test + basic record hygiene.
    * Invalid rows are silently dropped; loaders that must account for every
    * input row use [[validateWithQuarantine]]. */
  def validate(records: DataFrame): DataFrame =
    validateWithQuarantine(records)._1

  /** The UPC-A weighted digit sum of a 12-character code (odd 1-based
    * positions weigh 3), or null when the code is null, not 12 characters
    * long, or holds a non-digit. One call checks all 12 digits, so the
    * validation plan holds one node per reference to it, not 12 substring
    * terms (which, with `upc` inlined into each, grew into thousands of
    * nodes and a filter too large for the JIT). */
  private val upcWeightedSum = udf { (upc: String) =>
    if (upc == null || upc.length != 12 || !upc.forall(c => c >= '0' && c <= '9')) null
    else Int.box((0 until 12).foldLeft(0)((sum, i) => sum + (upc.charAt(i) - '0') * (if (i % 2 == 0) 3 else 1)))
  }

  /** Split records into (valid, quarantined): every rejected row lands in
    * the second frame carrying its FIRST failing check as `reject_reason`
    * (fixed evaluation order, so reasons are deterministic). Every clause
    * catches nulls (the UPC ones with `<=>`): a null `upc` or a null
    * weighted sum must flag the row, not make the reason itself null and
    * leak it into neither frame. Malformed input is data here, never an
    * exception. The split is two filters over the same tagged plan (Spark
    * shares the scan). */
  def validateWithQuarantine(records: DataFrame): (DataFrame, DataFrame) = {
    val reason = when(!(length(col("upc")) <=> 12), "bad_length")
      .when(!(upcWeightedSum(col("upc")) % 10 <=> 0), "bad_check_digit")
      .when(col("price").isNull || col("price") <= 0, "bad_price")
      .when(length(trim(coalesce(col("name"), lit("")))) === 0, "empty_name")
    val tagged = records.withColumn("reject_reason", reason)
    (
      tagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      tagged.filter(col("reject_reason").isNotNull))
  }

  /** One representative per UPC (deterministic: lowest name sorts first). */
  def dedup(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("upc").orderBy("name")
    records
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Load: idempotent keyed upsert (insert-new / update-changed). Returns
    * the rows it consumed, counted by the upsert itself, so a caller that
    * reports the count runs the transform once. */
  def load(records: DataFrame, url: String, table: String): Long =
    JdbcSink.upsert(records, url, table, keyCols = Seq("upc"))

  /** The whole reference-shaped run. Returns the rows loaded. */
  def run(spark: SparkSession, sfDir: String, url: String, table: String): Long =
    load(dedup(validate(extract(spark, sfDir))), url, table)

  /** The reference's incremental consumption loop: walk a [[PagedSource]]
    * page by page, running the SAME validate→dedup→upsert per page. The
    * driver only advances the cursor; each page's work is distributed, and
    * the keyed upsert makes page replay (crash recovery, overlapping
    * fetches) idempotent — EtlPipelineSpec proves page-wise consumption
    * lands the exact table the batch run does.
    *
    * Each page is one action: the upsert, which also counts the rows. The
    * page is not cached: a cached plan keeps the shuffle width chosen
    * before adaptive execution (hundreds of tasks for a 1,000-row page),
    * while the uncached plan is coalesced to a handful.
    *
    * Dedup is PER PAGE: a consistent keyset-paginated snapshot yields each
    * key on exactly one page, so paged ≡ batch. If the upstream snapshot
    * drifts mid-walk and the SAME key arrives on two pages with DIFFERENT
    * payloads, the upsert resolves last-write-wins (standard incremental-
    * load semantics — the later fetch is the fresher record), whereas a
    * batch over the drifted union would pick the lowest-name
    * representative. Returns rows UPSERTED (a drifted key counts once per
    * page it appeared on), not distinct keys. */
  def runPaged(spark: SparkSession, source: PagedSource, url: String, table: String): Long = {
    import spark.implicits._
    var page = 0
    var total = 0L
    var batch = source.fetchPage(page)
    while (batch.isDefined) {
      total += load(dedup(validate(toProducts(spark.createDataset(batch.get).toDF()))), url, table)
      page += 1
      batch = source.fetchPage(page)
    }
    total
  }
}
