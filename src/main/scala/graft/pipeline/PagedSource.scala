package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Fixtures

/** One raw product record as a paginated upstream API returns it —
  * pre-identity (the UPC is synthesized downstream in the pipeline). A
  * missing upstream price is `None`, which validation quarantines as
  * `bad_price`, the same as a null price on the batch path. */
case class RawProduct(partkey: Long, name: String, brand: String, price: Option[Double])

/** A paginated record source — the shape of the reference's literal core
  * act (page through an HTTP product API, load each page). An API client is
  * inherently a sequential driver-side stream: page N+1's request depends
  * on page N's cursor, so the DRIVER walks pages while every page's
  * processing (validate/dedup/upsert) parallelizes on the cluster
  * immediately. The keyed upsert downstream makes page REPLAY idempotent,
  * which is the whole crash-recovery contract of incremental consumption:
  * re-fetching an already-loaded page converges to the same table.
  *
  * Zero-egress note: a real HTTP implementation is untestable in this
  * image; [[FixturePagedSource]] is the deterministic in-image stand-in
  * that preserves the protocol exactly (stable page boundaries, partial
  * final page, None past the end).
  */
trait PagedSource {
  /** Records of 0-based `page`, or None when past the last page. A partial
    * page is valid data (the last one usually is). */
  def fetchPage(page: Int): Option[Seq[RawProduct]]
}

/** Deterministic paging over the `part` fixture, ordered by partkey —
  * simulates a keyset-paginated API snapshot. Each fetch is a pushed-down
  * partkey-range scan collecting ONE page (bounded by pageSize — the size
  * of a real HTTP response body); the only whole-dataset state on the
  * driver is the row count, i.e. cursor metadata. Partkeys are dense
  * 0..n-1 in every fixture, so key ranges ARE page boundaries — exactly
  * keyset pagination. */
class FixturePagedSource(spark: SparkSession, sfDir: String, pageSize: Int) extends PagedSource {
  require(pageSize > 0, "pageSize must be positive")

  private lazy val nRows: Long = Fixtures.table(spark, sfDir, "part").count()

  override def fetchPage(page: Int): Option[Seq[RawProduct]] = {
    val from = page.toLong * pageSize
    if (page < 0 || from >= nRows) None
    else
      Some(
        Fixtures
          .table(spark, sfDir, "part")
          .filter(col("p_partkey") >= from && col("p_partkey") < from + pageSize)
          .orderBy("p_partkey")
          .select(
            col("p_partkey").cast("long"),
            col("p_name").cast("string"),
            col("p_brand").cast("string"),
            col("p_retailprice").cast("double"))
          .collect()
          .map { r =>
            val price = if (r.isNullAt(3)) None else Some(r.getDouble(3))
            RawProduct(r.getLong(0), r.getString(1), r.getString(2), price)
          }
          .toSeq)
  }
}

/** Bounded retry with exponential backoff around a flaky [[PagedSource]] —
  * the failure-mode surface real API loaders actually debug. A transient
  * fetch error (network drop, 5xx, rate-limit) is retried up to
  * `maxRetries` times with backoff doubling from `backoffMs`; a fetch that
  * keeps failing propagates, leaving the walk resumable (pages already
  * loaded are safe to replay — the keyed upsert downstream is idempotent,
  * which is what makes at-least-once fetching correct end-to-end).
  * `sleep` is injectable so specs drive the schedule without wall-clock
  * waits and can assert the exact backoff sequence. */
class RetryingPagedSource(
    inner: PagedSource,
    maxRetries: Int = 3,
    backoffMs: Long = 100L,
    sleep: Long => Unit = Thread.sleep) extends PagedSource {
  require(maxRetries >= 0, "maxRetries must be >= 0")

  override def fetchPage(page: Int): Option[Seq[RawProduct]] = attempt(page, 0)

  @annotation.tailrec
  private def attempt(page: Int, tried: Int): Option[Seq[RawProduct]] = {
    val r =
      try Right(inner.fetchPage(page))
      catch { case e: Exception => Left(e) }
    r match {
      case Right(v) => v
      case Left(e) =>
        if (tried >= maxRetries) throw e
        sleep(backoffMs << tried)
        attempt(page, tried + 1)
    }
  }
}
