package graft

import java.sql.DriverManager

import graft.pipeline.UpcSkuLoad
import org.apache.spark.sql.functions._

/** The reference's behavior end-to-end: extract → validate → dedup →
  * idempotent JDBC load, run twice (no-op) and with changed input (in-place
  * update). This is the "could a user of the reference switch to this
  * library" test at the pipeline level.
  */
class EtlPipelineSpec extends SparkSuite {
  private val url = "jdbc:derby:memory:etldb;create=true"
  private val table = "products_pipeline"

  /** (Re)create an empty products table named `t`. */
  private def freshTable(t: String): Unit = {
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $t")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $t (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)")
      st.close()
    } finally c.close()
  }

  private def snapshot(t: String) = spark.read.jdbc(url, t, new java.util.Properties())
    .select("upc", "name", "brand", "price")
    .collect()
    .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getDouble(3)))
    .toSet

  test("reference-shaped ETL: validated load, idempotent re-run, in-place update") {
    freshTable(table)

    val n = UpcSkuLoad.run(spark, sf001, url, table)
    def loaded() = spark.read.jdbc(url, table, new java.util.Properties())
    assert(n == 200, s"expected all 200 sf0.001 parts to validate, got $n") // every synthesized UPC is valid
    assert(loaded().count() == n)

    // idempotence: a second full run changes nothing but the load timestamp
    UpcSkuLoad.run(spark, sf001, url, table)
    assert(loaded().count() == n)

    // in-place update: bump one part's price upstream, re-load, only that
    // row's price changes
    val before = loaded().select("upc", "price").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val changed = UpcSkuLoad
      .dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001)))
      .withColumn("price", when(col("upc").startsWith("00000000001"), col("price") + 1.0).otherwise(col("price")))
    UpcSkuLoad.load(changed, url, table)
    val after = loaded().select("upc", "price").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(after.size == before.size)
    val diffs = after.filter { case (k, v) => before(k) != v }
    assert(diffs.nonEmpty && diffs.keys.forall(_.startsWith("00000000001")),
      s"unexpected diff set: ${diffs.take(5)}")

    // validation actually rejects: corrupt check digits are filtered out.
    // Validate compiles over the composed three-layer plan (extract, the
    // corruption, validate), with nothing materialized in between.
    val corrupted = UpcSkuLoad
      .extract(spark, sf001)
      .withColumn(
        "upc",
        concat(
          substring(col("upc"), 1, 11),
          ((substring(col("upc"), 12, 1).cast("int") + 1) % 10).cast("string")))
    assert(UpcSkuLoad.validate(corrupted).count() == 0)
  }

  test("paginated consumption lands the exact table the batch run does; page replay is a no-op") {
    val pagedTable = "products_paged"
    freshTable(pagedTable)

    // 37 never divides 200: the protocol must survive a partial last page
    val source = new graft.pipeline.FixturePagedSource(spark, sf001, pageSize = 37)
    assert(source.fetchPage(5).get.size == 15, "partial final page expected")
    assert(source.fetchPage(6).isEmpty && source.fetchPage(-1).isEmpty)

    // the batch test above left bumped prices behind; re-run the batch load
    // so the comparison target is the clean pipeline output
    UpcSkuLoad.run(spark, sf001, url, table)

    val n = UpcSkuLoad.runPaged(spark, source, url, pagedTable)
    assert(n == 200, s"expected all 200 parts across pages, got $n")
    // batch table was loaded by the test above (same suite, same Derby db)
    assert(snapshot(pagedTable) == snapshot(table), "paged result differs from batch result")

    // crash-recovery contract: replaying an already-consumed page converges
    val replay = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.toProducts {
      import spark.implicits._
      spark.createDataset(source.fetchPage(2).get).toDF()
    }))
    UpcSkuLoad.load(replay, url, pagedTable)
    assert(snapshot(pagedTable) == snapshot(table), "page replay changed the table")
  }

  test("adversarial paging: transient failures, permanent abort + resume, duplicate/stale/shrunken pages all converge") {
    import graft.pipeline.{PagedSource, RawProduct, RetryingPagedSource}
    val healthy = new graft.pipeline.FixturePagedSource(spark, sf001, pageSize = 37)
    freshTable("adv_batch")
    UpcSkuLoad.run(spark, sf001, url, "adv_batch")
    val want = snapshot("adv_batch")

    // FAILURE 1 — transient fetch errors mid-walk: page 3 fails twice then
    // succeeds. Bounded retry absorbs it; backoff doubles deterministically.
    locally {
      var failsLeft = 2
      val flaky = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3 && failsLeft > 0) { failsLeft -= 1; throw new RuntimeException("503") }
          else healthy.fetchPage(p)
      }
      val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val src = new RetryingPagedSource(flaky, maxRetries = 3, backoffMs = 100L, sleep = slept += _)
      freshTable("adv_t1")
      UpcSkuLoad.runPaged(spark, src, url, "adv_t1")
      assert(slept.toSeq == Seq(100L, 200L), s"backoff schedule: $slept")
      assert(snapshot("adv_t1") == want, "transient-failure walk diverged")
    }

    // FAILURE 2 — permanent failure aborts the walk after retries are
    // exhausted; a full re-walk (the crash-recovery resume) converges with
    // zero duplicates because every page replay is an idempotent upsert.
    locally {
      var broken = true
      val dying = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3 && broken) throw new RuntimeException("connection reset")
          else healthy.fetchPage(p)
      }
      val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
      val src = new RetryingPagedSource(dying, maxRetries = 2, backoffMs = 50L, sleep = slept += _)
      freshTable("adv_t2")
      intercept[RuntimeException] { UpcSkuLoad.runPaged(spark, src, url, "adv_t2") }
      assert(slept.toSeq == Seq(50L, 100L), s"backoff schedule before giving up: $slept")
      assert(snapshot("adv_t2").nonEmpty && snapshot("adv_t2") != want, "prefix load expected")
      broken = false // upstream recovers; resume = replay the walk
      UpcSkuLoad.runPaged(spark, src, url, "adv_t2")
      assert(snapshot("adv_t2") == want, "resume after mid-walk abort diverged")
    }

    // FAILURE 3 — duplicate page delivery (page 2 arrives again as index 3,
    // real stream continues shifted): at-least-once delivery converges.
    locally {
      val dup = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 3) healthy.fetchPage(2)
          else if (p > 3) healthy.fetchPage(p - 1)
          else healthy.fetchPage(p)
      }
      freshTable("adv_t3")
      UpcSkuLoad.runPaged(spark, dup, url, "adv_t3")
      assert(snapshot("adv_t3") == want, "duplicate page delivery diverged")
    }

    // FAILURE 4 — out-of-order delivery (pages 2 and 3 swapped by a stale
    // retry): keyed upserts are order-insensitive across disjoint pages.
    locally {
      val swapped = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 2) healthy.fetchPage(3)
          else if (p == 3) healthy.fetchPage(2)
          else healthy.fetchPage(p)
      }
      freshTable("adv_t4")
      UpcSkuLoad.runPaged(spark, swapped, url, "adv_t4")
      assert(snapshot("adv_t4") == want, "out-of-order delivery diverged")
    }

    // FAILURE 5 — shrunken page (truncated response body mid-stream): the
    // walk must NOT treat a short page as end-of-stream; the lost remainder
    // lands on the next incremental re-sync, which converges.
    locally {
      var truncate = true
      val shrink = new PagedSource {
        def fetchPage(p: Int): Option[Seq[RawProduct]] =
          if (p == 2 && truncate) healthy.fetchPage(2).map(_.take(10))
          else healthy.fetchPage(p)
      }
      freshTable("adv_t5")
      val n1 = UpcSkuLoad.runPaged(spark, shrink, url, "adv_t5")
      assert(n1 == 200 - 27, s"shrunken page should cost exactly its truncated rows, got $n1")
      assert(snapshot("adv_t5") != want, "truncation cannot be invisible in one walk")
      truncate = false
      UpcSkuLoad.runPaged(spark, shrink, url, "adv_t5")
      assert(snapshot("adv_t5") == want, "re-sync after shrunken page diverged")
    }
  }

  test("cap_etl_quarantine: every input row is either loaded or quarantined with its first failing reason") {
    import spark.implicits._
    val good = UpcSkuLoad.extract(spark, sf001)
    // plant one row per failure class on top of the clean extract
    val bad = Seq(
      ("12345", "short upc", "B", 1.0),               // bad_length
      ("123456789013", "wrong digit", "B", 1.0),      // bad_check_digit (true cd is 1 → 12 digits, cd+2)
      ("03600029145X", "non-digit", "B", 1.0),        // bad_check_digit via NULL weighted sum
      ("036000291452", "free stuff", "B", 0.0),       // bad_price (valid UPC, price 0)
      ("036000291452", "   ", "B", 9.99)              // empty_name (blank after trim)
    ).toDF("upc", "name", "brand", "price").withColumn("loaded_at", current_timestamp())
    val (valid, quarantined) = UpcSkuLoad.validateWithQuarantine(good.unionByName(bad))
    // accounting: nothing vanishes
    assert(valid.count() + quarantined.count() == good.count() + 5)
    assert(valid.count() == good.count(), "a planted bad row leaked into the valid set")
    val reasons = quarantined
      .select("name", "reject_reason")
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
      .toMap
    assert(reasons == Map(
      "short upc" -> "bad_length",
      "wrong digit" -> "bad_check_digit",
      "non-digit" -> "bad_check_digit",
      "free stuff" -> "bad_price",
      "   " -> "empty_name"), s"got $reasons")
    // the quarantine frame is loadable like any other (side-table pattern)
    val qTable = "products_quarantine"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      try st.execute(s"DROP TABLE $qTable")
      catch { case _: java.sql.SQLException => () }
      st.execute(
        s"CREATE TABLE $qTable (upc VARCHAR(32), name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP, reject_reason VARCHAR(32))")
      st.close()
    } finally c.close()
    quarantined.write.mode("append").jdbc(url, qTable, new java.util.Properties())
    assert(spark.read.jdbc(url, qTable, new java.util.Properties()).count() == 5)
  }

  test("validate→dedup→count stays inside whole-stage codegen (no 64KB interpreter fallback)") {
    // With fallback disabled a codegen compile failure (the historical mode:
    // the twice-inlined 12-term check-digit sum pushed hashAgg past the JVM
    // 64 KB method limit) THROWS instead of silently running interpreted —
    // so a green pass here proves the hot path actually compiles.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val (valid, quarantined) = UpcSkuLoad.validateWithQuarantine(UpcSkuLoad.extract(spark, sf001))
      assert(valid.count() == 200 && quarantined.count() == 0)
      // the exact downstream shape that used to blow up: validate→dedup→agg
      assert(UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001))).count() == 200)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("partkeys outside [0, 10^11) quarantine as bad_length instead of truncating or throwing") {
    import spark.implicits._
    val raw = Seq(
      (0L, "zero"),
      (12345678901L, "eleven digits"),
      (99999999999L, "largest body"),
      (100000000000L, "ten to the eleventh"),
      (123456789012L, "twelve digits"),
      (123456789019L, "twelve digits too"),
      (-7L, "negative")
    ).toDF("partkey", "name").withColumn("brand", lit("B")).withColumn("price", lit(1.0))
    val (valid, quarantined) = UpcSkuLoad.validateWithQuarantine(UpcSkuLoad.toProducts(raw))
    val loaded = valid.select("name", "upc").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(loaded == Map(
      "zero" -> "000000000000",
      "eleven digits" -> "123456789012",
      "largest body" -> "999999999993"), s"got $loaded")
    val rejected = quarantined.select("name", "upc", "reject_reason").collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getString(2))).toSet
    assert(rejected == Set("ten to the eleventh", "twelve digits", "twelve digits too", "negative")
      .map(n => (n, None, "bad_length")), s"got $rejected")
  }

  test("a null upstream price quarantines as bad_price on the paged path") {
    import graft.pipeline.FixturePagedSource
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("etl-null-price").toString
    // dense 0-based partkeys, like every fixture: keyset pages of 2
    Seq((0L, "a", "B", Some(2.5)), (1L, "b", "B", None), (2L, "c", "B", Some(4.0)))
      .toDF("p_partkey", "p_name", "p_brand", "p_retailprice")
      .write.parquet(s"$dir/part.parquet")
    val source = new FixturePagedSource(spark, dir, pageSize = 2)
    val page = source.fetchPage(0).get
    assert(page.map(_.price) == Seq(Some(2.5), None))
    val (_, quarantined) = UpcSkuLoad.validateWithQuarantine(UpcSkuLoad.toProducts(spark.createDataset(page).toDF()))
    assert(quarantined.select("name", "reject_reason").collect().map(r => r.getString(0) -> r.getString(1)).toSeq ==
      Seq("b" -> "bad_price"))
    freshTable("null_price_paged")
    assert(UpcSkuLoad.runPaged(spark, source, url, "null_price_paged") == 2)
    assert(snapshot("null_price_paged").map(_._2) == Set("a", "c"))
  }

  test("the transform's optimized plan stays small") {
    // counted the way the benchmark counts it: every expression node of
    // every operator in the optimized plan
    val ready = UpcSkuLoad.dedup(UpcSkuLoad.validate(UpcSkuLoad.extract(spark, sf001)))
    val nodes = ready.queryExecution.optimizedPlan
      .collect { case n => n.expressions.map(_.collect { case e => e }.size).sum }
      .sum
    assert(nodes <= 1000, s"optimized plan holds $nodes expression nodes")
  }

  test("runPaged runs a handful of tasks per page under a wide initial shuffle") {
    import graft.pipeline.{FixturePagedSource, PagedSource, RawProduct}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    // 200 parts in pages of 67: three pages, served from memory so only the
    // transform and the upsert run Spark jobs
    val fixture = new FixturePagedSource(spark, sf001, pageSize = 67)
    val pages = Iterator.from(0).map(fixture.fetchPage).takeWhile(_.isDefined).map(_.get).toVector
    assert(pages.size == 3)
    val source = new PagedSource {
      def fetchPage(p: Int): Option[Seq[RawProduct]] = pages.lift(p)
    }
    freshTable("tasks_paged")

    // Listener events arrive asynchronously, in order. A one-task sentinel
    // job before and after the walk brackets exactly the walk's tasks.
    val sc = spark.sparkContext
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val marks = new java.util.concurrent.LinkedBlockingQueue[java.lang.Long]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("etl.sentinel") != null) marks.put(tasks.get)
    }
    def sentinel(): Long = {
      sc.setLocalProperty("etl.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("etl.sentinel", null)
      marks.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    sc.addSparkListener(listener)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
    try {
      val before = sentinel()
      assert(UpcSkuLoad.runPaged(spark, source, url, "tasks_paged") == 200)
      val walked = sentinel() - before - 1 // minus the first sentinel's own task
      assert(walked < 64 * pages.size, s"$walked tasks for ${pages.size} pages")
    } finally {
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      sc.removeSparkListener(listener)
    }
  }
}
