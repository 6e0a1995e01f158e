package graft

import java.nio.file.Files

import graft.sinks.{SnapshotTable, WriteStats}
import graft.sinks.SnapshotTable.FileStat
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import org.json4s.jackson.JsonMethods

/** Manifest stats are built by the data write itself: every file's
  * [[FileStat]] (rows, min/max, non-null counts, blooms) and the CHECK
  * violation counts come from the rows as Spark's writer writes them, so a
  * data write is one job. The parity cases hold the writer to the
  * post-write stats scan it replaced, kept here as the reference query;
  * the job-count cases pin the one-job write. */
class SnapshotWriteStatsSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String = Files.createTempDirectory("graft-wstats").toString

  /** The post-write stats scan the writer replaced: one
    * `groupBy(input_file_name())` aggregation over the written dir. */
  private def referenceStats(root: String, rel: String, schema: StructType): Seq[FileStat] = {
    import org.apache.spark.sql.functions._
    val abs = new Path(root, rel).toString
    val written = spark.read.schema(StructType(schema.fields.map(_.copy(nullable = true)))).parquet(abs)
    val statFields = written.schema.fields.filter(f => WriteStats.statable(f.dataType)).toSeq
    val bloomFields = written.schema.fields.filter(f => WriteStats.bloomable(f.dataType)).toSeq
    def q(n: String) = col("`" + n + "`")
    def referencePositions(c: Column): Seq[Column] = {
      val h1 = pmod(hash(c).cast("long"), lit(4096L))
      val h2 = pmod(xxhash64(c), lit(4096L)) * 2 + 1
      (0 until 4).map(i => when(c.isNotNull, pmod(h1 + lit(i.toLong) * h2, lit(4096L)).cast("int")))
    }
    val aggs = count(lit(1)).as("__rows") +:
      (statFields.flatMap(f =>
        Seq(
          min(q(f.name)).as("__min_" + f.name),
          max(q(f.name)).as("__max_" + f.name),
          count(q(f.name)).as("__nn_" + f.name))) ++
        bloomFields.flatMap(f =>
          referencePositions(q(f.name)).zipWithIndex.map { case (pc, i) =>
            bitmap_construct_agg(pc.cast("long")).as(s"__bl${i}_" + f.name)
          }))
    val perFile = written.groupBy(input_file_name().as("__file")).agg(aggs.head, aggs.tail: _*).collect().toSeq
    val stats = perFile.map { r =>
      val uri = r.getAs[String]("__file")
      val path = rel + "/" + uri.substring(uri.lastIndexOf('/') + 1)
      val pairs = statFields.flatMap { f =>
        val mi = SnapshotTable.statJson(f.dataType, r.getAs[Any]("__min_" + f.name))
        val ma = SnapshotTable.statJson(f.dataType, r.getAs[Any]("__max_" + f.name))
        if (mi.isDefined && ma.isDefined) Some((f.name, mi.get, ma.get)) else None
      }
      val blooms = bloomFields.map { f =>
        val bytes = new Array[Byte](512)
        (0 until 4).foreach { i =>
          val b = r.getAs[Array[Byte]](s"__bl${i}_" + f.name)
          if (b != null) (0 until math.min(bytes.length, b.length)).foreach(j => bytes(j) = (bytes(j) | b(j)).toByte)
        }
        f.name -> java.util.Base64.getEncoder.encodeToString(bytes)
      }.toMap
      FileStat(
        path,
        r.getAs[Long]("__rows"),
        pairs.map(p => p._1 -> p._2).toMap,
        pairs.map(p => p._1 -> p._3).toMap,
        statFields.map(f => f.name -> r.getAs[Long]("__nn_" + f.name)).toMap,
        blooms)
    }
    val dir = new Path(abs)
    val sizes = dir.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(dir)
      .map(s => rel + "/" + s.getPath.getName -> s.getLen)
      .toMap
    val sized = stats.map(st => st.copy(bytes = sizes.getOrElse(st.path, -1L)))
    val empties = sizes.keys
      .filterNot(sized.map(_.path).toSet)
      .filter { p =>
        val n = p.substring(p.lastIndexOf('/') + 1)
        !n.startsWith("_") && !n.startsWith(".")
      }
      .map(p => FileStat(p, 0L, Map.empty, Map.empty, bytes = sizes(p)))
    sized ++ empties
  }

  /** A file entry as the manifest renders it (keys sorted, as publish writes them). */
  private def rendered(st: FileStat): String = {
    import org.json4s._
    def obj[V](m: Map[String, V])(f: V => JValue) = JObject(m.toList.sortBy(_._1).map { case (k, v) => k -> f(v) })
    JsonMethods.compact(JsonMethods.render(JObject(
      "path" -> JString(st.path),
      "rows" -> JLong(st.rows),
      "min" -> obj(st.min)(identity),
      "max" -> obj(st.max)(identity),
      "nn" -> obj(st.nonNull)(JLong(_)),
      "bloom" -> obj(st.bloom)(JString(_)),
      "bytes" -> JLong(st.bytes))))
  }

  /** The file entries of manifest `v` under `dir`, as written to disk, by
    * path — read twice, with JSON numbers as doubles (keeps -0.0) and as
    * big decimals (keeps all 38 digits of a decimal). */
  private def manifestEntries(root: String, v: Int, dir: String): Seq[(String, String)] = {
    import org.json4s._
    val txt = new String(
      Files.readAllBytes(java.nio.file.Paths.get(root, "_manifests", f"v$v%08d.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    def entries(bigDec: Boolean) = {
      val JArray(files) = JsonMethods.parse(txt, useBigDecimalForDouble = bigDec) \ "files": @unchecked
      files
        .filter(f => (f \ "path").values.toString.startsWith(dir + "/"))
        .sortBy(f => (f \ "path").values.toString)
        .map(f => JsonMethods.compact(JsonMethods.render(f)))
    }
    entries(bigDec = false).zip(entries(bigDec = true))
  }

  /** [[rendered]] read back both ways [[manifestEntries]] reads. */
  private def canonical(st: FileStat): (String, String) = {
    val r = rendered(st)
    def back(bigDec: Boolean) =
      JsonMethods.compact(JsonMethods.render(JsonMethods.parse(r, useBigDecimalForDouble = bigDec)))
    (back(bigDec = false), back(bigDec = true))
  }

  /** Create a table from `df`; its manifest's file entries must be the
    * reference's, byte for byte. */
  private def assertParity(df: DataFrame): Seq[FileStat] = {
    val root = freshRoot()
    SnapshotTable.create(spark, root, df)
    val m = SnapshotTable.readManifest(spark, root, 1)
    val want = referenceStats(root, m.dirs.head, df.schema).sortBy(_.path)
    val got = manifestEntries(root, 1, m.dirs.head)
    assert(got.size == want.size, s"${got.size} files written, reference sees ${want.size}")
    got.zip(want.map(canonical)).foreach { case (g, w) => assert(g == w, s"\nwriter:    $g\nreference: $w") }
    assert(m.addedRows == want.map(_.rows).sum)
    m.files.sortBy(_.path)
  }

  test("write-time stats == the stats scan: strings (empty, over 64 chars), int and long") {
    val strs = Seq(Some(""), Some("a"), Some("x" * 65), None, Some("y" * 64), Some("é漢字"), Some("zz"), Some(""))
      .toDF("s")
    val files = assertParity(strs)
    assert(files.size > 1 && files.exists(f => f.rows > 0 && !f.min.contains("s")),
      "some file's max is the 65-char string, so it records no string stat")
    assertParity(strs.coalesce(1))
    assertParity(spark.range(-50, 50).selectExpr(
      "CAST(id AS INT) AS i", "id * 1000000000 AS l", "CAST(id AS SMALLINT) AS sh", "CAST(id AS TINYINT) AS b"))
  }

  test("write-time stats == the stats scan: doubles with NaN, ±0.0 and nulls") {
    val ds = Seq(Some(1.5), Some(Double.NaN), Some(-0.0), Some(0.0), None, Some(-2.25), Some(0.0), Some(-0.0))
      .toDF("d")
      .selectExpr("d", "CAST(d AS FLOAT) AS f")
    assertParity(ds)
    assertParity(ds.coalesce(1))
    assertParity(ds.filter("d = 0.0").coalesce(1))
    assertParity(Seq(Double.NaN, Double.NaN).toDF("d").coalesce(1))
  }

  test("write-time stats == the stats scan: decimal(38,18), date, pre-1970 timestamp, timestamp_ntz, boolean") {
    val df = spark.sql(
      """SELECT CAST(d AS DECIMAL(38,18)) AS dec, CAST(dt AS DATE) AS dt, CAST(ts AS TIMESTAMP) AS ts,
        |       CAST(ntz AS TIMESTAMP_NTZ) AS ntz, b
        |FROM VALUES
        |  ('12345678901234567890.123456789012345678', '1500-03-01', '1969-12-31 23:59:59.5',
        |   '1969-12-31 23:59:59.999999', true),
        |  ('-0.000000000000000001', '1970-01-01', '1900-01-01 00:00:00', '2024-02-29 12:00:00', false),
        |  (NULL, NULL, NULL, NULL, NULL),
        |  ('0', '2024-02-29', '1500-03-01 10:00:00', '1000-01-01 00:00:00', true),
        |  ('-99999999999999999999.999999999999999999', '0001-01-01', '1969-01-01 00:00:00.000001',
        |   '1969-07-20 20:17:40', false)
        |AS t(d, dt, ts, ntz, b)""".stripMargin)
    assertParity(df)
    assertParity(df.coalesce(1))
  }

  test("write-time stats == the stats scan: all-null columns and the zero-row seed file") {
    val nulls = assertParity(spark.range(10).selectExpr(
      "id", "CAST(NULL AS STRING) AS s", "CAST(NULL AS INT) AS i", "CAST(NULL AS DOUBLE) AS d"))
    assert(nulls.filter(_.rows > 0).forall(f => f.nonNull("s") == 0 && !f.min.contains("s")))
    val empty = assertParity(spark.range(0).selectExpr("id", "CAST(id AS STRING) AS s"))
    assert(empty.size == 1 && empty.head.rows == 0, s"one zero-row seed file: $empty")
  }

  test("write-time stats == the stats scan: multi-file frame and maxRecordsPerFile=7") {
    val df = spark.range(0, 1000, 1, 5)
      .selectExpr("id", "CAST(id % 37 AS STRING) AS s", "id * 0.5 AS d", "DATE'2020-01-01' + CAST(id % 9 AS INT) AS dt")
    assert(assertParity(df).count(_.rows > 0) == 5)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try {
      val files = assertParity(spark.range(0, 50, 1, 2).selectExpr("id", "CAST(id AS STRING) AS s"))
      assert(files.size == 8 && files.forall(_.rows <= 7), s"${files.map(_.rows)}")
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  test("CHECK violation: exact count, no manifest and no data dir; renamed columns check by logical name") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, Seq((1L, "a")).toDF("k", "s"))
    SnapshotTable.addCheck(spark, root, "pos", "k > 0")
    val dataDir = new Path(root, "data")
    val fs = dataDir.getFileSystem(spark.sessionState.newHadoopConf())
    def dirs() = fs.listStatus(dataDir).map(_.getPath.getName).toSet
    val v0 = SnapshotTable.latestVersion(spark, root)
    val d0 = dirs()
    // 3 negative keys and one null (a null result is a violation) among 10 rows
    val batch = (Seq(Some(-1L), Some(-2L), None, Some(-3L)) ++ (4L to 9L).map(Some(_)))
      .map(k => (k, "x")).toDF("k", "s").repartition(3)
    val e = intercept[SnapshotTable.ConstraintViolationException](SnapshotTable.append(spark, root, batch))
    assert(e.name == "pos" && e.violations == 4, e.getMessage)
    assert(SnapshotTable.latestVersion(spark, root) == v0, "no manifest may land")
    assert(dirs() == d0, "the aborted write's data dir must be gone")

    // a renamed column keeps its physical parquet name; the CHECK names it logically
    SnapshotTable.renameColumn(spark, root, "s", "t")
    SnapshotTable.addCheck(spark, root, "tlen", "length(t) > 0")
    val e2 = intercept[SnapshotTable.ConstraintViolationException](
      SnapshotTable.append(spark, root, Seq((5L, ""), (6L, "ok"), (7L, "")).toDF("k", "t")))
    assert(e2.name == "tlen" && e2.violations == 2, e2.getMessage)
    SnapshotTable.append(spark, root, Seq((5L, "five")).toDF("k", "t"))
    assert(SnapshotTable.read(spark, root).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq(1L -> "a", 5L -> "five"))
  }

  test("staged DSv2 epochs: writer-built stats == the stats scan; a CHECK table stays enforced") {
    val wh = Files.createTempDirectory("graft-wstats-cat").toString
    spark.conf.set("spark.sql.catalog.gws", classOf[graft.sinks.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gws.warehouse", wh)
    val src = wh + "/ns/src"
    SnapshotTable.create(spark, src, spark.range(0, 40, 1, 3).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS s"))
    def drain(dst: String): Unit =
      spark.readStream.table("gws.ns.src").writeStream
        .option("checkpointLocation", Files.createTempDirectory("graft-wstats-ck").toString)
        .trigger(Trigger.AvailableNow())
        .toTable("gws.ns." + dst)
        .awaitTermination()

    // plain table: the epoch's files are adopted with the stats their writers built
    spark.sql("CREATE TABLE gws.ns.plain (k BIGINT, s STRING)")
    drain("plain")
    val plain = wh + "/ns/plain"
    val v = SnapshotTable.latestVersion(spark, plain).get
    val epochDir = SnapshotTable.readManifest(spark, plain, v).dirs.last
    val got = manifestEntries(plain, v, epochDir)
    val want = referenceStats(plain, epochDir, spark.table("gws.ns.src").schema).sortBy(_.path).map(canonical)
    assert(got.nonEmpty && got == want, s"\nwriter:    $got\nreference: $want")
    assert(SnapshotTable.read(spark, plain).count() == 40)

    // CHECK table: a violating epoch fails the query and lands nothing
    spark.sql("CREATE TABLE gws.ns.chk (k BIGINT, s STRING)")
    val chk = wh + "/ns/chk"
    SnapshotTable.addCheck(spark, chk, "small", "k < 30")
    val v0 = SnapshotTable.latestVersion(spark, chk)
    val err = intercept[Exception](drain("chk"))
    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    val cv = causes(err).collectFirst { case c: SnapshotTable.ConstraintViolationException => c }
    assert(cv.exists(c => c.name == "small" && c.violations == 10), s"expected the CHECK to fire: $err")
    assert(SnapshotTable.latestVersion(spark, chk) == v0)
    assert(SnapshotTable.read(spark, chk).count() == 0)
  }

  /** Spark jobs `body` runs, counted by a listener bracketed by one-task
    * sentinel jobs (listener events arrive in order, so the closing
    * sentinel's start sees every job of the body). */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val marks = new java.util.concurrent.LinkedBlockingQueue[Integer]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("wstats.sentinel") != null) marks.put(jobs.get)
        else jobs.incrementAndGet()
    }
    def sentinel(): Int = {
      sc.setLocalProperty("wstats.sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("wstats.sentinel", null)
      marks.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    }
    sc.addSparkListener(listener)
    try {
      val before = sentinel()
      body
      sentinel() - before
    } finally sc.removeSparkListener(listener)
  }

  test("job count: an exactly-once append of 200 rows is one Spark job") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS s"))
    val batch = spark.range(100, 300).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    assert(jobsOf(SnapshotTable.appendBatchExactlyOnce(spark, root, batch, 1L)) == 1)
    assert(SnapshotTable.read(spark, root).count() == 250)
  }

  test("job count: an exactly-once upsert of 200 rows over 60 existing keys runs at most 10 jobs") {
    val root = freshRoot()
    SnapshotTable.create(spark, root, spark.range(100).selectExpr("id AS k", "'old' AS s"))
    val batch = spark.range(40, 240).selectExpr("id AS k", "'new' AS s")
    val jobs = jobsOf(SnapshotTable.upsertBatchExactlyOnce(spark, root, batch, Seq("k"), 1L))
    assert(jobs <= 10, s"$jobs jobs")
    val rows = SnapshotTable.read(spark, root).as[(Long, String)].collect().toMap
    assert(rows.size == 240 && rows.count(_._2 == "new") == 200)
  }
}
