package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into package-private Spark SQL internals — the standard
  * pattern for third-party Catalyst extension libraries (native Expressions
  * need a way to become user-facing Columns). Kept to a few small helpers so
  * the internal surface touched is as small as possible.
  */
object GraftSqlBridge {
  /** Wrap a raw Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the Catalyst Expression behind a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native expression under `name` for the spark.sql surface. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Wrap a custom LogicalPlan as a DataFrame (runs the full analyzer). */
  def ofRows(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Rebind a streaming micro-batch plan's rows as an ordinary batch
    * DataFrame — the V1 `Sink.addBatch` contract: the incoming frame is
    * backed by an IncrementalExecution and must not be re-planned by
    * batch actions; the standard move is to lift its already-computed
    * InternalRow RDD into a fresh batch frame. */
  def internalDataFrame(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Write `df` as parquet under the fresh directory `path` in ONE job
    * through Spark's own file writer — the commit protocol, file naming
    * and layout `df.write.parquet(path)` produces — with `tracker`
    * observing every row as it is written. Runs as its own SQL execution
    * ("save", like `df.write`), so listeners see it as one query. */
  def writeParquet(
      df: DataFrame,
      path: String,
      tracker: org.apache.spark.sql.execution.datasources.WriteJobStatsTracker): Unit = {
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("save")) {
      val plan = qe.executedPlan
      val committer = org.apache.spark.internal.io.FileCommitProtocol.instantiate(
        session.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString,
        path)
      FileFormatWriter.write(
        session,
        plan,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
        committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        session.sessionState.newHadoopConf(),
        Seq.empty,
        None,
        Seq(tracker),
        Map.empty)
      ()
    }
  }

  /** Idempotently register a planner strategy on a live session — the
    * runtime-injection twin of SparkSessionExtensions.injectPlannerStrategy
    * (which can only run at session construction). */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.exists(_ eq s)) exp.extraStrategies = exp.extraStrategies :+ s
  }

  /** Build a sibling session on the same SparkContext with the given
    * extensions applied — for testing the SparkSessionExtensions path
    * (builder.getOrCreate would return the existing session and never run
    * the extension hook). */
  def newSessionWithExtensions(
      spark: SparkSession,
      f: SparkSessionExtensions => Unit): SparkSession = {
    // builder().getOrCreate() returns the default session when one exists,
    // skipping the extension hook — clear it first so a fresh session is
    // built on the existing SparkContext, then restore the prior default.
    val prior = classic.SparkSession.getDefaultSession
    classic.SparkSession.clearDefaultSession()
    classic.SparkSession.clearActiveSession()
    try classic.SparkSession.builder().withExtensions(f).getOrCreate()
    finally prior.foreach { p =>
      classic.SparkSession.setDefaultSession(p)
      classic.SparkSession.setActiveSession(p)
    }
  }
}
