package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into the `org.apache.spark.sql` package tree.
  *
  * Spark 4 removed the public `Column(expr)` / `Column.expr` accessors
  * (Columns are ColumnNode-backed); the supported conversion lives in
  * `private[sql]` `classic.ExpressionUtils`. Extension libraries reach it
  * by declaring a small object under the sql package — this is that shim.
  */
object GraftSqlBridge {

  /** Wrap a Catalyst Expression as a user-facing Column. */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Extract the Catalyst Expression backing a (classic) Column. */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a LogicalPlan as a DataFrame (Dataset.ofRows is private[sql]). */
  def dataFrame(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Every row of `df` when it holds fewer than `n`, otherwise `n` rows,
    * which ones unspecified. They are read through the QueryExecution
    * its Dataset already holds, under one SQL execution (as
    * `Dataset.collect` runs its plan): no query is analysed, optimized
    * or planned here, and once `df`'s own plan was planned, none at all.
    * A local relation is read with no job. Any other plan is read in
    * passes of ONE job each ([[takeInPasses]]): one pass when it has at
    * most `spark.sql.limit.scaleUpFactor` partitions (4 by default) and
    * fewer than `n` rows; a skewed or wider one takes more. In all, at
    * most `n` rows plus one per task of the last pass reach the driver;
    * the one exception is a resumed partition of a shuffle's output,
    * which sends its earlier rows again. The rows hold every column of
    * `df`, in its order: nothing is pruned. */
  def take(df: org.apache.spark.sql.DataFrame, n: Int): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe, Some("take"))(
      qe.executedPlan match {
        case local: org.apache.spark.sql.execution.LocalTableScanExec => local.executeTake(n)
        case plan => takeInPasses(plan.execute(), n,
          math.max(qe.sparkSession.sessionState.conf.limitScaleUpFactor, 2))
      })
  }

  /** At most `n` rows of `rdd`, as [[take]] states them. The first pass
    * reads the first `factor` partitions; each later pass, run only
    * while fewer than `n` rows are held, grows that window by `factor`
    * (as a limit's scale-up does) and resumes every partition of it not
    * read to its end. In a pass each task returns at most
    * ⌈left / tasks⌉ rows, `left` the rows still wanted, and whether its
    * partition holds more, so a pass moves at most `left + tasks` rows
    * and no row moves twice. A partition whose row order a recomputation
    * may change (a shuffle's output) is resumed from its start instead,
    * its earlier rows replaced, so that no row is kept twice. Rows are
    * copied, as a scan reuses its row buffer. */
  private def takeInPasses(rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      n: Int, factor: Int): Array[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    val parts = rdd.partitions.length
    val kept = Array.fill(parts)(Array.empty[InternalRow])
    val open = Array.fill(parts)(true) // may hold rows beyond `kept`
    val resumable = rdd.outputDeterministicLevel == org.apache.spark.rdd.DeterministicLevel.DETERMINATE
    var held = 0L
    var window = math.min(parts, factor)
    var tasks = (0 until window).filter(open)
    while (held < n && tasks.nonEmpty) {
      val quota = (n - held + tasks.size - 1) / tasks.size
      val from = Array.tabulate(parts)(p => if (resumable) kept(p).length else 0)
      val upTo = Array.tabulate(parts)(p => kept(p).length - from(p) + quota)
      val res = rdd.sparkContext.runJob(rdd,
        (ctx: org.apache.spark.TaskContext, it: Iterator[InternalRow]) => {
          val p = ctx.partitionId()
          var skipped = 0
          while (skipped < from(p) && it.hasNext) { it.next(); skipped += 1 }
          val rows = Array.newBuilder[InternalRow]
          var taken = 0L
          while (taken < upTo(p) && it.hasNext) { rows += it.next().copy(); taken += 1 }
          (rows.result(), it.hasNext)
        }, tasks)
      for ((p, (rows, more)) <- tasks.zip(res)) {
        held += rows.length + from(p) - kept(p).length
        kept(p) = kept(p).take(from(p)) ++ rows
        open(p) = more
      }
      window = math.min(parts.toLong, window.toLong * factor).toInt
      tasks = (0 until window).filter(open)
    }
    kept.iterator.flatten.take(n).toArray
  }

  /** Column `name` of `df`, bound to the rows [[take]] returns. It is
    * resolved as `col(name)` resolves it, with the session's resolver
    * (case-insensitive by default); a missing column throws the same
    * AnalysisException, and reads no row. */
  def boundColumn(df: org.apache.spark.sql.DataFrame, name: String)
      : org.apache.spark.sql.catalyst.expressions.BoundReference = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val a = ds.resolve(name)
    val i = ds.queryExecution.analyzed.output.indexWhere(_.exprId == a.exprId)
    if (i < 0) throw new IllegalArgumentException(s"$name is not a column of ${ds.schema.simpleString}")
    org.apache.spark.sql.catalyst.expressions.BoundReference(i, a.dataType, nullable = true)
  }

  /** Parquet files read as one partition per group: partition i reads
    * every file of `groups(i)` whole, with Spark's own parquet reader, as
    * rows of `schema`; an empty group is an empty partition. No query
    * is planned, so a task carries the same few kilobytes of lineage
    * for 4 groups or 4,000. The rows may be reused between `next` calls:
    * copy what outlives one. `options` reach the reader's Hadoop
    * configuration only. */
  def readParquetGroups(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      groups: Seq[Seq[org.apache.hadoop.fs.FileStatus]],
      options: Map[String, String]): org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.execution.datasources._
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val read = new parquet.ParquetFileFormat().buildReaderWithPartitionValues(
      cs, schema, new org.apache.spark.sql.types.StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      cs.sessionState.newHadoopConfWithOptions(options))
    val parts = groups.zipWithIndex.map { case (files, i) =>
      FilePartition(i, files.map(f => PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromFileStatus(f), 0, f.getLen,
        Array.empty[String], f.getModificationTime, f.getLen)).toArray)
    }
    new FileScanRDD(cs, read, parts, schema)
  }

  /** A parquet file writer for rows of `schema`: Spark's own, with the
    * session's parquet settings, prepared on the driver and opened in a
    * task, where `write(path, rows)` writes `rows` to the new file `path`
    * and returns its length. No query is planned and no output committer
    * runs: the caller names the file and decides when it counts. */
  def parquetWriter(spark: SparkSession, schema: org.apache.spark.sql.types.StructType)
      : (String, Iterator[org.apache.spark.sql.catalyst.InternalRow]) => Long = {
    import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(cs, job, Map.empty, schema)
    val conf = new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)
    (path, rows) => {
      val t = org.apache.spark.TaskContext.get()
      val attempt = new TaskAttemptID("graft", t.stageId(), TaskType.MAP, t.partitionId(), t.attemptNumber())
      val out = factory.newInstance(path, schema, new TaskAttemptContextImpl(conf.value, attempt))
      // as UnsafeRows, the rows Spark's own write hands the writer: generic
      // rows here left the JVM's shared row accessors slower for a while
      // (warm probes after a publish measured 7-14% slower)
      val unsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
      try rows.foreach(r => out.write(unsafe(r))) finally out.close()
      val file = new org.apache.hadoop.fs.Path(path)
      file.getFileSystem(conf.value).getFileStatus(file).getLen
    }
  }

  /** The value cached as partition `split` of RDD `rddId` when this JVM's
    * memory store holds it (`blockManager` is `private[spark]`), else
    * None. Takes no block lock: the block may be dropped meanwhile. */
  def residentValue(rddId: Int, split: Int): Option[Any] =
    org.apache.spark.SparkEnv.get.blockManager.memoryStore
      .getValues(org.apache.spark.storage.RDDBlockId(rddId, split)).flatMap(_.nextOption())

  /** Remove every cached partition of RDD `rddId` from the block stores
    * of the whole cluster, keeping its storage level, so that its next
    * computation caches it again. Returns how many partitions were
    * cached. The block managers are asked for their blocks: the master's
    * own listing reads its block maps off its endpoint thread, and
    * failed with a ConcurrentModificationException under concurrent
    * block updates. */
  def dropRddBlocks(rddId: Int): Int = {
    val master = org.apache.spark.SparkEnv.get.blockManager.master
    val held = master.getMatchingBlockIds({
      case org.apache.spark.storage.RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).distinct.size
    master.removeRdd(rddId, blocking = true)
    held
  }

  /** The logical plan backing a DataFrame. */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan

  /** Idempotently install an extra planner strategy on a session. */
  def addStrategy(spark: SparkSession, s: org.apache.spark.sql.classic.Strategy): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(s)) {
      cs.experimental.extraStrategies = s +: cs.experimental.extraStrategies
    }
  }

  /** Idempotently install an extra optimizer rule on a session. */
  def addOptimizerRule(
      spark: SparkSession,
      r: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(r)) {
      cs.experimental.extraOptimizations = r +: cs.experimental.extraOptimizations
    }
  }

  /** Block until the async listener bus has delivered every queued
    * event (`listenerBus` is `private[spark]`). Metric-asserting specs
    * call this before sampling a listener-fed accumulator — without the
    * drain, late task-end events shift into the next batch's bucket. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a Catalyst function builder under a SQL name. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** The session's collision-free UUID (private[sql] on the session
    * itself) — cache keys built from identityHashCode can recur after
    * GC and resurrect dead-session handles; this cannot. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Run `f` with `pairs` overlaid on the session's SQLConf for the
    * CURRENT THREAD only (`SQLConf.withExistingConf`): plan construction
    * and eager actions inside `f` see the override through the dynamic
    * `SQLConf.get` that analyzer/optimizer rules read, while concurrent
    * queries on other threads keep the session's real conf — the scoped
    * alternative to flipping `spark.conf` session-globally around an
    * operator. */
  def withConfOverrides[T](spark: SparkSession, pairs: (String, String)*)(f: => T): T = {
    val cloned = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.clone()
    pairs.foreach { case (k, v) => cloned.setConfString(k, v) }
    org.apache.spark.sql.internal.SQLConf.withExistingConf(cloned)(f)
  }
}
