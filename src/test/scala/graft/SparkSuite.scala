package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (guide: one per suite via
  * lazy val; getOrCreate dedupes across suites in the same JVM). */
object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftSqlBridge.addOptimizerRule(s, OptimizerRuns)
    s
  }

  /** A no-op optimizer rule that counts its applications: one per
    * optimization of a plan on the suite session. */
  object OptimizerRuns extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
      count.incrementAndGet()
      plan
    }
  }

  /** Spark work counted by [[SparkSuite.workDuring]]. `inputBytes` is the
    * file bytes read through Hadoop's FileSystem: a task's
    * `inputMetrics.bytesRead` would count cached blocks it reads too.
    * `sqlExecutions` counts the Dataset actions and writes that ran a
    * planned query, `optimizerRuns` the plans optimized on the suite
    * session ([[SparkSuite.OptimizerRuns]]), `resultBytes` the
    * serialized task results sent to the driver (the tasks' `resultSize`),
    * and `listings` the directories listed under the `listfs:` scheme
    * ([[ListingFs]], on the driver and in tasks). */
  final case class Work(jobs: Int, stages: Int, shuffleWriteBytes: Long, shuffles: Int,
      inputBytes: Long, sqlExecutions: Int, optimizerRuns: Long, resultBytes: Long,
      listings: Long)
}

/** The local filesystem under the `listfs:` scheme ([[SparkSuite.listfs]]),
  * counting its directory listings: Hadoop's own statistics count none.
  * `listFiles` and `listLocatedStatus` list through `listStatus`, so each
  * directory they visit counts once. The statuses carry default
  * permissions: the local ones load theirs from a `file:` path. */
class ListingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("listfs:///")
  override def getScheme: String = "listfs"
  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    ListingFs.calls.incrementAndGet()
    super.listStatus(f).map(s => new org.apache.hadoop.fs.FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime, s.getPath))
  }
}

object ListingFs {
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
}

/** [[ListingFs]] for the FileContext API (sidecar renames). */
class ListingAfs(uri: java.net.URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(uri, new ListingFs, conf, "listfs", false)

trait SparkSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** The local `path` under the `listfs:` scheme, whose directory
    * listings [[workDuring]] counts ([[ListingFs]]). */
  def listfs(path: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.listfs.impl", classOf[ListingFs].getName)
    conf.set("fs.AbstractFileSystem.listfs.impl", classOf[ListingAfs].getName)
    s"listfs://$path"
  }

  /** Run `f` on a new directory in `java.io.tmpdir` whose name starts
    * with `prefix`, and delete it, with all it holds, when `f` returns or
    * throws. */
  def withTempDir[T](prefix: String)(f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try f(dir) finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  /** Run `f` and count the Spark jobs it started (the work counter the
    * probe specs pin). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val (r, w) = workDuring(f)
    (r, w.jobs)
  }

  /** Run `f` and count the Spark work it started: jobs, SUBMITTED stages
    * (a stage whose output is already materialized is skipped, not
    * submitted), shuffle bytes written, shuffles (submitted stages
    * that write one), file bytes read, SQL executions, optimizer runs,
    * task result bytes and `listfs:` directory listings. */
  def workDuring[T](f: => T): (T, SparkSuite.Work) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffled = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffles = new java.util.concurrent.atomic.AtomicInteger(0)
    val results = new java.util.concurrent.atomic.AtomicLong(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit = {
        stages.incrementAndGet()
        if (org.apache.spark.graft.DriverBlocks.writesShuffle(e.stageInfo))
          shuffles.incrementAndGet()
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
          results.addAndGet(e.taskMetrics.resultSize)
        }
    }
    val executions = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(q)
    val read0 = fileBytesRead
    val optimized0 = SparkSuite.OptimizerRuns.count.get
    val listed0 = ListingFs.calls.get
    val r = try {
      val r = f
      org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
      r
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.listenerManager.unregister(q)
    }
    (r, SparkSuite.Work(jobs.get, stages.get, shuffled.get, shuffles.get,
      fileBytesRead - read0, executions.get, SparkSuite.OptimizerRuns.count.get - optimized0,
      results.get, ListingFs.calls.get - listed0))
  }

  /** Bytes read so far through Hadoop's FileSystem, every scheme. */
  private def fileBytesRead: Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => Option(s.getLong("bytesRead")).fold(0L)(_.longValue)).sum
  }
}
