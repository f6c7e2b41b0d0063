package vecbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Benchmark spans wrap a public call into a layer;
  * Spark jobs and stages become child spans of the call that ran them.
  * Times are milliseconds since the tracer started. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var overheadMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var start = Double.NaN
  var end = Double.NaN
  var completed = false
  /** Span whose call submitted the stage (0 = none). */
  var span = 0L
}

final class JobRec(val id: Int, val span: Long, val start: Double, val stageIds: Seq[Int]) {
  var end = Double.NaN
}

/** Spans around the benchmark's calls into the program plus a
  * SparkListener that attaches every job to the span that issued it.
  *
  * Attachment uses a thread-local Spark property: the tracer sets it to
  * the innermost open span before each call, and `onJobStart` reads it
  * back from the job's properties. Spans stay in memory until [[drain]].
  * With `enabled = false` no listener is registered and `span` only runs
  * its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis()
  def now: Double = (System.nanoTime() - t0Nanos) / 1e6
  private def fromEpoch(ms: Long): Double = (ms - t0Epoch).toDouble

  private var nextId = 1L
  private var open: List[Long] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Current operation id (0 = set-up or checks, not a timed op). */
  var op = 0L

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  @volatile private var fenceSeen = false
  private val lock = new Object

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), fromEpoch(e.time), e.stageIds)
    }
    // a stage listed by several jobs runs once; it belongs to the span
    // whose job submitted it, read from the submission's properties
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
      a.span = spanOf(e.properties)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = fromEpoch(e.time)
        if (j.span == FenceSpan) fenceSeen = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg)
      a.completed = true
      e.stageInfo.submissionTime.foreach(t => a.start = fromEpoch(t))
      e.stageInfo.completionTime.foreach(t => a.end = fromEpoch(t))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.overheadMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Run `f` inside a span named after the public call it makes. */
  def span[A](name: String, layer: String)(f: => A): A = {
    if (!enabled) return f
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0L)
    open = id :: open
    sc.setLocalProperty(SpanKey, id.toString)
    val s = now
    try f
    finally {
      val e = now
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.map(_.toString).orNull)
      spans += Span(id, parent, op, name, layer, s, e)
    }
  }

  /** Wait until the listener has seen every job issued so far: a trivial
    * fence job is sent last, and the listener bus delivers in order. */
  def drain(): Unit = if (enabled) {
    sc.setLocalProperty(SpanKey, FenceSpan.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(SpanKey, null)
    val deadline = System.nanoTime() + 20000000000L
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(fenceSeen, "listener bus did not deliver the fence job")
  }

  /** Benchmark spans plus one child span per Spark job and executed stage. */
  def allSpans: Seq[Span] = lock.synchronized {
    val opOf = spans.map(s => s.id -> s.op).toMap
    val jobSpans = jobs.values.filter(j => j.span > 0 && !j.end.isNaN).map { j =>
      Span(JobBase + j.id, j.span, opOf.getOrElse(j.span, 0L), s"job ${j.id}",
        "spark", j.start, j.end)
    }
    // a stage's parent is the latest job of its span, started before it,
    // that lists it
    val stageSpans = stages.iterator.collect {
      case (sid, a) if a.completed && !a.start.isNaN && a.span > 0 =>
        val parent = jobs.values
          .filter(j => j.span == a.span && j.start <= a.start && j.stageIds.contains(sid))
          .lastOption.map(JobBase + _.id).getOrElse(a.span)
        Span(StageBase + sid, parent, opOf.getOrElse(a.span, 0L),
          s"stage $sid", "spark.stage", a.start, a.end)
    }
    spans.toSeq ++ jobSpans ++ stageSpans
  }

  /** Per-op Spark counters, summed over every job issued inside the op. */
  def opCounters: Map[Long, Map[String, Double]] = lock.synchronized {
    val opOf = spans.map(s => s.id -> s.op).toMap
    val stagesByOp = stages.values.filter(a => a.span > 0 && a.tasks > 0)
      .groupBy(a => opOf.getOrElse(a.span, 0L))
    jobs.values.filter(_.span > 0).groupBy(j => opOf.getOrElse(j.span, 0L))
      .filter(_._1 > 0).map { case (o, js) =>
        val ran = stagesByOp.getOrElse(o, Nil).toSeq
        o -> Map(
          "spark.jobs" -> js.size.toDouble,
          "spark.stages" -> ran.size.toDouble,
          "spark.tasks" -> ran.map(_.tasks).sum.toDouble,
          "spark.task_run_ms" -> ran.map(_.runMs).sum,
          "spark.task_cpu_ms" -> ran.map(_.cpuMs).sum,
          "spark.task_overhead_ms" -> ran.map(_.overheadMs).sum,
          "spark.gc_ms" -> ran.map(_.gcMs).sum,
          "spark.shuffle_write_bytes" -> ran.map(_.shuffleWrite).sum.toDouble,
          "spark.shuffle_read_bytes" -> ran.map(_.shuffleRead).sum.toDouble,
          "spark.spill_bytes" -> ran.map(_.spill).sum.toDouble)
      }
  }
}

object Tracer {
  val SpanKey = "vecbench.span"
  private val FenceSpan = -1L
  private val JobBase = 1L << 40
  private val StageBase = 1L << 41

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def unionLength(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var covered = 0.0
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Self time of each span: its duration minus the part its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> math.max(0.0, s.dur - unionLength(c, s.start, s.end))
    }.toMap
  }
}
