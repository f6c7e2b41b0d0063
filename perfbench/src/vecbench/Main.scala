package vecbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.index.{IndexParams, LsmVectorIndex, ShardGraphCache, ShardMeta,
  SubIndexGraph, VectorIndex}

/** Timings of one kind, with the statistics the benchmark reports. */
final class Samples {
  private val xs = mutable.ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = xs += x
  def n: Int = xs.size
  def sum: Double = xs.sum
  def median: Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest order statistic with at least ten samples beyond it, and
    * its percentile; None below 11 samples. */
  def tail: Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size))
    }
}

final class CheckFailed(msg: String) extends Exception(msg)

/** Operations attempted and failed; a failed check fails its operation. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer.empty[String]

  /** Run one checked operation. A program exception also fails it and
    * ends the workload, since the index state is then unknown. */
  def op[A](what: String)(f: => A): Option[A] = {
    attempted += 1
    try Some(f)
    catch {
      case e: CheckFailed =>
        failed += 1; messages += s"$what: ${e.getMessage}"; None
      case e: Throwable =>
        failed += 1; messages += s"$what: $e"; throw new Abort(e)
    }
  }
}

final class Abort(cause: Throwable) extends Exception(cause)

object Main {
  val K = 10
  val Width = 32
  val Shards = 4
  /** The reference example parameters: M=4, RM=128, step=4. */
  val Params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 128, step = 4)
  val SetupReps = 3
  val RecallFloor = 0.80
  val ExactSample = 10

  /** Workload sizes (README.md says why each is this size). */
  val QueryBatch = 100
  val QueryPool = 4
  val LsmBase = 8000
  val LsmStep = 250
  val LsmThreshold = 3000L
  val PubBase = 8000
  val PubAppend = 1000
  val PubWarm = 8
  /** Nominal length of one timed cycle on a 4-core machine: a run times a
    * whole number of cycles, about --seconds long, so every run holds the
    * same mix of steps (compacting or not, cold or warm). */
  val LsmCycleSeconds = 20.0
  val PubCycleSeconds = 6.0
  val Workloads = Seq("ingest_lsm", "publish_reload")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      outDir: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    val t = need("trace")
    require(t == "0" || t == "1", "--trace takes 0 or 1")
    Args(w, need("seed").toLong, need("seconds").toInt, t == "1", need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // Spark start-up is mostly one thread; the idle cores compile the
    // graph kernel meanwhile, so the first timed set-up is not spent in
    // the interpreter. The data is unrelated to the workload's.
    val warm = new Thread(() => {
      val v = new Gen(-1L).vectors(0, 4000)
      val g = new SubIndexGraph(Params, v.length)
      v.foreach { case (id, x) => g.insert(id, x) }
      v.take(500).foreach { case (_, x) => g.queryTopK(x, K, Width); g.bruteForceTopK(x, K) }
    })
    warm.start()
    val work = new java.io.File(args.outDir, s"work-${ProcessHandle.current().pid()}")
    val spark = SparkSession.builder()
      .master(s"local[$Shards]")
      .appName("vecbench")
      .config("spark.sql.shuffle.partitions", Shards.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    warm.join()
    val bench = new Bench(spark, args, work)
    val code =
      try bench.run()
      finally {
        spark.stop()
        deleteTree(work)
      }
    System.out.flush()
    System.exit(code)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** One workload run: set-up, warm-up, the timed closed loop (one client
  * thread, each call issued after the previous one completed), the
  * correctness checks, and the report. */
final class Bench(spark: SparkSession, args: Main.Args, work: java.io.File) {
  import Main._

  private val sc = spark.sparkContext
  private val tracer = new Tracer(sc, args.trace)
  private val gen = new Gen(args.seed)
  private val checks = new Checks

  // end-to-end samples
  private val setupMs = new Samples
  private val buildMs = new Samples
  private val stepMs = new Samples
  private val probeMs = new Samples
  private var queriesAnswered = 0L
  private var recall = Double.NaN
  private var indexMemBytes = 0L
  // workload-specific samples
  private val writeMs = new Samples    // LSM ingest+delete, or appendTo
  private val compactMs = new Samples  // LSM steps that compacted
  private val loadMs = new Samples
  private val firstResultMs = new Samples
  private val rehydrateMs = new Samples
  private var vectorsWritten = 0L
  private var writeWallMs = 0.0
  private var snapshotBytes = 0L
  // per-layer counts
  private var shardsPeeked = 0L
  private var shardsResident = 0L
  private val gensAtProbe = new Samples
  private val rebuiltPerIngested = mutable.ArrayBuffer.empty[(Long, Long)]
  private val rebuiltPerAppended = mutable.ArrayBuffer.empty[(Long, Long)]
  private val filesWritten = new Samples
  private val filesLinked = new Samples
  private val bytesWritten = new Samples
  private var kernelInsertUs = Double.NaN
  private var kernelQueryUs = Double.NaN
  private var kernelShardMs = Double.NaN

  private def now: Double = tracer.now

  private def vecDf(v: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(sc.parallelize(v.toSeq, Shards)).toDF("id", "embedding")

  private def queryDf(q: Array[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(q.toSeq).toDF("query_id", "embedding")

  private def timed[A](name: String, layer: String)(f: => A): (A, Double) = {
    val t = now
    val r = tracer.span(name, layer)(f)
    (r, now - t)
  }

  // ---------------------------------------------------------------- checks

  private def fail(msg: String): Nothing = throw new CheckFailed(msg)

  /** Shape of every probe result (k rows per query, ranks 1..k, distinct
    * neighbours, ascending distance, no dead id) and its recall against
    * `truth` over the queries `truth` covers. Returns (hits, possible). */
  private def checkProbe(rows: Array[Row], qs: Array[(Long, Array[Float])],
      truth: Map[Long, Array[(Double, Long)]], dead: Long => Boolean): (Long, Long) = {
    val byQ = rows.groupBy(_.getLong(0))
    if (byQ.size != qs.length || !qs.forall(q => byQ.contains(q._1)))
      fail(s"answered ${byQ.size} of ${qs.length} queries")
    var hits = 0L
    var possible = 0L
    qs.foreach { case (qid, _) =>
      val rs = byQ(qid).sortBy(_.getInt(1))
      if (rs.length != K) fail(s"query $qid has ${rs.length} rows, not $K")
      if (!rs.indices.forall(i => rs(i).getInt(1) == i + 1)) fail(s"query $qid ranks are not 1..$K")
      val ids = rs.map(_.getLong(2))
      if (ids.distinct.length != K) fail(s"query $qid repeats a neighbour")
      if (!rs.indices.drop(1).forall(i => rs(i - 1).getDouble(3) <= rs(i).getDouble(3)))
        fail(s"query $qid distances are not ascending")
      ids.find(dead).foreach(id => fail(s"query $qid returned deleted id $id"))
      truth.get(qid).foreach { t =>
        hits += ids.count(t.map(_._2).toSet)
        possible += K
      }
    }
    (hits, possible)
  }

  private def recallOf(hp: (Long, Long)): Double = hp._1.toDouble / hp._2

  private def checkRecall(hp: (Long, Long)): Double = {
    val r = recallOf(hp)
    if (r < RecallFloor) fail(f"recall@$K $r%.4f below the floor $RecallFloor")
    r
  }

  /** An exact probe (width 0) must return the brute-force answer. */
  private def checkExact(what: String, probe: DataFrame => DataFrame,
      corpus: Array[(Long, Array[Float])], sample: Array[(Long, Array[Float])]): Unit =
    checks.op(what) {
      val rows = tracer.span("exact probe", "probe")(probe(queryDf(sample)).collect())
      val truth = Gen.bruteForce(corpus, sample, K)
      checkProbe(rows, sample, Map.empty, _ => false)
      rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
        val got = rs.sortBy(_.getInt(1)).map(r => (r.getDouble(3), r.getLong(2)))
        val want = truth(qid)
        val same = got.map(_._2).toSet == want.map(_._2).toSet &&
          got.zip(want).forall { case ((a, _), (b, _)) => math.abs(a - b) <= 1e-6 * math.max(1.0, b) }
        if (!same) fail(s"exact probe of query $qid differs from brute force")
      }
    }

  private def peekResident(members: Seq[VectorIndex]): Unit = if (args.trace) {
    members.foreach { m =>
      m.meta.foreach { s =>
        shardsPeeked += 1
        if (ShardGraphCache.peek(m.indexId, s.sub_index_id) != null) shardsResident += 1
      }
    }
  }

  /** Rows of the shards whose meta changed between two versions of an index. */
  private def rowsRebuilt(before: Array[ShardMeta], after: Array[ShardMeta]): Long = {
    val old = before.map(m => m.sub_index_id -> m).toMap
    after.filter(m => !old.get(m.sub_index_id).contains(m)).map(_.n_vectors).sum
  }

  private def setUp[A](release: A => Unit)(make: => (A, Double)): A = {
    var last: Option[A] = None
    (1 to SetupReps).foreach { _ =>
      last.foreach(release)
      val t = now
      val (a, build) = make
      setupMs += now - t
      buildMs += build
      last = Some(a)
    }
    last.get
  }

  private def storageBytes: Long = sc.getRDDStorageInfo.map(_.memSize).sum

  // ------------------------------------------------------------- workloads

  private def rehydrate(evict: => Unit)(probe: => Unit): Unit = if (args.trace) {
    evict
    val t0 = now
    probe
    val t1 = now
    probe
    rehydrateMs += (t1 - t0) - (now - t1)
  }

  private def ingestLsm(): Unit = {
    val live = mutable.Queue.empty[(Long, Array[Float])]
    var lsm = setUp[LsmVectorIndex](_.base.unpersist()) {
      val corpus = gen.vectors(0, LsmBase)
      live.clear(); live ++= corpus
      val df = vecDf(corpus)
      val (b, ms) = timed("VectorIndex.build", "build")(VectorIndex.build(df, Params, Shards).optimize())
      (LsmVectorIndex(b, LsmThreshold), ms)
    }
    indexMemBytes = storageBytes
    val pool = Array.tabulate(QueryPool)(b => gen.queries(b, QueryBatch))
    val poolDf = pool.map(queryDf)
    val exactSample = pool(0).take(ExactSample)
    checkExact("exact probe at set-up", lsm.query(_, K, 0), live.toArray, exactSample)
    checks.op("warm-up probe") {
      checkProbe(lsm.query(poolDf(0), K, Width).collect(), pool(0), Map.empty, _ => false)
    }
    rehydrate(ShardGraphCache.evict(lsm.base.indexId)) { lsm.query(poolDf(0), K, Width).collect() }
    var lo = 0L          // ids below lo are deleted
    var hi = LsmBase.toLong
    var step = 0
    var cycle = 0
    var sinceCompaction = 0L
    val firstCycle = (mutable.ArrayBuffer.empty[Long], mutable.ArrayBuffer.empty[Long])
    // step 0 is an untimed warm-up (the first ingest runs cold code);
    // then whole compaction cycles only, so every run holds the same mix
    // of plain and compacting steps
    val cycles = math.max(1, math.round(args.seconds / LsmCycleSeconds).toInt)
    var done = false
    while (!done) {
      val warmUp = step == 0
      val add = gen.vectors(hi, LsmStep)
      val addDf = vecDf(add)
      val compacts = lsm.freshCount + LsmStep >= LsmThreshold
      if (compacts)
        checkExact(s"exact probe before compaction $cycle", lsm.query(_, K, 0), live.toArray, exactSample)
      val metaBefore = lsm.base.meta
      val from = lo
      // spans of the timed calls carry the step as their op id; checks run as op 0
      tracer.op = step
      val (ingested, ims) = timed("LsmVectorIndex.ingest", "lsm")(lsm.ingest(addDf))
      val (next, dms) = timed("LsmVectorIndex.delete", "lsm")(ingested.delete(from until from + LsmStep))
      lsm = next
      val wms = ims + dms
      val compacted = lsm.generations.isEmpty
      live ++= add
      (0 until LsmStep).foreach(_ => live.dequeue())
      lo += LsmStep; hi += LsmStep
      sinceCompaction += LsmStep
      if (compacted)
        rebuiltPerIngested += ((rowsRebuilt(metaBefore, lsm.base.meta), sinceCompaction))
      if (!warmUp) {
        vectorsWritten += LsmStep; writeWallMs += wms
        writeMs += wms
        if (compacted) compactMs += wms
        gensAtProbe += lsm.generations.size
        peekResident(lsm.base +: lsm.generations)
      }
      if (compacted) sinceCompaction = 0
      val b = step % QueryPool
      val (rows, pms) = timed("LsmVectorIndex.query", "probe")(lsm.query(poolDf(b), K, Width).collect())
      tracer.op = 0
      if (!warmUp) {
        stepMs += wms + pms; probeMs += pms; queriesAnswered += QueryBatch
      }
      val dead = lo
      val truth = Gen.bruteForce(live.toArray, pool(b), K)
      checks.op("ingest step") {
        val hp = checkProbe(rows, pool(b), truth, _ < dead)
        if (cycle == 0) { firstCycle._1 += hp._1; firstCycle._2 += hp._2 }
        checkRecall(hp)
      }
      if (compacted) {
        checkExact(s"exact probe after compaction $cycle", lsm.query(_, K, 0), live.toArray, exactSample)
        cycle += 1
        done = cycle == cycles
      }
      step += 1
    }
    recall = recallOf((firstCycle._1.sum, firstCycle._2.sum))
    kernel(live.toArray, pool.flatten)
  }

  private def publishReload(): Unit = {
    val root = new java.io.File(work, "snapshots")
    def gPath(g: Int) = new java.io.File(root, s"g$g").getAbsolutePath
    var corpus: Array[(Long, Array[Float])] = null
    var serving = setUp[VectorIndex] { h => h.unpersist(); Main.deleteTree(root) } {
      corpus = gen.vectors(0, PubBase)
      val df = vecDf(corpus)
      timed("VectorIndex.buildTo", "build") {
        VectorIndex.buildTo(df, Params, Shards, gPath(0)).optimize()
      }
    }
    indexMemBytes = storageBytes
    val pool = Array.tabulate(QueryPool)(b => gen.queries(b, QueryBatch))
    val poolDf = pool.map(queryDf)
    checkExact("exact probe at set-up", serving.query(_, K, 0), corpus, pool(0).take(ExactSample))
    val all = mutable.ArrayBuffer.empty[(Long, Array[Float])] ++= corpus
    var hi = PubBase.toLong
    val cycles = math.max(1, math.round(args.seconds / PubCycleSeconds).toInt)
    (0 until cycles).foreach { g =>
      val add = gen.vectors(hi, PubAppend)
      val addDf = vecDf(add)
      val (oldPath, newPath) = (gPath(g), gPath(g + 1))
      tracer.op = g + 1
      val (published, pms) = timed("VectorIndex.appendTo", "persistence") {
        VectorIndex.appendTo(spark, oldPath, addDf, newPath)
      }
      published.unpersist()
      all ++= add
      hi += PubAppend
      val files = listFiles(new java.io.File(newPath))
      val linked = files.filter(f => nlink(f) > 1)
      filesWritten += (files.size - linked.size)
      filesLinked += linked.size
      bytesWritten += files.filterNot(linked.contains).map(_.length).sum
      snapshotBytes = files.map(_.length).sum
      val (loaded, lms) = timed("VectorIndex.load", "persistence") {
        VectorIndex.load(spark, newPath, cache = false)
      }
      rebuiltPerAppended += ((rowsRebuilt(serving.meta, loaded.meta), PubAppend.toLong))
      val b = g % QueryPool
      peekResident(Seq(loaded))
      val (cold, cms) = timed("VectorIndex.query", "probe")(loaded.query(poolDf(b), K, Width).collect())
      // the new generation serves a few batches before the next publish
      val warm = (1 to PubWarm).map { i =>
        val wb = (b + i) % QueryPool
        peekResident(Seq(loaded))
        val (rows, ms) = timed("VectorIndex.query", "probe")(loaded.query(poolDf(wb), K, Width).collect())
        probeMs += ms
        (wb, rows, ms)
      }
      val retired = serving
      val (_, ems) = timed("ShardGraphCache.evict", "probe") {
        ShardGraphCache.evict(retired.indexId)
        retired.unpersist()
      }
      val (_, dms) = timed("delete snapshot", "persistence")(Main.deleteTree(new java.io.File(oldPath)))
      val rms = ems + dms
      tracer.op = 0
      serving = loaded
      val warmMs = warm.map(_._3).sum
      stepMs += pms + lms + cms + warmMs + rms
      writeMs += pms; loadMs += lms; firstResultMs += lms + cms
      rehydrateMs += cms - warm.find(_._1 == b).map(_._3).getOrElse(Double.NaN)
      queriesAnswered += (1 + PubWarm) * QueryBatch
      vectorsWritten += PubAppend; writeWallMs += pms
      val truth = Gen.bruteForce(all.toArray, pool.flatten, K)
      checks.op("publish cycle") {
        val n = loaded.meta.map(_.n_vectors).sum
        if (n != hi) fail(s"generation ${g + 1} holds $n rows, expected $hi")
        def key(rs: Array[Row]) = rs.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
        val hps = ((b, cold) +: warm.map(w => (w._1, w._2))).map { case (wb, rows) =>
          if (wb == b && key(rows) != key(cold)) fail("cold and warm probes of one generation differ")
          checkProbe(rows, pool(wb), truth, _ => false)
        }
        if (g == 0) recall = recallOf((hps.map(_._1).sum, hps.map(_._2).sum))
        hps.foreach(checkRecall)
      }
      checkExact(s"exact probe of generation ${g + 1}", loaded.query(_, K, 0), all.toArray,
        pool(b).take(ExactSample))
    }
    kernel(corpus, pool.flatten)
  }

  private def listFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))

  private def nlink(f: java.io.File): Int =
    java.nio.file.Files.getAttribute(f.toPath, "unix:nlink").asInstanceOf[Int]

  /** Kernel micro-measure (traced runs only): single-thread SubIndexGraph
    * insert of one shard-sized slice of the corpus, then beam queries. */
  private def kernel(corpus: Array[(Long, Array[Float])],
      qs: Array[(Long, Array[Float])]): Unit = if (args.trace) {
    val slice = corpus.filter(_._1 % Shards == 0)
    val g = new SubIndexGraph(Params, slice.length)
    val (_, ims) = timed("SubIndexGraph.insert", "kernel")(slice.foreach { case (id, v) => g.insert(id, v) })
    val (_, qms) = timed("SubIndexGraph.queryTopK", "kernel")(qs.foreach(q => g.queryTopK(q._2, K, Width)))
    kernelInsertUs = ims * 1000 / slice.length
    kernelQueryUs = qms * 1000 / qs.length
    kernelShardMs = ims
  }

  // ---------------------------------------------------------------- report

  def run(): Int = {
    val t0 = now
    val aborted =
      try {
        args.workload match {
          case "ingest_lsm" => ingestLsm()
          case "publish_reload" => publishReload()
        }
        false
      } catch { case _: Abort => true }
    tracer.drain()
    checks.messages.foreach(m => System.err.println(s"CHECK FAILED $m"))
    val ok = !aborted && checks.failed == 0
    val e2e = if (ok) endToEnd else Seq.empty
    val layers = if (ok && args.trace) perLayer else Seq.empty
    e2e.foreach { case (k, v, u, note) => println(f"  $k%-34s $v%14.4f $u%-6s $note") }
    extras(ok).foreach(l => println(s"  $l"))
    layers.foreach { case (k, v, u, note) => println(f"  $k%-34s $v%14.4f $u%-6s $note") }
    if (args.trace) writeTrace(e2e, layers, now - t0)
    val metrics = (if (args.trace) layers else e2e).map { case (k, v, u, _) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }
    println(s"""{"correct": $ok, "attempted": ${math.max(1L, checks.attempted)}, """ +
      s""""failed": ${checks.failed}, "metrics": {${metrics.mkString(", ")}}}""")
    if (ok) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private type Line = (String, Double, String, String)

  private def endToEnd: Seq[Line] = Seq(
    ("setup_s", setupMs.median / 1000, "s", s"median of n=${setupMs.n} set-ups"),
    ("qps", queriesAnswered / (stepMs.sum / 1000), "1/s",
      f"$queriesAnswered queries / ${stepMs.sum / 1000}%.2f s timed"),
    // a mean, not a median: a run's probes are a fixed mix (LSM probes see
    // a growing number of generations, one probe per cycle follows a
    // compaction), and the median of such a mix jumps between its
    // components from run to run
    ("probe_mean_ms", probeMs.sum / probeMs.n, "ms", s"n=${probeMs.n}"),
    ("ingest_vps", vectorsWritten / (writeWallMs / 1000), "1/s",
      f"$vectorsWritten vectors / ${writeWallMs / 1000}%.2f s of writes"),
    ("recall_at_10", recall, "ratio", "fixed query sample"))

  /** Metrics of one workload only, and tails: printed, not in the JSON. */
  private def extras(ok: Boolean): Seq[String] = {
    def ms(name: String, s: Samples, scale: Double = 1, unit: String = "ms") =
      if (s.n == 0) Nil
      else Seq(f"$name%-34s ${s.median / scale}%14.4f $unit%-6s n=${s.n}")
    def tail(name: String, s: Samples) = s.tail match {
      case Some((v, p)) => Seq(f"$name%-34s $v%14.4f ms     p$p%.1f of n=${s.n}")
      case None => Seq(s"$name (n=${s.n} < 11: no percentile has ten samples beyond it)")
    }
    if (!ok) Seq(s"error_rate ${checks.failed}/${checks.attempted}")
    else ms("step_p50_ms", stepMs) ++ tail("step_tail_ms", stepMs) ++
      ms("probe_p50_ms", probeMs) ++ tail("probe_tail_ms", probeMs) ++
      ms("write_p50_ms", writeMs) ++ tail("write_tail_ms", writeMs) ++
      ms("compact_s", compactMs, 1000, "s") ++ ms("first_result_s", firstResultMs, 1000, "s") ++
      ms("load.ms", loadMs) ++
      (if (snapshotBytes > 0) Seq(f"${"snapshot_mb"}%-34s ${snapshotBytes / 1e6}%14.4f MB") else Nil) ++
      Seq(f"${"index_mem_mb"}%-34s ${indexMemBytes / 1e6}%14.4f MB",
        s"error_rate ${checks.failed}/${checks.attempted}")
  }

  private def ratioNote(xs: Seq[(Long, Long)]): (Double, String) =
    if (xs.isEmpty) (0.0, "no writes")
    else (xs.map(_._1).sum.toDouble / xs.map(_._2).sum,
      s"${xs.map(_._1).sum} rows rebuilt / ${xs.map(_._2).sum} written")

  private def perLayer: Seq[Line] = {
    val spans = tracer.allSpans
    val self = Tracer.selfTimes(spans)
    // the op's own spans (not its jobs and stages): their self time is
    // the op wall the driver spends outside every Spark job
    val ops = spans.filter(s => s.op > 0 && !s.layer.startsWith("spark")).groupBy(_.op)
    val driverSelf = new Samples
    ops.values.foreach(calls => driverSelf += calls.map(c => self(c.id)).sum)
    val counters = tracer.opCounters
    val nOps = math.max(1, ops.size)
    def perOp(key: String) = ops.keys.toSeq.map(o => counters.get(o).map(_(key)).getOrElse(0.0)).sum / nOps
    val (lsmR, lsmNote) = ratioNote(rebuiltPerIngested.toSeq)
    val (pubR, pubNote) = ratioNote(rebuiltPerAppended.toSeq)
    def meanOr0(s: Samples) = if (s.n == 0) 0.0 else s.sum / s.n
    Seq(
      ("kernel.query_us", kernelQueryUs, "us", s"width $Width, k $K"),
      ("kernel.insert_us", kernelInsertUs, "us", s"single thread, one shard-sized slice"),
      ("build.s", buildMs.median / 1000, "s", s"median of n=${buildMs.n}"),
      ("build.kernel_share", kernelShardMs / buildMs.median, "ratio", "one shard's kernel insert / build wall"),
      ("probe.cache_hit_ratio", if (shardsPeeked == 0) 0.0 else shardsResident.toDouble / shardsPeeked,
        "ratio", s"$shardsResident of $shardsPeeked shards resident"),
      ("probe.rehydrate_ms", rehydrateMs.median, "ms", s"cold minus warm, n=${rehydrateMs.n}")) ++
      Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
        "spark.task_run_ms" -> "ms", "spark.task_cpu_ms" -> "ms", "spark.task_overhead_ms" -> "ms",
        "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
        "spark.shuffle_read_bytes" -> "bytes", "spark.spill_bytes" -> "bytes")
        .map { case (k, u) => (k, perOp(k), u, s"mean per op, n=${ops.size}") } ++
      Seq(
        ("driver.self_ms", driverSelf.median, "ms", s"op wall minus its jobs, n=${driverSelf.n}"),
        ("lsm.generations_at_probe", meanOr0(gensAtProbe), "count", s"n=${gensAtProbe.n}"),
        ("lsm.rows_rebuilt_per_row_ingested", lsmR, "ratio", lsmNote),
        ("publish.files_written", meanOr0(filesWritten), "count", s"per generation, n=${filesWritten.n}"),
        ("publish.bytes_written", meanOr0(bytesWritten), "bytes", "per generation"),
        ("publish.files_linked", meanOr0(filesLinked), "count", "per generation, nlink > 1"),
        ("publish.rows_rebuilt_per_row_appended", pubR, "ratio", pubNote))
  }

  // ----------------------------------------------------------------- trace

  private def writeTrace(e2e: Seq[Line], layers: Seq[Line], wallMs: Double): Unit = {
    val spans = tracer.allSpans
    val self = Tracer.selfTimes(spans)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def lines(ls: Seq[Line]) = ls.map { case (k, v, u, note) =>
      s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}, "note": ${q(note)}}"""
    }.mkString("{", ", ", "}")
    val byLayer = spans.groupBy(_.layer).toSeq.sortBy(_._1).map { case (l, ss) =>
      s"""${q(l)}: {"spans": ${ss.size}, "wall_ms": ${num(ss.map(_.dur).sum)}, """ +
        s""""self_ms": ${num(ss.map(s => self(s.id)).sum)}}"""
    }.mkString("{", ", ", "}")
    val spanJson = spans.sortBy(_.start).map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${q(s.name)}, """ +
        s""""layer": ${q(s.layer)}, "start_ms": ${num(s.start)}, "end_ms": ${num(s.end)}}"""
    }.mkString("[\n", ",\n", "\n]")
    val json =
      s"""{"workload": ${q(args.workload)}, "seed": ${args.seed}, "seconds": ${args.seconds}, """ +
        s""""wall_ms": ${num(wallMs)},\n"end_to_end": ${lines(e2e)},\n"per_layer": ${lines(layers)},\n""" +
        s""""extras": ${extras(e2e.nonEmpty).map(q).mkString("[", ", ", "]")},\n""" +
        s""""layer_self_ms": $byLayer,\n"spans": $spanJson}\n"""
    val dir = new java.io.File(args.outDir, "traces")
    dir.mkdirs()
    val f = new java.io.File(dir, s"${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.write(f.toPath, json.getBytes("UTF-8"))
    println(s"  trace written to ${f.getPath}")
  }
}
