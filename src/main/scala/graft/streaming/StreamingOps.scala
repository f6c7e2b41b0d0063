package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

import graft.operators.Sessionize.{Event, Session}

/** Structured Streaming operators over the events table. For verification
  * the parquet file drives the stream synchronously (memory sink +
  * processAllAvailable — guide pattern), so batch oracles apply; the same
  * plan runs unchanged against a live file/kafka source.
  */
object StreamingOps {

  /** Streaming read of the events parquet (ts type normalized the same
    * way as Tables.events: nanos-as-long converted, native micros as-is). */
  private val stagedSources =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // footer-read schema inference is a Spark job — pay it once per path,
  // not once per streaming query
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def eventsStream(spark: SparkSession, eventsPath: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = schemaCache.computeIfAbsent(eventsPath,
      p => spark.read.parquet(p).schema)
    // the file-stream source requires a directory; stage a symlink to the
    // single parquet file in a temp dir (memoized per source path)
    val dir = stagedSources.computeIfAbsent(eventsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("events.parquet"), java.nio.file.Paths.get(eventsPath))
      d.toString
    })
    graft.Tables.normalizeEventTs(spark.readStream.schema(schema).parquet(dir))
  }

  /** One-time streaming-engine warmup (untimed bench prepare): a 3-row
    * MemoryStream aggregation runs a full micro-batch cycle, initializing
    * the streaming planner, state-store provider, offset/commit-log and
    * memory-sink machinery (class loading + JIT) that otherwise lands on
    * the FIRST timed streaming query (~3-4 s cold vs ~1 s warm). Purely a
    * fixed-cost mover — every gated query still does its own full run. */
  private val engineWarmed = new java.util.concurrent.atomic.AtomicBoolean(false)
  def warmEngine(spark: SparkSession): Unit =
    if (engineWarmed.compareAndSet(false, true)) {
      import spark.implicits._
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int](spark)
      ms.addData(1, 2, 3)
      val ckpt = java.nio.file.Files.createTempDirectory("graft_warm_ckpt_")
      val q = ms.toDF().groupBy(col("value")).count()
        .writeStream.outputMode("complete").format("memory")
        .queryName("graft_stream_warm")
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    }

  /** Scoped leg timer for the `-Dgraft.stream.profile` flag of
    * [[drain]]: prints the wall time of one named leg of a batch body
    * (dev-only; a plain pass-through when the flag is unset). */
  private[graft] def timeLeg[T](tag: String)(f: => T): T =
    if (!sys.props.contains("graft.stream.profile")) f
    else {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[stream-leg] $tag ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

  /** Drain a finite streaming query: process every available batch, then
    * stop. With `-Dgraft.stream.profile` set, the per-batch engine timing
    * breakdown (StreamingQueryProgress.durationMs: triggerExecution,
    * queryPlanning, getBatch, addBatch, walCommit, commitOffsets) is
    * printed to stderr before the query stops — the measurement the
    * micro-batch fixed-cost work is driven by (guide §1). Dev-only flag;
    * zero cost when unset. */
  private[graft] def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      q.processAllAvailable()
      if (sys.props.contains("graft.stream.profile"))
        q.recentProgress.foreach { p =>
          System.err.println(
            s"[stream-profile] ${p.name} batch=${p.batchId} rows=${p.numInputRows} durations=${p.durationMs}")
        }
    } finally q.stop()

  /** Run a finite streaming plan to completion into an in-memory table.
    *
    * Fixed-cost engineering for the micro-batch path:
    *  - state/shuffle partition count is scoped to `statePartitions` for
    *    the duration of the run (state-store instances, and hence per-batch
    *    commit fan-out, scale with it; size it to key cardinality, not to
    *    the session's scan parallelism — the session value is restored
    *    afterwards);
    *  - the checkpoint goes to tmpfs (/dev/shm) when available and is
    *    deleted after the run (the HDFS-backed store writes many small
    *    delta files per batch — disk latency dominates on small state).
    */
  private def runFinite(
      spark: SparkSession, plan: DataFrame, mode: String,
      statePartitions: Int): DataFrame = {
    val name = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val shmRoot = java.nio.file.Paths.get("/dev/shm")
    val ckptRoot =
      if (java.nio.file.Files.isWritable(shmRoot)) shmRoot
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = plan.writeStream
        .outputMode(mode).format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      // best-effort cleanup of the per-run checkpoint
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    spark.table(name)
  }

  /** Tumbling-window aggregate: (window_start, event_type, n_events,
    * total_value) over 1-hour windows. Complete output mode so every
    * window is emitted regardless of watermark (the batch-equivalence
    * contract). */
  def hourlyByType(
      spark: SparkSession, eventsPath: String, statePartitions: Int = 0): DataFrame = {
    // stateless-complete aggregation needs no watermark-driven extra batch
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val agg = eventsStream(spark, eventsPath)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(18, 2))).cast("double"), 4).as("total_value"))
    runFinite(spark, agg, "complete", statePartitions)
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))
  }

  /** Open-session state carried between micro-batches. */
  case class OpenSession(
      sessionId: Int, nEvents: Long, startMicros: Long, endMicros: Long)

  /** Gap-based sessionization as a stateful streaming operator
    * (`flatMapGroupsWithState` + event-time timeout — the custom-state
    * streaming surface). Sessions closed by an in-batch gap are emitted
    * immediately; the trailing open session per user is emitted when the
    * watermark passes its end + gap (event-time timeout), so on a finite
    * source the output is exactly: every session whose end + gap <=
    * max(ts) — which the batch SQL oracle reproduces. */
  def streamSessionize(
      spark: SparkSession, eventsPath: String, gapMinutes: Int,
      statePartitions: Int = 0): DataFrame = {
    // event-time timeouts fire in the watermark-advance (no-data) batch —
    // it must stay enabled here
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    import spark.implicits._
    val gapMicros = gapMinutes.toLong * 60L * 1000000L
    @inline def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    def toTs(us: Long): java.sql.Timestamp = {
      val t = new java.sql.Timestamp(us / 1000000L * 1000L)
      t.setNanos(((us % 1000000L) * 1000L).toInt)
      t
    }

    val fn: (Long, Iterator[Event], GroupState[OpenSession]) => Iterator[Session] =
      (uid, events, state) => {
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(Session(uid, s.sessionId, s.nEvents, toTs(s.startMicros), toTs(s.endMicros)))
        } else {
          val sorted = events.toArray.sortBy(e => (micros(e.ts), e.event_id))
          val out = scala.collection.mutable.ArrayBuffer.empty[Session]
          var open = state.getOption.orNull
          for (e <- sorted) {
            val t = micros(e.ts)
            if (open == null) {
              open = OpenSession(0, 1L, t, t)
            } else if (t - open.endMicros > gapMicros) {
              out += Session(uid, open.sessionId, open.nEvents, toTs(open.startMicros), toTs(open.endMicros))
              open = OpenSession(open.sessionId + 1, 1L, t, t)
            } else {
              open = open.copy(nEvents = open.nEvents + 1, endMicros = math.max(open.endMicros, t))
            }
          }
          if (open != null) {
            state.update(open)
            state.setTimeoutTimestamp(open.endMicros / 1000L + gapMinutes.toLong * 60000L)
          }
          out.iterator
        }
      }

    val sessions = eventsStream(spark, eventsPath)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), col("value").cast("double"))
      .as[Event]
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)

    runFinite(spark, sessions.toDF(), "append", statePartitions)
  }

  /** Streaming exact dedup: emit the first occurrence of each
    * (user_id, event_type) pair — `dropDuplicates` keyed state over the
    * stream (the streaming face of Dedup.exactDedup). Append mode: each
    * key is emitted exactly once, so on a finite source the result equals
    * batch DISTINCT. */
  def streamDedup(
      spark: SparkSession, eventsPath: String, statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val dedup = eventsStream(spark, eventsPath)
      .select(col("user_id"), col("event_type"))
      .dropDuplicates("user_id", "event_type")
    runFinite(spark, dedup, "append", statePartitions)
  }

  /** Streaming heavy hitters: the bounded-memory Space-Saving aggregate
    * (operators/HeavyHitters.scala) as a streaming global aggregation in
    * complete mode — the state store carries ONE serialized summary of at
    * most `capacity` counters, not a per-key count row, so state size is
    * independent of the key cardinality flowing through the stream. Exact
    * (and batch-replayable by the SQL oracle) while distinct keys fit
    * `capacity`; graceful eps = N/capacity degradation beyond. Keys are
    * fixed-width (lpad) so the summary's string tie-break matches numeric
    * order. */
  def streamHeavyHitters(
      spark: SparkSession, eventsPath: String, capacity: Int, k: Int,
      statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val agg = eventsStream(spark, eventsPath)
      .select(lpad(col("user_id").cast("string"), 6, "0").as("item"))
      .agg(graft.operators.HeavyHitters.heavyHitters(col("item"), capacity, k).as("hh"))
    runFinite(spark, agg, "complete", statePartitions)
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("e.item").as("user_key"), col("e.n").as("n"))
  }

  /** Streaming approximate distinct — the streaming face of the
    * HyperLogLog sketch ([[graft.operators.Hll]], t12): documents stream
    * in; per-source distinct-token cardinality is maintained as ONE
    * 2^p-byte sketch per group in the state store (4 KiB at p=12), so
    * state is O(groups x 2^p) no matter how many distinct tokens flow
    * through — the second bounded-memory streaming summary next to
    * [[streamHeavyHitters]]. HLL register maxes are order- AND
    * batch-insensitive, so the complete-mode estimate equals the batch
    * sketch exactly regardless of micro-batch boundaries. */
  def streamApproxDistinct(
      spark: SparkSession, docsPath: String, p: Int,
      statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(docsPath, pth => spark.read.parquet(pth).schema)
    val srcDir = stagedSources.computeIfAbsent(docsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(docsPath))
      d.toString
    })
    val agg = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"))
      .agg(graft.operators.Hll.approxDistinct(col("tok"), p).as("est"))
    runFinite(spark, agg, "complete", statePartitions)
  }

  /** Stream-stream inner join with watermarks + a time-range condition:
    * purchases joined to the same user's clicks in the preceding 30
    * minutes. Both sides carry event-time watermarks so the join state is
    * BOUNDED — a side's buffered rows are dropped once the other side's
    * watermark passes the range (the unbounded-state trap of unconstrained
    * stream joins). Inner joins emit eagerly, so on a finite source the
    * output equals the batch join exactly. */
  def streamStreamJoin(
      spark: SparkSession, eventsPath: String, statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val purchases = eventsStream(spark, eventsPath)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = eventsStream(spark, eventsPath)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 minutes") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"))
    runFinite(spark, joined, "append", statePartitions)
  }

  /** Streaming ANN probe — the streaming-inference face of the vector
    * index: a stream of query vectors is probed against a batch-built
    * [[graft.index.VectorIndex]] inside `foreachBatch` (the idiomatic
    * Structured Streaming pattern for joining a stream against a
    * non-streamable operator), results appended to a parquet sink. Each
    * query's result is independent of micro-batch boundaries, so on a
    * finite source the accumulated sink equals the batch probe exactly —
    * with searchWidth=0 (exact mode) that makes the brute-force kNN SQL
    * the oracle. The same plan serves a live query feed: only the source
    * changes.
    *
    * Scale shape: per micro-batch this is the index's own query path
    * (broadcast for small batches, the driverless shuffled probe above
    * maxBatch), so streaming adds no new driver materialization. */
  def streamAnnProbe(
      spark: SparkSession, embPath: String, idx: graft.index.VectorIndex,
      k: Int, queryPred: org.apache.spark.sql.Column,
      statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(embPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(embPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(embPath))
      d.toString
    })
    val queries = spark.readStream.schema(schema).parquet(srcDir)
      .filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_ann_").toString
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = queries.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            idx.query(batch, k, searchWidth = 0)
              .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    spark.read.parquet(outDir)
  }

  /** Streaming histogram sketch — the streaming face of the fixed-grid
    * quantile summary ([[graft.operators.HistogramSketch]], t14):
    * per-group state is `bins` long counters; the merge is elementwise
    * addition, so the complete-mode result is identical to the batch
    * sketch no matter how the stream is micro-batched. Returns
    * (source, counts, n). */
  def streamHistogram(
      spark: SparkSession, docsPath: String, lo: Long, hi: Long, bins: Int,
      statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(docsPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(docsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(docsPath))
      d.toString
    })
    val agg = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("v"))
      .groupBy(col("source"))
      .agg(graft.operators.HistogramSketch.sketch(col("v"), lo, hi, bins).as("counts"),
        count(lit(1)).as("n"))
    runFinite(spark, agg, "complete", statePartitions)
  }

  /** Streaming distribution-drift monitor — the live face of the PSI
    * drift report ([[graft.operators.Drift]], p5): per-bucket
    * reference/current conditional counts as a complete-mode streaming
    * aggregation (state = two longs per observed bucket — bounded by
    * the fixed grid), with the smoothed-share PSI terms computed on the
    * final bounded bucket table by the SAME post-aggregation code as
    * the batch operator. Conditional counts are additive, so the
    * streamed counts equal the batch counts under any micro-batching
    * and p5's closed-form oracle gates this path directly. Deployment
    * shape: the monitor watches a landing feed and flags a feature the
    * moment its accumulated distribution departs the reference
    * snapshot's — no second pass over landed data. */
  def streamDrift(
      spark: SparkSession, eventsPath: String, valueCol: String,
      isCurrent: org.apache.spark.sql.Column,
      lo: Double, hi: Double, bins: Int,
      statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // eventsStream (not hand-rolled staging): it sets the nanos-ts legacy
    // conf BEFORE schema inference and memoizes the staged source dir —
    // a fresh session whose first events query is this one must not
    // depend on another events op having run first
    val counts = eventsStream(spark, eventsPath)
      .filter(col(valueCol).isNotNull)
      .select(graft.operators.Drift.numericBucket(valueCol, lo, hi, bins).as("bucket"),
        isCurrent.cast("boolean").as("__cur"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(!col("__cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__cur"), 1L).otherwise(0L)).as("n_cur"))
    graft.operators.Drift.psiTerms(runFinite(spark, counts, "complete", statePartitions))
  }

  /** Streaming EMBEDDING-distribution drift — the live face of p6
    * ([[graft.operators.Drift.embeddingDrift]]), completing the p5/s23
    * split for the vector column: the reference grid (IVF cells
    * stride-sampled from the reference rows) is fixed up front exactly
    * as a deployed monitor pins last week's quantizer; every arriving
    * row buckets by the same codegen'd argmin (a per-row expression —
    * streaming-safe, no join), and the complete-mode conditional counts
    * accumulate TWO LONGS PER OBSERVED CELL of state. Counts are
    * additive, so the accumulated table — and the PSI terms the batch
    * operator's own post-aggregation computes from it — equal batch p6
    * under any micro-batching; p6's closed-form oracle gates this path
    * directly. */
  def streamEmbeddingDrift(
      spark: SparkSession, embPath: String, idCol: String, embCol: String,
      rowsPred: org.apache.spark.sql.Column,
      isCurrent: org.apache.spark.sql.Column,
      refPred: org.apache.spark.sql.Column, numCells: Int,
      statePartitions: Int = 0): DataFrame = {
    import graft.operators.IvfKnn
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(embPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(embPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(embPath))
      d.toString
    })
    // same null-embedding exclusion the batch face applies BEFORE
    // sampling — a null row on the stride would NPE centroid collection,
    // and a null max-id row would shift the stride vs batch p6
    val cents = IvfKnn.centroids(
      spark.read.parquet(embPath).filter(refPred)
        .filter(col(embCol).isNotNull)
        .select(col(idCol).cast("long").as("id"), col(embCol).as("embedding")),
      numCells)
    val counts = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .filter(rowsPred)
      .filter(col(embCol).isNotNull)
      .select(IvfKnn.cellExpr(cents, col(embCol)).as("bucket"),
        isCurrent.cast("boolean").as("__cur"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(!col("__cur"), 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("__cur"), 1L).otherwise(0L)).as("n_cur"))
    graft.operators.Drift.psiTerms(runFinite(spark, counts, "complete", statePartitions))
  }

  /** Streaming semantic-dedup screen — the ingest-time face of d15
    * ([[graft.operators.Dedup.semanticDedupRemovals]]): a stream of
    * incoming embeddings is screened per micro-batch against the sealed
    * static corpus, within-cell only. Cells come from the STATIC
    * corpus's deterministic stride centroids (computed once, reused by
    * every batch); batch rows are assigned by the same per-row codegen
    * argmin, so neither side shuffles to be assigned and the only
    * shuffle is the cell equi-join against the (cached) assigned
    * corpus. ZERO streaming state, and each (new, corpus) pair lives
    * entirely in the new row's batch — batch boundaries cannot split a
    * pair, so the accumulated sink equals the batch screen and an exact
    * SQL oracle applies. At 100 TB/day this is "reject near-dup
    * ingests before they land": cost scales with ingest volume times
    * cell occupancy, never with corpus^2. */
  def streamSemanticDedup(
      spark: SparkSession, embPath: String, staticCorpus: DataFrame,
      streamPred: org.apache.spark.sql.Column, numCells: Int, threshold: Double,
      statePartitions: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.operators.IvfKnn
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(embPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(embPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(embPath))
      d.toString
    })
    val base = staticCorpus.select(
      col("vec_id").cast("long").as("id"), col("embedding"))
    val cents = IvfKnn.centroids(base, numCells)
    val corpusAssigned = IvfKnn.assign(base, cents)
      .select(col("cell"), col("id").as("corpus_id"),
        col("embedding").as("ce"),
        VectorFunctions.l2Norm(col("embedding")).as("cn"))
      .cache()
    corpusAssigned.count()
    val stream = spark.readStream.schema(schema).parquet(srcDir).filter(streamPred)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_semdedup_").toString
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val incoming = IvfKnn.assign(
              batch.select(col("vec_id").cast("long").as("id"), col("embedding")), cents)
              .select(col("cell"), col("id").as("new_id"),
                col("embedding").as("ne"),
                VectorFunctions.l2Norm(col("embedding")).as("nn"))
            incoming.join(corpusAssigned, Seq("cell"))
              .withColumn("cosine_sim",
                round(graft.functions.VectorFunctions.dotProduct(col("ne"), col("ce")) /
                  (col("nn") * col("cn")), 6))
              .filter(col("cosine_sim") >= threshold)
              .select(col("new_id"), col("corpus_id"), col("cell"), col("cosine_sim"))
              .write.mode("append").parquet(outDir)
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      corpusAssigned.unpersist()
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    // a clean stream may flag nothing — return an empty, correctly-typed
    // frame instead of failing parquet schema inference on an empty sink
    val produced = Option(new java.io.File(outDir).listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (produced) spark.read.parquet(outDir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("new_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("corpus_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cosine_sim", org.apache.spark.sql.types.DoubleType))))
  }

  /** Streaming contamination check — the ingest-time face of d9
    * ([[graft.operators.Dedup.contaminationPairs]]): a stream of incoming
    * training documents is screened against the (genuinely small,
    * broadcast) eval/benchmark set per micro-batch inside foreachBatch,
    * flagged (train_id, eval_id, n_shared_grams) rows appended to the
    * sink. A document's n-grams live entirely in its own row, so
    * micro-batch boundaries can never split a contamination pair — the
    * accumulated sink equals the batch operator over the full corpus,
    * which is what lets d9's SQL oracle gate the streaming form (s11).
    *
    * Scale shape: ZERO streaming state — each batch is the d9 plan
    * (map-side gram explode, xxhash64 keys, broadcast eval join, partial
    * count agg), so the production version of "filter the training
    * stream against the benchmarks before it lands" runs at ingest cost,
    * not corpus cost. */
  def streamContamination(
      spark: SparkSession, docsPath: String, evalDocs: DataFrame, n: Int,
      trainPred: org.apache.spark.sql.Column, statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(docsPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(docsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(docsPath))
      d.toString
    })
    val train = spark.readStream.schema(schema).parquet(srcDir).filter(trainPred)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_contam_").toString
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = train.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            graft.operators.Dedup.contaminationPairs(batch, evalDocs, n)
              .write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    spark.read.parquet(outDir)
  }

  /** Streaming multi-vector (maxsim) retrieval — the query-serving face
    * of v38 ([[graft.operators.MultiVector.maxSimTopK]]): a stream of
    * incoming queries probes the static corpus token table per
    * micro-batch. Each streamed row carries ONE WHOLE query (its token
    * embeddings nested in an array<struct>), so a micro-batch boundary
    * can never split a query's tokens — per-query results are independent
    * of the batching, the accumulated sink equals the batch operator, and
    * v38's SQL oracle gates the streaming path exactly.
    *
    * Scale shape: ZERO streaming state — each batch runs the v38 plan
    * (query tokens broadcast, corpus tokens never shuffle, both
    * aggregations partial map-side), so query serving costs
    * O(batch x corpus-scan) per trigger and the corpus table can be the
    * ANN-index form (v40) when the scan itself must go. The staged feed
    * is written grouped (one row per query) because that is the unit a
    * retrieval front-end actually emits. */
  def streamMaxSim(
      spark: SparkSession, queryTokens: DataFrame, corpusTokens: DataFrame,
      k: Int, statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val grouped = queryTokens
      .groupBy(col("qid"))
      .agg(sort_array(collect_list(struct(col("qvec"), col("embedding"))))
        .as("toks"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_msq_").toString
    grouped.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val queries = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // several triggers, whole queries each
      .parquet(srcDir)
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_ms_").toString
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = queries.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val toks = batch
              .select(col("qid"), explode(col("toks")).as("t"))
              .select(col("qid"), col("t.qvec").as("qvec"),
                col("t.embedding").as("embedding"))
            graft.operators.MultiVector.maxSimTopK(toks, corpusTokens, k)
              .write.mode("append").parquet(outDir)
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    spark.read.parquet(outDir)
  }

  /** Streaming ingest-time sanitize + pack — the text stage a live corpus
    * feed runs before anything persists: PII scrubbing
    * ([[graft.functions.TextFunctions.scrubPii]]) then sliding-window
    * token chunking ([[TextFunctions.tokenChunks]]) per micro-batch.
    * Both passes are per-row map work, so the op keeps ZERO streaming
    * state and the accumulated sink equals the batch composition no
    * matter how the feed is batched — which is exactly how the gated
    * query oracles it. `transform` maps each raw document row to the
    * (doc_id, text) the sanitize sees (the gate injects its synthetic
    * PII line there). */
  def streamSanitize(
      spark: SparkSession, docsPath: String,
      transform: DataFrame => DataFrame,
      chunkSize: Int, stride: Int, statePartitions: Int = 0): DataFrame = {
    val schema = schemaCache.computeIfAbsent(docsPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(docsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(docsPath))
      d.toString
    })
    val docs = spark.readStream.schema(schema).parquet(srcDir)
    def sanitize(b: DataFrame) = {
      import graft.functions.TextFunctions
      transform(b)
        .select(col("doc_id"),
          TextFunctions.scrubPii(col("text")).as("text"))
        .select(col("doc_id"),
          explode(TextFunctions.tokenChunks(col("text"), chunkSize, stride)).as("c"))
        .select(col("doc_id"), col("c.start").as("start"),
          size(col("c.toks")).as("n_tokens"),
          md5(concat_ws(" ", col("c.toks"))).as("chunk_md5"))
    }
    runBatchSink(spark, docs, statePartitions,
      seed = sanitize(spark.read.schema(schema).parquet(srcDir))) {
      (batch, outDir) => sanitize(batch).write.mode("append").parquet(outDir)
    }
  }

  /** Shared foreachBatch-to-parquet scaffolding for the zero-state
    * streaming faces (s17-s20): temp checkpoint (tmpfs when
    * writable), optional shuffle-partition override restored afterward,
    * per-batch `body` appending to the sink dir, and an empty-feed
    * contract — when no batch ever writes, the result is `seed.limit(0)`
    * (the correct empty schema) instead of a parquet schema-inference
    * failure. */
  /** Sink temp dirs registered for JVM-exit cleanup: the returned
    * DataFrame reads the dir LAZILY (possibly long after this call), so
    * eager deletion would break the result — but without cleanup a
    * long-lived session accumulates one orphan dir per streaming query.
    * One shutdown hook sweeps them all. */
  private val sinkDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val sinkCleanupHook: Unit = {
    sys.addShutdownHook { sinkDirs.forEach(d => deleteRecursively(d)) }
    ()
  }

  private def runBatchSink(spark: SparkSession, feed: DataFrame,
      statePartitions: Int, seed: => DataFrame)(
      body: (DataFrame, String) => Unit): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val outDir = java.nio.file.Files.createTempDirectory("graft_stream_sink_").toString
    sinkCleanupHook
    sinkDirs.add(outDir)
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    try {
      val q = feed.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) body(batch, outDir)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    val wrote = Option(new java.io.File(outDir).listFiles())
      .exists(_.exists(_.getName.endsWith(".parquet")))
    if (wrote) spark.read.parquet(outDir) else seed.limit(0)
  }

  /** Allocate a fresh scratch directory for streaming accumulation
    * state that EXECUTORS write to (delta parquet dirs). Driver-local
    * java.nio temp dirs are wrong for that in any non-local deployment —
    * each executor would append its files to its own local disk and the
    * publish-time read would silently lose rows — so the root is the
    * `spark.graft.streamScratchRoot` conf (point it at a filesystem
    * shared by driver and executors: HDFS, NFS, an object store), with
    * the local-mode default of java.io.tmpdir. Created and later
    * deleted through the Hadoop filesystem of the resolved path, so a
    * remote root works end-to-end. */
  private[graft] def scratchDir(spark: SparkSession, prefix: String): String = {
    val root = spark.conf.getOption("spark.graft.streamScratchRoot")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val p = new org.apache.hadoop.fs.Path(root,
      prefix + java.util.UUID.randomUUID().toString.replace("-", ""))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    fs.makeQualified(p).toString
  }

  private[graft] def deleteScratch(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    catch { case _: java.io.IOException => } // best-effort temp cleanup
  }

  private[graft] def deleteRecursively(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => }

  /** Streaming z-order clustered ingest — the WRITE-path face of
    * [[graft.operators.ZOrder]]: each micro-batch lands in the sink
    * carrying its Morton clustering key and sorted by it within batch
    * partitions, so files written at ingest time already have narrow
    * parquet min/max stats in BOTH bucketed dimensions (2-D predicate
    * file-skipping from the moment data arrives — what auto-clustering
    * lakehouse sinks do). The key is a per-row projection, so the
    * accumulated sink CONTENT equals the batch computation for any
    * batching (zero streaming state); a periodic compaction
    * (`clusterBy2d` over the accumulated files) restores global
    * clustering when batch-level locality degrades — the standard
    * ingest-then-compact layout lifecycle. */
  def streamZorderIngest(
      spark: SparkSession, rows: DataFrame, xCol: String, yCol: String,
      bits: Int, statePartitions: Int = 0): DataFrame = {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_zq_").toString
    rows.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    def keyed(b: DataFrame) = b.withColumn("zkey",
      graft.operators.ZOrder.zkey(col(xCol), col(yCol), bits))
    try runBatchSink(spark, feed, statePartitions, seed = keyed(rows)) {
      (batch, outDir) =>
        keyed(batch).sortWithinPartitions(col("zkey"))
          .write.mode("append").parquet(outDir)
    } finally deleteRecursively(srcDir)
  }

  /** Streaming MinHash-LSH ingest screen — the lexical near-dup analog
    * of the s14 semantic screen: a live feed of incoming documents is
    * checked per micro-batch against a STATIC corpus for LSH bucket
    * collisions (the d3 candidate semantics, asymmetric). The corpus's
    * band-bucket table is computed ONCE ([[graft.operators.Dedup
    * .minHashBands]]) and CACHED across batches; each batch computes its
    * own bands map-side and probes with one equi-join on
    * (band_idx, bucket) — the bounded batch side broadcasts, the
    * corpus-sized bucket table stays distributed. Per-doc independence
    * (a doc's whole shingle set rides one row) makes the accumulated
    * sink equal the batch screen for any batching — zero streaming
    * state. Incoming docs arrive as (doc_id, shingles). */
  def streamMinHashScreen(
      spark: SparkSession, incomingShingles: DataFrame,
      corpusShingles: DataFrame, numHashes: Int, bandSize: Int,
      statePartitions: Int = 0): DataFrame = {
    val corpusBands = graft.operators.Dedup
      .minHashBands(corpusShingles, numHashes, bandSize)
      .select(col("doc_id").as("corpus_id"), col("band_idx"), col("bucket"))
      .cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_mhq_").toString
    incomingShingles.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    def screen(in: DataFrame) = {
      val inBands = graft.operators.Dedup
        .minHashBands(in, numHashes, bandSize)
        .select(col("doc_id").as("in_id"), col("band_idx"), col("bucket"))
      corpusBands.join(broadcast(inBands), Seq("band_idx", "bucket"))
        .select(col("in_id"), col("corpus_id"))
        .distinct() // an in-doc's rows all sit in THIS batch
    }
    try runBatchSink(spark, feed, statePartitions, seed = screen(incomingShingles)) {
      (batch, outDir) => screen(batch).write.mode("append").parquet(outDir)
    } finally {
      corpusBands.unpersist()
      deleteRecursively(srcDir)
    }
  }

  /** Streaming BM25 serving — the query-serving face of the lexical
    * retrieval leg ([[graft.operators.HybridRetrieval]]): a live feed of
    * text queries is ranked per micro-batch against a STATIC corpus
    * snapshot. The corpus side (df-capped posting index + one-row
    * stats) is query-independent, so it is computed ONCE via
    * `bm25Index` and CACHED across batches — per batch only the
    * bounded query-token broadcast join, the partial-aggregated score,
    * and the per-query window limit run. Scoring is per-query
    * independent, so the accumulated sink equals the batch `bm25TopN`
    * for ANY batching — which is how the gated query oracles it
    * (zero streaming state; a query's row is never split). */
  def streamBm25Serve(
      spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      n: Int, maxTokenDf: Long, statePartitions: Int = 0): DataFrame = {
    val (index0, stats0) = graft.operators.HybridRetrieval.bm25Index(corpus, maxTokenDf)
    val index = index0.cache()
    val stats = stats0.cache()
    val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_bmq_").toString
    queries.write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val feed = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // several triggers, whole queries each
      .parquet(srcDir)
    try runBatchSink(spark, feed, statePartitions,
      seed = graft.operators.HybridRetrieval.bm25Serve(queries, index, stats, n)) {
      (batch, outDir) =>
        graft.operators.HybridRetrieval.bm25Serve(batch, index, stats, n)
          .write.mode("append").parquet(outDir)
    } finally {
      index.unpersist(); stats.unpersist()
      deleteRecursively(srcDir)
    }
  }

  /** Streaming BM25 INGEST — the LSM generation discipline applied to
    * the posting index (the missing half of the lexical lifecycle:
    * [[streamBm25Serve]] serves a SEALED corpus; this one grows it).
    * Posting rows are pure per-document work
    * ([[graft.operators.HybridRetrieval.rawPostings]] — a document's
    * postings never depend on any other document), so each micro-batch
    * APPENDS one O(batch) posting parquet delta plus one O(batch-vocab)
    * per-token document-frequency delta to an accumulation directory,
    * while n_docs / Σdl fold as two driver longs. NOTHING per-batch
    * reads any accumulated state, and — unlike the earlier generational
    * frame vectors, which held one localCheckpointed frame pair per
    * micro-batch until publish (a 10⁴-batch stream planned a 10⁴-child
    * union and pinned every frame in executor storage) — accumulated
    * state is exactly TWO append-only directories regardless of batch
    * count: bounded plan, zero executor-resident frames. The df deltas
    * sum-fold ONCE at publish (one grouped aggregation over Σ
    * batch-vocab rows — the same O(total vocab) work a batch build pays
    * once, never per batch), the posting deltas are read back as ONE
    * scan, and the df cap is evaluated against the FINAL corpus size (a
    * token that crossed the cap mid-stream is correctly dropped — cap
    * membership is not monotone, so it can only be decided at publish).
    * The LSM-style threshold fold was considered and rejected: postings
    * never merge (immutable per-doc rows), so re-checkpointing the
    * accumulated set every F batches would add O(total²/F) churn for
    * nothing — append-only storage IS the compacted form.
    * Every accumulator is additive ⇒ the published index equals the
    * batch [[graft.operators.HybridRetrieval.bm25Index]] of the final
    * corpus for ANY batching — the batch oracle gates the streamed path.
    *
    * With `publishPath` set the stream ENDS in a published snapshot:
    * the folded pieces are persisted via [[graft.operators
    * .HybridRetrieval.saveBm25Index]] (split df layout) and the
    * returned serve runs over the LOADED copy — the
    * ingest→snapshot→serve loop the vector index already has
    * (buildTo → ProbeBench), so the gate's hash covers persistence too.
    *
    * With `appendBasePath` ALSO set, the publish is the NEXT GENERATION
    * of that base snapshot via [[graft.operators.HybridRetrieval
    * .appendBm25Pieces]]: every base posting file is hardlinked, only
    * the window's posting deltas plus the vocab-sized df table are
    * written — a long-lived ingest over an existing 10M-doc generation
    * publishes at append cost (~10 s), not rebuild cost (~538 s,
    * SCALE.md). The cap ratio and bucket count are INHERITED from the
    * base (this call's dfCapNum/dfCapDen are ignored — generations in a
    * chain must agree), and the cap re-evaluates against the grown
    * corpus at load, so the published generation equals the full
    * rebuild over (base ∪ stream) — the v61 full-corpus oracle gates
    * exactly that equality on the streamed path.
    *
    * 100 TB shape: per-batch cost is O(batch) postings + O(batch vocab)
    * df rows; nothing ever rescans earlier deltas, and total work is
    * batching-invariant (BM25 ingest batching-invariance spec measures
    * shuffle rows at 4 vs 16 batches). The 10M-doc batch build costs
    * ~680 s (SCALE.md) — this spreads exactly that work over the ingest
    * stream and pays only the fold + cap join at publish. */
  def streamBm25Ingest(
      spark: SparkSession, docsPath: String,
      corpusPred: org.apache.spark.sql.Column,
      queries: DataFrame, n: Int,
      dfCapNum: Long = 78L, dfCapDen: Long = 100L,
      sourceSlices: Int = 4, statePartitions: Int = 0,
      publishPath: String = null, appendBasePath: String = null,
      tokBuckets: Int = 64,
      onBatchEnd: Int => Unit = null): DataFrame = {
    require(appendBasePath == null || publishPath != null,
      "appendBasePath needs a publishPath to publish the next generation to")
    import graft.operators.HybridRetrieval
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    val srcDir = scratchDir(spark, "graft_bm25_ing_")
    spark.read.parquet(docsPath).filter(corpusPred)
      .select(col("doc_id").cast("long"), col("text"))
      .repartition(sourceSlices).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // the two append-only accumulation directories (the ONLY
    // accumulated state beside two driver longs) — executor-written, so
    // allocated under the shared-scratch root, not a driver-local tmp
    val accDir = scratchDir(spark, "graft_bm25_acc_")
    @volatile var nBatches = 0
    @volatile var nDocs = 0L
    @volatile var sumDl = 0L
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            // one O(batch) posting delta + one O(batch-vocab) df delta,
            // APPENDED — the accumulated state is never re-read
            // mid-stream and never resident anywhere but these files
            if (appendBasePath == null) {
              // two consumers of the batch's postings (the delta file and
              // the df delta) — checkpoint so tokenization runs once
              val p = timeLeg("bm25ing.postings-ckpt") {
                HybridRetrieval.rawPostings(batch).localCheckpoint(true) }
              try {
                timeLeg("bm25ing.write-postings") {
                  p.write.mode("append").parquet(s"$accDir/postings") }
                timeLeg("bm25ing.write-df") {
                  p.groupBy(col("tok")).agg(count(lit(1)).as("df_b"))
                    .write.mode("append").parquet(s"$accDir/df") }
              } finally p.unpersist()
            } else
              // append-publish mode folds df from the postings themselves
              // (appendBm25Pieces) — the per-batch df delta would never be
              // read, and with one consumer the checkpoint buys nothing:
              // one job, one tokenization pass, straight to the delta file
              timeLeg("bm25ing.write-postings") {
                HybridRetrieval.rawPostings(batch)
                  .write.mode("append").parquet(s"$accDir/postings") }
            val dl = timeLeg("bm25ing.dl-agg") { batch.select(
              graft.functions.TextFunctions.tokens(col("text")).as("ts"))
              .agg(count(lit(1)), sum(size(col("ts")))).head }
            nDocs += dl.getLong(0)
            sumDl += dl.getLong(1)
            nBatches += 1
            // instrumentation hook (batching-invariance spec): fires
            // after the batch's eager jobs complete
            if (onBatchEnd != null) onBatchEnd(nBatches)
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
      deleteScratch(spark, srcDir)
    }
    require(nDocs > 0, "streamBm25Ingest saw an empty corpus stream")
    import spark.implicits._
    // the ONE fold over the accumulated df deltas (publish-time only):
    // Σ batch-vocab rows in, final per-token df out, cap evaluated
    // against the final corpus size
    val postingsAll = spark.read.parquet(s"$accDir/postings")
    // lazy: append-publish mode writes no per-batch df deltas (the fold
    // comes from the postings in appendBm25Pieces), so the dir only
    // exists on the paths that read it
    lazy val dfAll = spark.read.parquet(s"$accDir/df")
      .groupBy(col("tok")).agg(sum(col("df_b")).as("df"))
    if (publishPath == null) {
      val maxDf = nDocs * dfCapNum / dfCapDen
      val index = postingsAll.join(dfAll.filter(col("df") <= maxDf), Seq("tok"))
      // exact: Σdl/n reproduces the batch avg-over-int avgdl bit-for-bit
      val stats = Seq((nDocs, sumDl.toDouble / nDocs)).toDF("n_docs", "avgdl")
      // materialize the bounded (|queries| x n) serve result as a
      // DRIVER-LOCAL relation so the corpus-sized accumulation dir can
      // be deleted before return (temp dirs get no automatic cleanup) —
      // local rows, unlike localCheckpoint blocks, survive executor loss
      // with no lineage to recompute
      try {
        val served = HybridRetrieval.bm25Serve(queries, index, stats, n)
        val rows = served.collect()
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(rows.toSeq.asJava, served.schema)
      } finally deleteScratch(spark, accDir)
    } else {
      if (appendBasePath != null)
        // next GENERATION of the base: hardlink its posting files, write
        // only the window's deltas + the vocab-sized df fold (cap/bucket
        // params inherited from the base snapshot)
        timeLeg("bm25ing.append-publish") {
          HybridRetrieval.appendBm25Pieces(spark, appendBasePath, publishPath,
            postingsAll, nDocs, sumDl,
            batchIds = postingsAll.select(col("doc_id"))) }
      else timeLeg("bm25ing.save-publish") {
        val stats = Seq((nDocs, sumDl)).toDF("n_docs", "sum_dl")
        HybridRetrieval.saveBm25Index(postingsAll, dfAll, stats, publishPath,
          tokBuckets = tokBuckets, dfCapNum = dfCapNum, dfCapDen = dfCapDen)
      }
      deleteScratch(spark, accDir) // everything now lives in the snapshot
      timeLeg("bm25ing.serve") { HybridRetrieval.bm25Serve(queries,
        HybridRetrieval.openBm25Index(spark, publishPath), n) }
    }
  }

  /** Streaming weight-proportional sampling — the reservoir shape:
    * because the Efraimidis-Spirakis sample is "k largest deterministic
    * keys", top-k is ASSOCIATIVE over any stream batching (top-k of a
    * union == top-k of the per-batch top-k union), so each micro-batch
    * contributes only its own k best rows (TakeOrderedAndProject —
    * per-partition partial top-k inside the batch too) and the final
    * fold re-cuts the accumulated ≤ k x batches candidates. No state
    * store at all; the sink is bounded at k rows per batch regardless of
    * stream volume, and the result equals the batch operator for ANY
    * batching — which is how the gated query oracles it. `weigh` maps a
    * raw micro-batch to (idCol, weightCol) rows. */
  def streamWeightedSample(
      spark: SparkSession, docsPath: String,
      weigh: DataFrame => DataFrame,
      idCol: String, weightCol: String, k: Int,
      statePartitions: Int = 0): DataFrame = {
    val schema = schemaCache.computeIfAbsent(docsPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(docsPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(docsPath))
      d.toString
    })
    val docs = spark.readStream.schema(schema).parquet(srcDir)
    def batchSample(b: DataFrame) =
      graft.operators.Sampling.weightedSample(weigh(b), idCol, weightCol, k)
        .drop("sample_rank") // ranks are only meaningful after the final fold
    val acc = runBatchSink(spark, docs, statePartitions,
      seed = batchSample(spark.read.schema(schema).parquet(srcDir))) {
      (batch, outDir) =>
        batchSample(batch).write.mode("append").parquet(outDir)
    }
    // final fold: re-cut the accumulated per-batch winners
    val top = acc.orderBy(col("sample_key").desc, col(idCol)).limit(k)
    top.withColumn("sample_rank",
      org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("sample_key").desc, col(idCol))).cast("int"))
  }

  /** Streaming index maintenance — the ingest face of the vector index: a
    * stream of new vectors is folded into a batch-built base index with
    * [[graft.index.VectorIndex.append]] per micro-batch (foreachBatch).
    * Because append rebuilds exactly the shards that receive new ids and
    * the kernel inserts in ascending-id order, the result after ANY
    * micro-batch split is bit-identical to one full rebuild over the
    * union — so the final probe has the plain brute-force SQL oracle.
    * Returns the exact-mode probe of the final index generation. */
  def streamIndexAppend(
      spark: SparkSession, embPath: String,
      baseIndex: graft.index.VectorIndex, queries: DataFrame,
      newVectorsPred: org.apache.spark.sql.Column, k: Int,
      publishPath: String = null): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(embPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(embPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(embPath))
      d.toString
    })
    val newVectors = spark.readStream.schema(schema).parquet(srcDir)
      .filter(newVectorsPred)
      .select(col("vec_id").as("id"), col("embedding"))
    // the evolving index generation — foreachBatch runs on the driver, so
    // a plain var is the idiomatic accumulator for re-assignable state
    @volatile var current = baseIndex
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    try {
      val q = newVectors.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) current = current.append(batch)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    // with publishPath the stream ENDS in a published snapshot and the
    // probe runs over the LOADED copy (the s26 close applied to the
    // vector family): the gate's hash then covers persistence too
    if (publishPath == null) current.query(queries, k, searchWidth = 0)
    else {
      current.save(publishPath)
      graft.index.VectorIndex.load(spark, publishPath, cache = false)
        .query(queries, k, searchWidth = 0)
    }
  }

  /** Streaming index DELETE — the unsubscribe/GDPR-takedown face of the
    * index lifecycle (v43): delete commands arrive as a stream of ids;
    * each micro-batch tombstones them on the live [[graft.index.LsmVectorIndex]]
    * handle (bounded driver fold — a delete feed is command-sized by
    * contract, never corpus-sized), and the final exact probe equals
    * brute force over the LIVE corpus. Tombstoning is idempotent and
    * order-insensitive across batches (a set union), so the result is
    * invariant to how the feed was micro-batched — the property that
    * lets v43's oracle shape gate the streaming path exactly. */
  def streamIndexDelete(
      spark: SparkSession, embPath: String,
      lsm0: graft.index.LsmVectorIndex, queries: DataFrame,
      deletePred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val schema = schemaCache.computeIfAbsent(embPath, p => spark.read.parquet(p).schema)
    val srcDir = stagedSources.computeIfAbsent(embPath, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src_")
      java.nio.file.Files.createSymbolicLink(
        d.resolve("data.parquet"), java.nio.file.Paths.get(embPath))
      d.toString
    })
    val deletes = spark.readStream.schema(schema).parquet(srcDir)
      .filter(deletePred)
      .select(col("vec_id").cast("long").as("id"))
    @volatile var current = lsm0
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    try {
      val q = deletes.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ids = batch.collect().map(_.getLong(0))
          if (ids.nonEmpty) current = current.delete(ids)
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    current.query(queries, k, searchWidth = 0)
  }

  /** LSM-generational streaming index maintenance — the scale-safe form of
    * [[streamIndexAppend]]: each micro-batch becomes a small FRESH
    * generation ([[graft.index.LsmVectorIndex.ingest]], O(batch) work —
    * no sealed shard rebuilds), probes run against base + generations via
    * the multi-shard merge, and generations fold into the base once their
    * total crosses `compactThreshold`. The new-vector slice is staged as
    * `sourceSlices` files and streamed with maxFilesPerTrigger=1 so the
    * file source delivers a real multi-batch cadence. Exact-mode probes
    * are invariant to batch boundaries AND compaction points (merged
    * top-k == flat top-k; append == full rebuild), so the final probe has
    * the plain brute-force SQL oracle. */
  def streamIndexLsm(
      spark: SparkSession, embPath: String,
      baseIndex: graft.index.VectorIndex, queries: DataFrame,
      newVectorsPred: org.apache.spark.sql.Column, k: Int,
      compactThreshold: Long, sourceSlices: Int = 4,
      publishPath: String = null): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val slice = spark.read.parquet(embPath).filter(newVectorsPred)
      .select(col("vec_id").as("id"), col("embedding"))
    val srcDir = java.nio.file.Files.createTempDirectory("graft_lsm_src_").toString
    slice.repartition(sourceSlices).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    @volatile var current = graft.index.LsmVectorIndex(baseIndex, compactThreshold)
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) current = timeLeg("lsm.ingest") { current.ingest(batch) }
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }
    // with publishPath the stream ENDS in a published generational
    // snapshot ([[graft.index.LsmVectorIndex.save]]: base + generations
    // + manifest) and the probe runs over the LOADED copy — the s26
    // close applied to the last artifact family, so the gate's hash
    // covers ingest AND persistence
    if (publishPath == null) current.query(queries, k, searchWidth = 0)
    else {
      timeLeg("lsm.save") { current.save(publishPath) }
      timeLeg("lsm.load") { graft.index.LsmVectorIndex.load(spark, publishPath) }
        .query(queries, k, searchWidth = 0)
    }
  }

  /** Streaming kNN-GRAPH maintenance (s22) — v48's graph construction
    * made incremental, the s8/s9 LSM pattern applied to the edge list:
    * new vectors arrive in micro-batches; each batch (1) becomes a fresh
    * LSM generation (O(batch) ingest, no sealed-shard rebuilds), then
    * updates the per-node top-k edge state with exactly TWO delta-sized
    * legs:
    *
    *  - forward: the batch probes the accumulated index exact-mode at
    *    k+1 (self filtered) — the batch's own edges over everything seen
    *    so far, including intra-batch pairs;
    *  - reverse: an old node c gains an edge to new vector b iff
    *    d(c,b) beats c's current k-th distance — one map-side pass of
    *    the corpus-so-far against the BROADCAST batch (ties at the k-th
    *    distance are kept and the re-cut decides), the same O(|C|·|B|)
    *    arithmetic the exact forward probe already performs per shard.
    *
    * Union(state, forward, reverse) re-cut to top-k per node is exact by
    * induction: state(c) is always the true top-k of c over all vectors
    * seen so far, so the FINAL state equals the batch-built graph on the
    * final corpus for ANY batching — the property the s22 oracle (v48's
    * closed-form SQL) and the LsmIndexSpec invariance test gate.
    * Distances stay comparable across legs because exact-mode kernel
    * probes use the sequential-Double `distExact` that bit-matches the
    * [[graft.functions.VectorFunctions.squaredL2]] expression the
    * reverse leg computes.
    *
    * `searchWidth` selects the face (the v48/v49 split, applied to
    * maintenance):
    *
    *  - 0 (the gate face): exact legs as above — forward probes
    *    exact-mode, reverse is the map-side corpus-vs-broadcast-batch
    *    threshold pass. Exact for any batching.
    *  - > 0 (the production face — approximate NN-descent-style
    *    maintenance, the beam of reference dehnsw.h:241-323 that the
    *    exact face bypasses): ONE index beam probe of the batch at
    *    `revCandidateFactor * kEdges + 1` serves BOTH legs — the probe
    *    rows are the forward candidates, and their REVERSAL
    *    (src=neighbor, dst=batch vector, same symmetric distance) are
    *    the reverse candidates, threshold-filtered against the current
    *    k-th distances. No corpus-so-far scan exists in this mode: per-
    *    batch probe cost is O(|B| · beam), not O(|C|·|B|), so the
    *    stream's total work is linear, not quadratic.
    *
    * In BOTH modes the re-cut touches only AFFECTED src nodes: the
    * delta legs' distinct srcs semi-join their current edges out of the
    * state, the top-k window re-sorts only those groups, and untouched
    * rows union back verbatim (bit-identical to a full re-cut — a src
    * with no candidate rows cannot change). The state stays
    * hash(src)-partitioned from the seed window, and the semi/anti
    * joins and re-cut window all reuse that partitioning, so a batch
    * shuffles only delta-sized edge rows; the state itself is scanned
    * (memory-resident localCheckpoint blocks) but never exchanged.
    *
    * Scale shape: per batch the only exchanges move edge rows (delta ×
    * k, 24 B/row) for the threshold aggregate and the affected-group
    * re-cut (WindowGroupLimit-bounded). At 100 TB the production face
    * keeps the threshold column co-located with the index shards; the
    * gate runs the exact face end to end and s24 pins the production
    * face's edge recall against it. Returns the reciprocal-pair view
    * (v48's output) over the final state. */
  def streamKnnGraph(
      spark: SparkSession, embPath: String,
      baseCorpusPred: org.apache.spark.sql.Column,
      newVectorsPred: org.apache.spark.sql.Column,
      kEdges: Int, sourceSlices: Int = 4,
      statePartitions: Int = 0,
      searchWidth: Int = 0,
      revCandidateFactor: Int = 2,
      stateFrames: Int = 8): DataFrame = {
    import graft.functions.VectorFunctions
    import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    // the affected-only re-cut unions two branches that both descend from
    // the localCheckpointed state (shared attribute ids); Catalyst's
    // union constraint rewriting trips over that self-lineage ("key not
    // found" in rewriteConstraints). Constraints buy nothing in these
    // small per-batch plans — turn propagation off SCOPED to this
    // operator's own plan constructions (a thread-local conf overlay, so
    // a concurrent query on the same session keeps its plan quality)
    // instead of toggling the session for the stream's whole duration.
    def noConstraints[T](f: => T): T =
      org.apache.spark.sql.graft.GraftSqlBridge.withConfOverrides(
        spark, "spark.sql.constraintPropagation.enabled" -> "false")(f)
    val params = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2)
    val all = spark.read.parquet(embPath)
    val base = all.filter(baseCorpusPred)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
    val baseIdx = VectorIndex.build(base, params,
      numShards = math.max(2, if (statePartitions > 0) statePartitions else 2))
    @volatile var current = LsmVectorIndex(baseIdx, compactThreshold = Long.MaxValue)
    // per-node top-k edge state (src, dst, distance) + the corpus seen so
    // far; both re-materialized per batch (localCheckpoint truncates the
    // lineage that would otherwise reference expired micro-batch frames)
    val seedState = noConstraints {
      baseIdx
        .query(base.select(col("id").as("query_id"), col("embedding")),
          kEdges + 1, searchWidth)
        .filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rr", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id")).orderBy(col("distance"), col("neighbor_id"))))
        .filter(col("rr") <= kEdges)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"), col("distance"))
        .localCheckpoint(true)
    }
    // EXACT face: one monolithic state frame, re-cut affected srcs and
    // re-materialized per batch (the gate face — exact by induction).
    @volatile var state = if (searchWidth == 0) seedState else null
    // BEAM face: the LSM generation discipline applied to the edge list —
    // state is a SEQUENCE of frames (seed + one delta frame per batch,
    // latest frame per src wins), so the per-batch WRITE is O(delta):
    // only the touched srcs' re-cut rows materialize; untouched state is
    // never copied. Frames fold back into one (the same latest-wins
    // resolution, run once) when their count crosses `stateFrames` —
    // bounded generations, amortized O(state/stateFrames) per batch.
    @volatile var frames: Vector[DataFrame] =
      if (searchWidth == 0) null else Vector(seedState)
    // the corpus-so-far accumulator exists ONLY for the exact face's
    // map-side reverse leg; the beam face serves reverse candidates from
    // the index probe and never materializes it
    @volatile var corpusSoFar = if (searchWidth == 0) base.localCheckpoint(true) else null

    /** Latest-frame-per-src resolution over the generational state,
      * optionally restricted to a (delta-sized) src set FIRST so the
      * per-src window only sorts delta rows — the full-state window runs
      * only at compaction and at the final read. */
    def latestEdges(restrictTo: DataFrame): DataFrame = {
      val tagged = frames.zipWithIndex
        .map { case (f, i) => f.withColumn("__f", lit(i)) }
        .reduce(_.unionByName(_))
      val scoped =
        if (restrictTo == null) tagged
        else tagged.join(restrictTo, Seq("src"), "left_semi")
      val wf = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      scoped.withColumn("__mf", max(col("__f")).over(wf))
        .filter(col("__f") === col("__mf"))
        .select(col("src"), col("dst"), col("distance"))
    }

    val srcDir = java.nio.file.Files.createTempDirectory("graft_knng_src_").toString
    all.filter(newVectorsPred)
      .select(col("vec_id").cast("long").as("id"), col("embedding"))
      .repartition(sourceSlices).write.mode("overwrite").parquet(srcDir)
    // pin the micro-batch ORDER: FileStreamSource delivers files by
    // modification time, and the slices were written by parallel tasks
    // whose mtimes race — the exact face is order-invariant (by
    // induction), but the beam face probes intermediate index states, so
    // a racing order makes runs non-reproducible. Rewrite mtimes in
    // path-sorted order (strictly increasing seconds) so every run
    // streams the same slice sequence.
    locally {
      import scala.jdk.CollectionConverters._
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(srcDir))
        .iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      val base = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
      parts.zipWithIndex.foreach { case (p, i) =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(base.toMillis + i * 1000L))
      }
    }
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val ckptRoot =
      if (java.nio.file.Files.isWritable(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm")
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val ckpt = java.nio.file.Files.createTempDirectory(ckptRoot, "graft_ckpt_")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch0: DataFrame, _: Long) =>
          if (!batch0.isEmpty) noConstraints {
            val batch = timeLeg("knng.batch-ckpt") {
              batch0.select(col("id"), col("embedding")).localCheckpoint(true) }
            current = timeLeg("knng.ingest") { current.ingest(batch) }
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col("src")).orderBy(col("distance"), col("dst"))
            if (searchWidth == 0) {
              // EXACT face: monolithic state, map-side reverse leg over
              // the accumulated corpus. c's admission threshold: its
              // current k-th distance; nodes still short of k edges
              // admit anything (kth = +inf)
              val thresholds = state.groupBy(col("src").as("id"))
                .agg(max(col("distance")).as("kth"), count(lit(1)).as("ne"))
              val fwd = current
                .query(batch.select(col("id").as("query_id"), col("embedding")),
                  kEdges + 1, searchWidth = 0)
                .filter(col("neighbor_id") =!= col("query_id"))
                .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
                  col("distance"))
              val rev = corpusSoFar
                .join(thresholds, Seq("id"), "left")
                .crossJoin(broadcast(
                  batch.select(col("id").as("bid"), col("embedding").as("be"))))
                .withColumn("d", VectorFunctions.squaredL2(col("embedding"), col("be")))
                .filter(col("kth").isNull || col("ne") < kEdges || col("d") <= col("kth"))
                .select(col("id").as("src"), col("bid").as("dst"), col("d").as("distance"))
              // re-cut ONLY the srcs the delta touches; everything else
              // is unchanged by construction and unions back verbatim
              val deltaCk = timeLeg("knng.delta-ckpt") {
                fwd.unionByName(rev).localCheckpoint(true) }
              val touched = deltaCk.select(col("src")).distinct()
              val recut = state.join(touched, Seq("src"), "left_semi")
                .unionByName(deltaCk)
                .withColumn("rr", row_number().over(w))
                .filter(col("rr") <= kEdges)
                .select(col("src"), col("dst"), col("distance"))
              // re-alias the untouched branch: both union children
              // descend from `state`, and a union whose children share
              // attribute ids trips Catalyst's constraint rewriting
              val untouched = state.join(touched, Seq("src"), "left_anti")
                .select(col("src").as("src"), col("dst").as("dst"),
                  col("distance").as("distance"))
              state = timeLeg("knng.state-ckpt") {
                untouched.unionByName(recut).localCheckpoint(true) }
              corpusSoFar = timeLeg("knng.corpus-ckpt") {
                corpusSoFar.unionByName(batch).localCheckpoint(true) }
            } else {
              // BEAM face, generational state: ONE beam probe serves
              // both legs — probe rows are the forward candidates, their
              // reversal (same symmetric distance) the reverse
              // candidates. Every per-batch sort/aggregate below runs
              // over DELTA-sized frames (candidate srcs are bounded by
              // the probe output), and the only state write is the
              // touched srcs' re-cut rows — O(delta), not O(state).
              val probe = timeLeg("knng.probe-ckpt") { current
                .query(batch.select(col("id").as("query_id"), col("embedding")),
                  revCandidateFactor * kEdges + 1, searchWidth)
                .filter(col("neighbor_id") =!= col("query_id"))
                .select(col("query_id"), col("neighbor_id"), col("distance"))
                .localCheckpoint(true) }
              val fwd = probe.select(col("query_id").as("src"),
                col("neighbor_id").as("dst"), col("distance"))
              val revCand = probe.select(col("neighbor_id").as("src"),
                col("query_id").as("dst"), col("distance"))
              val candSrcs = fwd.select(col("src"))
                .unionByName(revCand.select(col("src"))).distinct()
              // current edges of ONLY the candidate srcs (delta-sized
              // after the semi-join restriction inside latestEdges)
              val curr = timeLeg("knng.curr-ckpt") {
                latestEdges(candSrcs).localCheckpoint(true) }
              val thresholds = curr.groupBy(col("src"))
                .agg(max(col("distance")).as("kth"), count(lit(1)).as("ne"))
              val rev = revCand.join(thresholds, Seq("src"), "left")
                .filter(col("kth").isNull || col("ne") < kEdges ||
                  col("distance") <= col("kth"))
                .select(col("src"), col("dst"), col("distance"))
              // two same-batch near neighbors produce the SAME edge twice
              // (q2 in probe(q1) -> fwd (q1,q2); q1 in probe(q2) -> its
              // reversal (q1,q2)) — dedupe before the re-cut or the
              // duplicate occupies two of the src's kEdges slots and the
              // reciprocal view multiplies it
              val recut = curr.unionByName(fwd).unionByName(rev)
                .dropDuplicates("src", "dst")
                .withColumn("rr", row_number().over(w))
                .filter(col("rr") <= kEdges)
                .select(col("src"), col("dst"), col("distance"))
              frames = frames :+ timeLeg("knng.recut-ckpt") { recut.localCheckpoint(true) }
              if (frames.size > stateFrames)
                frames = Vector(timeLeg("knng.compact") { latestEdges(null).localCheckpoint(true) })
            }
          }
        }
        .option("checkpointLocation", ckpt.toString)
        .start()
      drain(q)
    } finally {
      if (statePartitions > 0)
        spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ckpt).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
      // the staged source is fully drained and the state localCheckpointed
      // — the corpus-sized temp dir is dead weight the moment we return
      deleteRecursively(srcDir)
    }
    // reciprocal-pair view over the final state — v48's output contract
    // (beam face: one full latest-wins resolution, the only O(state)
    // window the generational path ever runs outside compaction). The
    // final resolution still runs under the scoped overlay (frames share
    // checkpoint lineage); the returned pair view itself is a self-join
    // of ONE checkpointed frame, which constraint rewriting handles.
    val e = if (searchWidth == 0) state
            else noConstraints { latestEdges(null).localCheckpoint(true) }
    e.join(e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"),
        round(col("distance"), 6).as("distance"))
  }

  /** Watermarked sliding-window count (30-min slide over 1-hour windows,
    * 30-min watermark) — exercises the late-data/watermark surface; with a
    * finite file source + complete-mode equivalence it still matches a
    * batch oracle. */
  def slidingCounts(
      spark: SparkSession, eventsPath: String, statePartitions: Int = 0): DataFrame = {
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val agg = eventsStream(spark, eventsPath)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
    runFinite(spark, agg, "complete", statePartitions)
      .select(col("w.start").as("window_start"), col("n_events"))
  }
}
