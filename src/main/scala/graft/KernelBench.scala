package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, SubIndexGraph, VectorIndex}
import graft.operators.{ExactKnn, RecallEval}

/** Kernel-level throughput benchmark at reference dataset scale — the
  * analog of the reference's timed insert/query loops
  * (example/dehnsw_example.cpp:154-185): N seeded synthetic vectors,
  * single-shard single-thread build (comparable to the reference's
  * single-thread profile) plus the distributed multi-shard path, reporting
  * per-insert and per-query microseconds and recall. The single-shard
  * section calls the kernel's beam and exact scan directly, not the
  * index probe (`SubIndexGraph.topK`), because it compares the two.
  *
  * Run: sbt "runMain graft.KernelBench [nVectors] [dim] [sparkOnly] [quant]"
  * (third arg "sparkOnly" skips the single-thread section — for corpus
  * sizes where a one-thread build is the thing being avoided)
  *
  * Dist mode: the "dist" flag generates the corpus per-id inside the
  * executors (seeded spark.range mapPartitions — deterministic, nothing
  * corpus-sized on the driver) and implies sparkOnly; required for the
  * 10M-vector decade. `SPARK_GRAFT_SHARDS` overrides the shard count
  * (defaults to SPARK_GRAFT_CPUS) to emulate a wider cluster's layout.
  *
  * Codec mode: sbt "runMain graft.KernelBench [nVectors] [dim] sparkOnly codec"
  * runs the lossy-codec candidate scans head-to-head (float32 / SQ8 /
  * binary Hamming) through the identical window top-k plan.
  *
  * Persist mode: the "persist" flag swaps the cached build for
  * [[VectorIndex.buildTo]] — rows stream straight to compressed parquet
  * and the probe runs against the LOADED index. The single-node disk
  * mitigation for the 100M decade (SCALE.md): one compressed on-disk
  * copy instead of a wholesale Kryo cache spill.
  *
  * Soak mode: sbt "runMain graft.KernelBench [nVectors] [dim] soak [nQueries]"
  * drives the driverless shuffled probe (`queryDistributed`: the
  * replicated queries zipped with the shard layout in the index's one
  * per-shard probe core, `VectorIndex.shardCandidates`) with an
  * nQueries-row query set generated DISTRIBUTED via spark.range — no
  * query vector ever transits the driver in either direction — then
  * cross-checks a 100-query overlap against the broadcast `query` path
  * for gate equality. This is the unbounded-batch path a 1000-executor
  * cluster would run; heap stays bounded at one shard graph + one
  * bounded query group per task regardless of nQueries.
  */
object KernelBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(60000)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    // flags after the first two positions: "soak" / "sparkOnly" / "quant"
    // (SQ8 index storage); remaining numeric args = [nQueries, k] for soak
    val flags = args.drop(2).filterNot(_.forall(_.isDigit))
    val nums = args.drop(2).filter(a => a.nonEmpty && a.forall(_.isDigit))
    val soak = flags.contains("soak")
    val quant = flags.contains("quant")
    // "cosine": build the index with normalizeForCosine (v51's production
    // combination when paired with quant) — the quantization range is
    // calibrated over a normalized sample below instead of the raw [0,1)
    val cosine = flags.contains("cosine")
    // "dist": generate the corpus INSIDE the executors (spark.range +
    // per-id seeded RNG, the soak-query pattern) — nothing corpus-sized
    // ever exists on the driver. Mandatory above a few million vectors:
    // the driver-side Array.fill + toSeq.toDF path holds two full copies
    // of the corpus in the driver heap.
    val dist = flags.contains("dist")
    // cosine implies sparkOnly: normalization lives at the VectorIndex
    // API boundary, so the raw single-thread kernel section would insert
    // UNNORMALIZED vectors under a normalized-calibrated quant range
    // (mass clamping — meaningless numbers)
    val sparkOnly = soak || dist || cosine || flags.contains("sparkOnly")
    val k = 100
    val nQueries = 100
    // synthetic vectors are uniform [0,1) — the quantization range must
    // cover the data or values clamp and distances degenerate. In cosine
    // mode the index stores NORMALIZED vectors, so the range is
    // calibrated over a normalized deterministic sample (components of a
    // unit-normalized uniform 64d vector live in ~[0, 0.35]; using the
    // raw [0,1] there would waste ~2 bits of SQ8 resolution)
    val cosRange: (Float, Float) =
      if (!cosine) (0f, 1f)
      else {
        val r0 = new scala.util.Random(7)
        val sample = Array.fill(4096) {
          graft.functions.VectorFunctions.l2NormalizeArray(
            Array.fill(dim)(r0.nextFloat()))
        }
        // 15% headroom over the sampled max: unsampled tail components
        // clamp gracefully by contract, but headroom makes that rare
        (0f, sample.map(_.max).max * 1.15f)
      }
    val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 128, step = 4,
      quantized = quant, quantLo = cosRange._1, quantHi = cosRange._2,
      normalizeForCosine = cosine)
    if (cosine) println(f"cosine mode: normalizeForCosine, quant range [0, ${cosRange._2}%.4f]")
    if (quant) println(s"SQ8 storage: ${n.toLong * dim} vector bytes/JVM vs ${4L * n * dim} float")

    val rnd = new scala.util.Random(42)
    val data = if (dist) Array.empty[Array[Float]]
               else Array.fill(n)(Array.fill(dim)(rnd.nextFloat()))
    val queries = Array.fill(nQueries)(Array.fill(dim)(rnd.nextFloat()))

    if (!sparkOnly) {
      // --- single-thread, single-shard kernel (reference-comparable) ---
      val t0 = System.nanoTime()
      val g = new SubIndexGraph(params, n)
      var i = 0
      while (i < n) { g.insert(i.toLong, data(i)); i += 1 }
      val buildUs = (System.nanoTime() - t0) / 1000.0
      println(f"build: $n%d vectors, ${buildUs / n}%.1f us/insert, total ${buildUs / 1e6}%.2f s")

      for (sw <- Seq(1, 16, 64)) {
        val q0 = System.nanoTime()
        var qi = 0
        while (qi < nQueries) { g.queryTopK(queries(qi), k, sw); qi += 1 }
        val qUs = (System.nanoTime() - q0) / 1000.0 / nQueries
        // recall vs exact brute force on the same shard
        val hits = queries.map { q =>
          val ann = g.queryTopK(q, k, sw).map(_._2).toSet
          val exact = g.bruteForceTopK(q, k).map(_._2).toSet
          (ann intersect exact).size
        }.sum
        println(f"query(sw=$sw%3d): $qUs%9.1f us/query, recall@$k ${hits.toDouble / (nQueries * k)}%.3f")
      }
    }

    // --- distributed build+probe through the full Spark path ---
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // the soak's candidate shuffle is an RDD shuffle (tuples, not
      // Tungsten rows) — Kryo halves its on-disk spill vs Java ser
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val codec = flags.contains("codec")
    // shard count defaults to thread count; override (e.g. 64/128 at 10M,
    // emulating a wider cluster's shard layout on one node) via env
    val numShards = sys.env.getOrElse("SPARK_GRAFT_SHARDS", cpus).toInt
    // a driver-built Seq arrives as a LocalTableScan; spread it so every
    // scan below actually parallelizes. In dist mode the corpus is
    // generated per-id inside the executors instead.
    // dist corpora are deterministic per-id regenerations — caching them
    // is a pure storage liability at decade scale (the 100M float run
    // died ENOSPC: corpus cache + serialized index rows overflow the
    // storage pool and MEMORY_AND_DISK eviction + live shuffle writes
    // exceed the node's local disk; regenerating a row costs microseconds)
    val df0 = if (dist)
      spark.range(n.toLong).rdd.mapPartitions { it =>
        it.map { id =>
          val r = new scala.util.Random(id * 2654435761L + 13)
          (id, Array.fill(dim)(r.nextFloat()))
        }
      }.toDF("id", "embedding")
    else data.zipWithIndex.map { case (v, id) => (id.toLong, v) }.toSeq
      .toDF("id", "embedding").repartition(cpus.toInt)
    val df = if (dist) df0 else df0.cache()
    df.count()
    val qdf = queries.zipWithIndex.map { case (v, id) => (id.toLong, v) }.toSeq
      .toDF("query_id", "embedding")
    // codec mode compares raw candidate scans — the graph index never
    // enters the measurement, so skip its build entirely.
    // "persist" mode builds STRAIGHT TO compressed parquet (no
    // cluster-wide cache, no Kryo eviction spill — the decade-scale disk
    // mitigation, SCALE.md) and probes the LOADED index; the wall
    // includes the parquet write + meta scan, the honest
    // build-to-published-snapshot cost.
    val persist = flags.contains("persist")
    lazy val idx = {
      val s0 = System.nanoTime()
      val built =
        if (persist) {
          val dir = java.nio.file.Files.createTempDirectory("graft_kb_index_").toString
          val b = VectorIndex.buildTo(df, params, numShards = numShards, dir)
          println(s"persisted index parquet at $dir")
          b
        } else {
          VectorIndex.build(df, params, numShards = numShards).optimize()
        }
      println(f"spark build (shards=$numShards%d): ${(System.nanoTime() - s0) / 1e9}%.2f s wall" +
        (if (persist) " (buildTo parquet + loaded handle)" else ""))
      built
    }
    if (!codec) {
      val s1 = System.nanoTime()
      val res = idx.query(qdf, k, searchWidth = 64)
      res.count()
      println(f"spark probe (sw=64): ${(System.nanoTime() - s1) / 1e9}%.2f s wall for $nQueries queries")
    }

    if (soak) {
      // --- driverless shuffled-probe soak (unbounded batch path) ---
      val nSoak = nums.lift(0).map(_.toLong).getOrElse(1000000L)
      val sw = 16
      // candidate volume is |Q| x shards x k rows; at k=100 a 1M-query
      // soak is 3.2B rows (~100+ GB of local shuffle spill — more disk
      // than this container has). k=10 keeps the soak on one node while
      // exercising the identical path; a cluster spreads the same
      // volume over its executors. Overridable via arg 5.
      val soakK = nums.lift(1).map(_.toInt).getOrElse(10)
      val soakQ = soakQueries(spark, nSoak, dim)
      val s2 = System.nanoTime()
      val soakRes = idx.queryDistributed(soakQ, soakK, sw)
      val nRes = soakRes.count()
      val soakS = (System.nanoTime() - s2) / 1e9
      println(f"soak queryDistributed (sw=$sw%d, k=$soakK%d): $nSoak%d queries -> $nRes%d result rows, " +
        f"$soakS%.1f s wall, ${soakS * 1e6 / nSoak}%.1f us/query amortized")

      probeGate(idx, soakQ, soakK, sw, "soak")
    }

    if (flags.contains("lsm")) {
      // --- LSM generational ingest: per-batch cost must be O(batch), not
      // O(index) — the structural claim behind s9. Ingest a fixed-size
      // batch repeatedly into an ever-growing index; per-ingest wall time
      // must stay flat while an equivalent append (which rebuilds every
      // touched shard) grows with the base. Then probe across the
      // accumulated generations and compact.
      val batchSize = nums.lift(0).map(_.toInt).getOrElse(10000)
      val rounds = nums.lift(1).map(_.toInt).getOrElse(8)
      var lsm = graft.index.LsmVectorIndex(idx, compactThreshold = Long.MaxValue)
      var nextId = n.toLong
      for (r <- 1 to rounds) {
        val batch = spark.range(nextId, nextId + batchSize).rdd.mapPartitions { it =>
          it.map { id =>
            val rr = new scala.util.Random(id * 2654435761L + 7)
            (id, Array.fill(dim)(rr.nextFloat()))
          }
        }.toDF("id", "embedding")
        val t = System.nanoTime()
        lsm = lsm.ingest(batch)
        println(f"lsm ingest[$r]: $batchSize vectors into ${lsm.vectorCount - batchSize} " +
          f"-> ${(System.nanoTime() - t) / 1e9}%.2f s wall (${lsm.generations.size} generations)")
        nextId += batchSize
      }
      val qdf2 = queries.take(100).zipWithIndex
        .map { case (v, id) => (id.toLong, v) }.toSeq.toDF("query_id", "embedding")
      val tp = System.nanoTime()
      val nr = lsm.query(qdf2, k, searchWidth = 16).count()
      println(f"lsm probe across base + ${lsm.generations.size} generations: " +
        f"${(System.nanoTime() - tp) / 1e9}%.2f s wall for 100 queries ($nr rows)")
      val tc = System.nanoTime()
      lsm = lsm.compact()
      println(f"lsm compaction of ${rounds}x$batchSize vectors: " +
        f"${(System.nanoTime() - tc) / 1e9}%.2f s wall")
      val tp2 = System.nanoTime()
      lsm.query(qdf2, k, searchWidth = 16).count()
      println(f"lsm probe after compaction: ${(System.nanoTime() - tp2) / 1e9}%.2f s wall")
    }

    if (flags.contains("codec")) {
      // --- lossy-codec candidate scans head-to-head: same corpus, same
      // window top-k plan, only the per-candidate representation changes
      // (float32 4 B/dim, SQ8 1 B/dim, binary 1 bit/dim). Reproduces the
      // BASELINE.md codec A/B. Synthetic data is uniform [0,1), so the
      // binary rows sign (x - 0.5) — the v34 centering — to keep the
      // codes non-degenerate.
      import graft.functions.{Sq8Functions, BinaryQuantFunctions, VectorFunctions}
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("distance"), col("neighbor_id"))
      def topk(scored: org.apache.spark.sql.DataFrame) =
        scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 10)
      def timeScan(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
        mk.count() // warm
        val best = (1 to 2).map { _ =>
          val t = System.nanoTime(); mk.count(); (System.nanoTime() - t) / 1e9
        }.min
        println(f"codec scan [$name]: $best%.2f s best-of-2 ($nQueries%d queries x $n%d corpus)")
      }
      val qdf2 = qdf.cache(); qdf2.count()
      val cF = df.select(col("id").as("neighbor_id"), col("embedding").as("ce")).cache(); cF.count()
      timeScan("float32") {
        topk(cF.crossJoin(broadcast(qdf2.select(col("query_id"), col("embedding").as("qe"))))
          .select(col("query_id"), col("neighbor_id"),
            VectorFunctions.squaredL2(col("qe"), col("ce")).as("distance")))
      }
      val c8 = df.select(col("id").as("neighbor_id"),
        Sq8Functions.sq8(col("embedding"), 0.0, 1.0).as("cv")).cache(); c8.count()
      val q8 = qdf2.select(col("query_id"),
        Sq8Functions.sq8(col("embedding"), 0.0, 1.0).as("qv")).cache(); q8.count()
      timeScan("sq8    ") {
        topk(c8.crossJoin(broadcast(q8))
          .select(col("query_id"), col("neighbor_id"),
            Sq8Functions.sq8L2Sq(col("qv"), col("cv")).cast("double").as("distance")))
      }
      def centeredBits(c: org.apache.spark.sql.Column) =
        BinaryQuantFunctions.bits(transform(c, x => x - lit(0.5f)))
      val cb = df.select(col("id").as("neighbor_id"),
        centeredBits(col("embedding")).as("cbits")).cache(); cb.count()
      val qb = qdf2.select(col("query_id"),
        centeredBits(col("embedding")).as("qbits")).cache(); qb.count()
      timeScan("binary ") {
        topk(cb.crossJoin(broadcast(qb))
          .select(col("query_id"), col("neighbor_id"),
            BinaryQuantFunctions.hamming(col("qbits"), col("cbits")).cast("double").as("distance")))
      }
    }

    // formulation A/B only at driver-generated scale — at dist scale the
    // window/agg formulations are the known-slow baselines (BASELINE.md)
    if (!soak && !dist && !flags.contains("lsm") && !flags.contains("codec")) {
      // --- exact kNN formulations head-to-head (same corpus, bigger batch) ---
      val bigQ = (0 until 1000).map { id =>
        (id.toLong, Array.fill(dim)(rnd.nextFloat()))
      }.toDF("query_id", "embedding").cache()
      bigQ.count()
      def timeIt(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
        val t = System.nanoTime()
        df.count()
        println(f"exact kNN [$name]: ${(System.nanoTime() - t) / 1e9}%.2f s wall (1000 queries x $n corpus)")
      }
      timeIt("window ") { graft.operators.ExactKnn.knnJoin(bigQ, df, k) }
      timeIt("agg    ") { graft.operators.TopK.knnAggregate(bigQ, df, k) }
      timeIt("fused  ") { graft.plans.KnnJoinPlan.knnFused(bigQ, df, k) }
    }
    spark.stop()
  }

  /** Deterministic per-id soak query vectors, generated INSIDE the
    * executors (spark.range -> mapPartitions; nothing query-sized on the
    * driver). ONE seed formula (id*2654435761L+1) shared by every main
    * that replays the soak protocol ([[ProbeBench]]), so soak results
    * stay comparable run to run and main to main by construction. */
  private[graft] def soakQueries(
      spark: SparkSession, n: Long, dim: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.range(n).rdd.mapPartitions { it =>
      it.map { id =>
        val r = new scala.util.Random(id * 2654435761L + 1)
        (id, Array.fill(dim)(r.nextFloat()))
      }
    }.toDF("query_id", "embedding")
  }

  /** Probe-path equality gate: the first 100 soak queries through the
    * broadcast path must produce the identical (query_id, neighbor_id,
    * distance) set the driverless shuffled probe produces for the same
    * batch (a fresh small queryDistributed call — filtering the soak
    * result would recompute the full query lineage to read 100 rows). */
  private[graft] def probeGate(
      idx: VectorIndex, soakQ: org.apache.spark.sql.DataFrame,
      k: Int, sw: Int, label: String): Unit = {
    val headQ = soakQ.filter(col("query_id") < 100).cache()
    try {
      val viaBroadcast = idx.query(headQ, k, sw)
        .select("query_id", "neighbor_id", "distance")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val viaShuffle = idx.queryDistributed(headQ, k, sw)
        .select("query_id", "neighbor_id", "distance")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      require(viaBroadcast == viaShuffle,
        s"$label gate MISMATCH: broadcast=${viaBroadcast.size} shuffle=${viaShuffle.size} " +
          s"diff=${(viaBroadcast diff viaShuffle).take(5)}")
      println(s"$label gate: shuffled probe == broadcast probe on 100-query overlap " +
        s"(${viaShuffle.size} rows) OK")
    } finally headQ.unpersist()
  }
}
