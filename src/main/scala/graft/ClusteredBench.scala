package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, VectorIndex}
import graft.operators.{IvfKnn, PqKnn}
import graft.functions.PqFunctions

/** The CLUSTERED-corpus decade quality curve — the realistic counterpart
  * to every uniform-random 100M number in SCALE.md. Uniform-random
  * vectors are the documented adversarial worst case for both the beam
  * graph (recall 0.17 at sw=16) and IVF-PQ (0.218 at nprobe=8): no local
  * structure for a graph walk or a coarse quantizer to exploit. Real
  * embedding corpora are heavily clustered, and the deployment decision
  * (graph vs IVF-PQ, production searchWidth, nprobe) needs the curve on
  * THAT shape. This main pins it, on the same scale (100M x 64d), with
  * the same deterministic executor-side generation discipline as
  * [[KernelBench]] dist mode — nothing corpus-sized ever exists on the
  * driver or outside the published snapshots.
  *
  * Corpus model: planted Gaussian clusters. Per id, ONE seeded RNG draws
  * u ~ U[0,1); cluster = floor(u^2 * K) (quadratic skew — head clusters
  * hold ~1% of the corpus each, the tail thins out, mimicking topic
  * frequency skew); the point is the cluster's seeded uniform center
  * plus N(0, sigma^2) per-component noise, clamped to [0,1) so the SQ8
  * range contract (quantLo=0, quantHi=1) holds unchanged. Queries are
  * drawn from the SAME mixture with a different salt — the serving
  * distribution matches the corpus, as it does in production.
  *
  * Phases (comma list, resumable — the graph snapshot is reused via its
  * params.json like [[AppendBench]]):
  *  - build: [[VectorIndex.buildTo]] the SQ8 graph snapshot.
  *  - graph: float-exact ground truth (fused kNN over the regenerated
  *    corpus), multi-width recall curve vs that float GT (width 0 = the
  *    SQ8 quantization ceiling), a [[VectorIndex.calibrateWidth]] run
  *    choosing the production width at target 0.95, a disjoint-holdout
  *    check of the chosen width, and warm ms/query at the chosen width.
  *  - ivfpq: global-codebook AND residual-codebook (FAISS IVFPQ flavor —
  *    v30's operator at the decade, the regime where residual coding is
  *    predicted to win: many cells, tight intra-cell geometry) snapshots
  *    over the same corpus, nprobe sweep with ADC pool -> exact rerank,
  *    recall vs the same float GT.
  *  - serve: cold + warm latency at representative widths (own JVM).
  *  - ceiling: the SQ8 width-0 recall ceiling under the hard-coded
  *    [0,1] range vs a calibrated range (index-independent fused scans)
  *    plus the REFINE ceiling (SQ8 pool -> float rerank).
  *  - basestore: publish the full-precision id-sorted rerank store
  *    ([[graft.sources.BaseStore]]) beside the snapshots.
  *  - faces: measure every serving face over the same batch and persist
  *    the cross-face operating table into calibration.json (own JVM);
  *    refine + ivfpq faces rerank through the published base store
  *    (point fetch) and carry structured artifacts a [[graft.index
  *    .FaceServer]] can dispatch on.
  *
  * Run: sbt "runMain graft.ClusteredBench <dir> [n] [dim] [nClusters]
  *   [sigma] [phases]"
  */
object ClusteredBench {

  private[graft] val CorpusSalt = 29L
  private[graft] val QuerySalt = 31L

  /** The corpus.json identity: the generator knobs every phase and
    * consumer main regenerates the corpus from. */
  private[graft] def corpusIdentity(n: Long, dim: Int, nClusters: Int,
      sigma: Float): String =
    s"""{"n":$n,"dim":$dim,"n_clusters":$nClusters,""" +
      s""""sigma":$sigma,"corpus_salt":$CorpusSalt}"""

  /** Refuse a snapshot built from a different generated corpus than
    * `corpusJson`: its recall would be measured against the wrong
    * corpus. Legacy snapshots without corpus.json are trusted. */
  private[graft] def requireCorpusMatch(spark: SparkSession,
      snapPath: String, corpusJson: String): Unit = {
    val found = VectorIndex.readSmallFile(spark, s"$snapPath/corpus.json")
    if (found == null)
      println(s"corpus identity: no corpus.json at $snapPath (legacy " +
        "snapshot) — trusting the caller's generator args")
    else require(found == corpusJson,
      s"corpus identity mismatch: $snapPath was built from $found but " +
        s"this run regenerates $corpusJson — every recall/latency " +
        "number would be measured against the wrong corpus")
  }

  /** Deterministic clustered vector for an id: one per-id RNG stream
    * (first draw picks the cluster, the rest is noise), one per-cluster
    * RNG for the center — regenerable anywhere, executor-side. */
  private[graft] def clusteredVector(id: Long, dim: Int, nClusters: Int,
      sigma: Float, salt: Long): Array[Float] = {
    val r = new scala.util.Random(id * 2654435761L + salt)
    val u = r.nextDouble()
    val cluster = math.min(nClusters - 1, (u * u * nClusters).toInt)
    val cr = new scala.util.Random(cluster.toLong * 1099511628211L + 977)
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      val x = cr.nextFloat() + r.nextGaussian().toFloat * sigma
      out(j) = math.min(0.999999f, math.max(0f, x))
      j += 1
    }
    out
  }

  /** Measure the published IVF-PQ face (preferring residual codes) for
    * the faces phase — round 20: the serve goes through the PUBLISHED
    * artifacts end to end ([[graft.operators.IvfPqServe]]): if the
    * snapshot has no serving model yet, the deterministic coarse
    * quantizer + codebooks are trained once (the exact calls the encode
    * made — bit-identical by construction, seconds at the 100k sample)
    * and PERSISTED into `<snapDir>/model`, then every measured serve
    * reads model + codes from disk and reranks its ADC pool through the
    * published base store (point fetch) when one exists — the
    * deployment-real composition (VERDICT r19 item 8). Returns Nil when
    * no codes snapshot is published beside the graph — the face table
    * then simply records the graph faces. */
  private def ivfpqFace(spark: SparkSession, dir: String, n: Long,
      numCents: Int, m: Int, poolC: Int, routeWidth: Int,
      corpus: DataFrame, qdf: DataFrame, k: Int, corpusJson: String,
      measure: (String, Int, String, Option[graft.index.FaceArtifact],
        () => Set[(Long, Long)]) => graft.index.FacePoint)
      : Seq[graft.index.FacePoint] = {
    // same codes-dir naming rule as the ivfpq phase: m=8 argmin codes
    // live at the unsuffixed path, other knob settings under
    // _m$m / _r$routeWidth — reading m-mismatched codes would ADC-score
    // garbage. The _r-free sibling is probed as a fallback: routed and
    // argmin codes differ only in encode-side router provenance, both
    // serve with the same (flavor, cells, m) knobs. A present
    // params.json sidecar is validated either way (IvfPqSnapshot).
    val msuf = if (m == 8) "" else s"_m$m"
    val rsuf = if (routeWidth >= 0) s"_r$routeWidth" else ""
    val candidates = for {
      f <- Seq("residual", "global")
      suffix <- Seq(msuf + rsuf, msuf).distinct
    } yield (f, s"$dir/ivfpq_${f}_c$numCents$suffix")
    val found = candidates.find { case (_, p) =>
      new java.io.File(s"$p/codes/_SUCCESS").exists() }
    if (found.isEmpty) {
      println(s"faces: no published ivfpq codes at c$numCents$msuf$rsuf — " +
        "graph faces only")
      return Nil
    }
    val (label, snapDir) = found.get
    graft.operators.IvfPqSnapshot.requireCompatible(spark, snapDir, label,
      numCents, m, codewords = 256, corpus = corpusJson)
    // publish the serving model once (pre-r20 snapshots carry none):
    // retrain deterministically from the regenerated corpus sample —
    // the same calls the encode made, so the model matches the codes
    if (graft.index.VectorIndex.readSmallFile(spark,
        s"$snapDir/model/codebooks.json") == null) {
      val stride = math.max(1L, n / 100000L)
      val sample = corpus.filter(pmod(col("id"), lit(stride)) === 0)
        .select((col("id") / stride).cast("long").as("id"), col("embedding"))
        .cache()
      val t0 = System.nanoTime()
      val cents = IvfKnn.trainedCentroids(sample, numCents, iterations = 3)
        .cache()
      val (flat, kw, sub) =
        if (label == "global") PqKnn.trainCodebooks(sample, 256, m, iterations = 3)
        else PqKnn.trainCodebooks(PqKnn.residuals(sample, cents), 256, m,
          iterations = 3)
      graft.operators.IvfPqServe.writeModel(spark, snapDir, cents, flat, kw, sub)
      println(f"faces: published serving model into $snapDir/model " +
        f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      sample.unpersist(); cents.unpersist()
    }
    val storePath = s"$dir/base"
    val storeReady = new java.io.File(s"$storePath/params.json").exists()
    // the ADC pool is STAGED TO PARQUET SCRATCH, not localCheckpoint'd:
    // the r18 combined faces run at nprobe=32 exhausted a 105g heap —
    // the wide ADC join's checkpoint blocks don't fit beside 128
    // resident 100M-scale shard graphs. The pool is |Q| x poolC rows
    // (tiny on disk); executor storage memory stays free for the graphs.
    val scratch = s"$dir/_faces_scratch"
    def serve(nprobe: Int): () => Set[(Long, Long)] = () =>
      (if (storeReady)
         graft.operators.IvfPqServe.serveFromStore(spark, snapDir, qdf,
           storePath, k, nprobe, poolC, scratch)
       else
         graft.operators.IvfPqServe.serve(spark, snapDir, qdf, corpus, k,
           nprobe, poolC, scratch, requireCoverage = false))
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val baseNote =
      if (storeReady) "base=store(auto)" else "base=corpus-regen"
    val artifact = s"$snapDir m=$m pool=$poolC $baseNote " +
      "jvm=faces(all-shard-graphs-resident)"
    val ref =
      if (storeReady) Some(graft.index.FaceArtifact(snapDir, Map(
        // "auto" resolves by the measured crossover (BaseStore.pointWins)
        // — at this pool (|Q|×500 distinct ids) it lands on the scan;
        // recording auto keeps FaceServer serving the same resolution
        "base" -> storePath, "pool" -> poolC.toString, "fetch" -> "auto")))
      else None
    // finally: an exception mid-measure must not leak the scratch pool
    // parquet beside the published snapshot
    try Seq(8, 32).map(np =>
      measure(s"ivfpq_$label", np, artifact, ref, serve(np)))
    finally graft.streaming.StreamingOps.deleteRecursively(scratch)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.error("usage: ClusteredBench <dir> [n] [dim] [nClusters] [sigma] " +
        "[phases] [ivfCents]"))
    val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val nClusters = args.lift(3).map(_.toInt).getOrElse(10000)
    val sigma = args.lift(4).map(_.toFloat).getOrElse(0.05f)
    val phases = args.lift(5).getOrElse("build,graph,ivfpq").split(",").toSet
    // coarse-cell count for the ivfpq phase (arg 7). The 1,024-cell run
    // saturates in nprobe (pool-limited — ~100 planted clusters share a
    // cell); more cells moves the corpus toward the cells≈clusters
    // regime where residual coding collapses to tight balls.
    val ivfCents = args.lift(6).map(_.toInt).getOrElse(1024)
    // graph M (minimumConnect). The r17 decade curve is M=4-only — the
    // reference's sweep grid reaches M=8 (dehnsw_example.cpp:100-102),
    // and SCALE.md's diagnosis is that M=4 within-cluster discrimination
    // is what throttles beam recall on clustered corpora.
    val graphM = args.lift(7).map(_.toInt).getOrElse(4)
    // PQ subquantizer count (code bytes/vector) and exact-rerank pool —
    // the two capacity knobs the r17 nprobe saturation pinned as binding.
    val pqM = args.lift(8).map(_.toInt).getOrElse(8)
    val rerankPool = args.lift(9).map(_.toInt).getOrElse(500)
    // cell-assignment router for the ivfpq encode: "argmin" (flat, linear
    // in cells) or "beam<W>" ([[IvfKnn.routedAssign]] through a dehnsw
    // graph over the centroids — O(beam) per row; beam0 = exhaustive walk,
    // exact). The router is the measured encode scale-killer past ~2k
    // cells (SCALE.md: 5,080 s at 7,693 cells vs 724 s at 1,024).
    val route = args.lift(10).getOrElse("argmin")
    val routeWidth =
      if (route.startsWith("beam")) route.stripPrefix("beam").toInt else -1
    // which codebook flavors the ivfpq phase runs (both by default)
    val flavors = args.lift(11).getOrElse("global,residual").split(",").toSet
    val k = 10
    val nQueries = 100

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val numShards = sys.env.getOrElse("SPARK_GRAFT_SHARDS", "128").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def corpus = spark.range(n).rdd.mapPartitions { it =>
      it.map(id => (id, clusteredVector(id, dim, nClusters, sigma, CorpusSalt)))
    }.toDF("id", "embedding")

    def queryVec(id: Long) = clusteredVector(id, dim, nClusters, sigma, QuerySalt)

    val snapPath = if (graphM == 4) s"$dir/graph" else s"$dir/graph_m$graphM"
    val params = IndexParams(minimumConnect = graphM, relaxedMonotonicity = 128,
      step = 4, quantized = true, quantLo = 0f, quantHi = 1f)

    // corpus identity sidecar — same contract class as IvfPqSnapshot's
    // params.json: the build phase records the generator knobs; every
    // later phase refuses a mismatch
    val corpusJson = corpusIdentity(n, dim, nClusters, sigma)

    // --- phase: build (skipped when the snapshot already exists) ---
    if (phases("build")) {
      if (new java.io.File(s"$snapPath/params.json").exists()) {
        requireCorpusMatch(spark, snapPath, corpusJson)
        println(s"build: snapshot already published at $snapPath — reusing")
      } else {
        println(s"build: $n x ${dim}d clustered (K=$nClusters, sigma=$sigma), " +
          s"SQ8, shards=$numShards -> $snapPath")
        val t0 = System.nanoTime()
        VectorIndex.buildTo(corpus, params, numShards, snapPath)
        VectorIndex.writeSmallFile(spark, s"$snapPath/corpus.json", corpusJson)
        println(f"build wall: ${(System.nanoTime() - t0) / 1e9}%.0f s")
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        println(f"snapshot bytes: ${walk(new java.io.File(snapPath)) / 1e9}%.2f GB")
      }
    }

    // --- phase: basestore (publish the full-precision rerank store) ---
    // The id-sorted small-page parquet base ([[graft.sources.BaseStore]])
    // the refine and IVF-PQ faces rerank against FROM DISK — the
    // deployment-real half of the two-stage serve (VERDICT r19 item 1:
    // the r19 refine numbers point-fetched through the generator; this
    // store replaces that with real page-pruned reads). ~26 GB at the
    // 100M x 64d decade — the corpus itself, one copy, sorted by key.
    if (phases("basestore")) {
      val storePath = s"$dir/base"
      if (new java.io.File(s"$storePath/params.json").exists()) {
        println(s"basestore: already published at $storePath — reusing")
      } else {
        val t0 = System.nanoTime()
        // the generator emits contiguous ascending id ranges per
        // partition — already the store's layout, so the corpus-sized
        // repartitionByRange shuffle (~26 GB at the decade, and its
        // equal-sized spill) is skipped entirely
        val sortedCorpus = spark.range(0L, n, 1L, 256).rdd.mapPartitions { it =>
          it.map(id => (id, clusteredVector(id, dim, nClusters, sigma,
            CorpusSalt)))
        }.toDF("id", "embedding")
        graft.sources.BaseStore.publish(sortedCorpus, storePath,
          corpusJson = corpusJson, assumeSorted = true)
        println(f"basestore wall: ${(System.nanoTime() - t0) / 1e9}%.0f s")
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length
          else Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        println(f"store bytes: ${walk(new java.io.File(storePath)) / 1e9}%.2f GB")
      }
    }

    // shared float-exact ground truth for graph + ivfpq phases
    lazy val qdf = (0L until nQueries.toLong).map(id => (id, queryVec(id)))
      .toDF("query_id", "embedding").cache()
    lazy val gt: Set[(Long, Long)] = {
      qdf.count()
      val t = System.nanoTime()
      val s = graft.plans.KnnJoinPlan.knnFused(qdf, corpus, k)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"float-exact ground truth: ${(System.nanoTime() - t) / 1e9}%.1f s " +
        f"(${s.size} pairs)")
      s
    }

    // --- phase: graph (recall curve + width calibration + latency) ---
    if (phases("graph")) {
      requireCorpusMatch(spark, snapPath, corpusJson)
      val idx = VectorIndex.load(spark, snapPath, cache = false)
      println(s"graph: loaded ${idx.meta.map(_.n_vectors).sum} vectors, " +
        s"shards=${idx.numShards}")
      val sample = (0L until nQueries.toLong).map(id => (id, queryVec(id))).toArray

      // recall vs FLOAT ground truth per width; width 0 = SQ8 ceiling
      val widths = Seq(0, 2, 4, 8, 16, 32, 64, 128, 256)
      val t1 = System.nanoTime()
      val probe = idx.queryBatchMultiWidth(sample, k, widths)
        .select(col("search_width"), col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
      println(f"multi-width probe: ${(System.nanoTime() - t1) / 1e9}%.1f s")
      val byWidth = probe.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      widths.foreach { w =>
        val got = byWidth.getOrElse(w, Set.empty)
        println(f"recall@$k vs float GT (sw=$w%3d) = " +
          f"${(gt intersect got).size.toDouble / gt.size}%.4f")
      }

      // production-width calibration on the clustered snapshot (tie-
      // tolerant vs the index's own exact scan — E2 semantics), then a
      // DISJOINT 200-query holdout at the chosen width
      val (chosen, curve) = idx.calibrateWidthTo(snapPath, sample, k,
        targetRecall = 0.95, widths = Seq(2, 4, 8, 16, 32, 64, 128, 256))
      println(s"calibrateWidth(target=0.95): chosen=$chosen curve=" +
        curve.map { case (w, r) => f"$w:$r%.3f" }.mkString(" "))
      println(s"persisted operating point: " +
        VectorIndex.readCalibration(spark, snapPath).get)
      val holdout = (1000L until 1200L).map(id => (id, queryVec(id))).toArray
      val hProbe = idx.queryBatchMultiWidth(holdout, k,
          Seq(0, if (chosen > 0) chosen else 64))
        .select(col("search_width"), col("query_id"), col("rank"), col("distance"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      val (hHits, hDenom) = VectorIndex.tieTolerantWidthHits(hProbe)
      val hw = if (chosen > 0) chosen else 64
      println(f"holdout(200q, sw=$hw): ${hHits(hw)}/$hDenom = " +
        f"${hHits(hw).toDouble / hDenom}%.4f")

    }

    // --- phase: serve (cold + warm latency at representative widths) ---
    // Run in its OWN JVM: the graph phase's probe passes leave their
    // graphs resident, and that allocation churn (humongous flat arrays
    // under G1) is what OOM'd a combined run; measurement phases get
    // fresh heaps.
    if (phases("serve")) {
      requireCorpusMatch(spark, snapPath, corpusJson)
      val idx = VectorIndex.load(spark, snapPath, cache = false)
      // honest labels: only the FIRST width's first batch is cold (shard
      // graphs + page cache persist across the loop) — later widths'
      // "first" batches run warm; a per-width true-cold figure needs a
      // fresh JVM per width
      for ((sw, i) <- Seq(0, 64, 256).zipWithIndex) {
        val t0 = System.nanoTime()
        idx.query(qdf, k, sw).count()
        val first = (System.nanoTime() - t0) / 1e9
        val warm = (1 to 2).map { _ =>
          val t = System.nanoTime(); idx.query(qdf, k, sw).count()
          (System.nanoTime() - t) / 1e9
        }.min
        val label = if (i == 0) "cold-first" else "first(warm-cache)"
        println(f"serve sw=$sw%3d: $label%s $first%.1f s, warm $warm%.2f s / " +
          f"$nQueries queries = ${warm * 1000 / nQueries}%.1f ms/query")
      }
    }

    // --- phase: ceiling (is the SQ8 range the binding knob?) ---
    // The width-0 recall ceiling is INDEX-INDEPENDENT: the kernel's exact
    // SQ8 scan ranks by integer-domain L2 over the codes, which equals
    // float L2 over quantize->dequantize'd vectors up to a positive
    // scale. So the ceiling under ANY candidate range is measurable
    // without building a graph — one fused exact scan over the
    // re-encoded corpus per range. This phase pins whether range
    // CALIBRATION ([[VectorIndex.calibrateQuantRange]], v25) can lift
    // the hard-coded [0,1] ceiling on this corpus, and measures the
    // REFINE ceiling (SQ8 top-pool -> float rerank) beside it — the
    // knob that breaks the ceiling when calibration cannot.
    if (phases("ceiling")) {
      requireCorpusMatch(spark, snapPath, corpusJson)
      val (cLo, cHi) = VectorIndex.calibrateQuantRange(corpus)
      println(f"calibrateQuantRange over the corpus: [$cLo%.6f, $cHi%.6f]")
      def recallOf(rows: Set[(Long, Long)]): Double =
        (gt intersect rows).size.toDouble / gt.size
      for ((label, lo, hi) <- Seq(
          ("hard-coded [0,1]", 0.0, 1.0),
          (f"calibrated [$cLo%.4f,$cHi%.4f]", cLo.toDouble, cHi.toDouble))) {
        def dq(c: org.apache.spark.sql.Column) =
          graft.functions.Sq8Functions.sq8Decode(
            graft.functions.Sq8Functions.sq8(c, lo, hi), lo, hi)
        val t0 = System.nanoTime()
        val got = graft.plans.KnnJoinPlan.knnFused(
            qdf.select(col("query_id"), dq(col("embedding")).as("embedding")),
            corpus.select(col("id"), dq(col("embedding")).as("embedding")), k)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"SQ8 ceiling, range $label: recall@$k = ${recallOf(got)}%.4f " +
          f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
      // the refine ceiling: exact SQ8 top-(10k) pool from the PUBLISHED
      // snapshot, full-precision rerank — what the pool admits is the
      // only loss left
      val idx = VectorIndex.load(spark, snapPath, cache = false)
      val t1 = System.nanoTime()
      val refined = idx.queryRefined(qdf, corpus, k, pool = 10 * k,
          searchWidth = 0)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"REFINE ceiling (sw=0, pool=${10 * k}): recall@$k = " +
        f"${recallOf(refined)}%.4f (${(System.nanoTime() - t1) / 1e9}%.1f s)")
    }

    // --- phase: faces (persist the measured cross-face operating table) ---
    // The deployment decision is three-way — exact SQ8 scan vs beam vs
    // IVF-PQ — and each face is a different (recall, ms/query, memory)
    // point. This phase MEASURES each face over the same query batch +
    // float GT and merges the table into the graph snapshot's
    // calibration.json ([[graft.index.FacePoint]]), so a serving
    // deployment picks a FACE from persisted evidence
    // ([[graft.index.WidthCalibration.bestFace]]), not just a width.
    // Run it in its own JVM with all shards resident (same discipline as
    // the serve phase) for honest warm numbers.
    if (phases("faces")) {
      requireCorpusMatch(spark, snapPath, corpusJson)
      // force the float GT FIRST, while no shard graphs are resident:
      // it is a corpus-sized fused scan, and running it lazily after the
      // warm-ups measured it on a heap already holding all 128 graphs
      // (249 s vs the ceiling JVM's 65 s — pure GC pressure)
      gt
      val idx = VectorIndex.load(spark, snapPath, cache = false)
      val existing = VectorIndex.readCalibration(spark, snapPath).getOrElse(
        sys.error(s"faces phase needs a calibrated snapshot (run graph first)"))
      def recallOf(rows: Set[(Long, Long)]): Double =
        (gt intersect rows).size.toDouble / gt.size
      def measure(face: String, param: Int, artifact: String,
          ref: Option[graft.index.FaceArtifact],
          run: () => Set[(Long, Long)]): graft.index.FacePoint = {
        run() // warm: shard graphs + page cache
        val t0 = System.nanoTime()
        val got = run()
        val t1 = System.nanoTime()
        val run2 = { val t = System.nanoTime(); run(); (System.nanoTime() - t) }
        val ms = math.min(t1 - t0, run2) / 1e6 / nQueries
        val f = graft.index.FacePoint(face, param, recallOf(got), ms,
          artifact, ref)
        println(f"face ${f.face}%-6s param=${f.param}%4d recall=${f.recall}%.4f " +
          f"${f.msPerQuery}%.1f ms/query" +
          (if (artifact.nonEmpty) s"  [$artifact]" else ""))
        f
      }
      def graphFace(sw: Int): () => Set[(Long, Long)] = () =>
        idx.query(qdf, k, sw).select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // the refine face: SQ8 pool (beam or exact) -> full-precision
      // rerank; param = searchWidth, pool fixed at 10*k. Round 20: the
      // rerank base is the PUBLISHED id-sorted base store when one
      // exists (basestore phase) — [[VectorIndex.queryRefinedFromStore]]
      // point-fetches the pool's ~|Q|*pool distinct ids through the
      // parquet column index (VERDICT r19 item 1: the operating-point
      // flip measured against DISK, not the generator). Without a store
      // the pre-r20 generator point-fetch remains, labeled honestly.
      val refinePool = 10 * k
      val storePath = s"$dir/base"
      val storeReady = new java.io.File(s"$storePath/params.json").exists()
      if (storeReady) {
        val storeCorpus = graft.sources.BaseStore.publishedCorpus(spark, storePath)
        require(storeCorpus.isEmpty || storeCorpus == corpusJson,
          s"base store at $storePath was published from $storeCorpus but " +
            s"this run regenerates $corpusJson — refusing to rerank " +
            "against the wrong corpus")
      }
      def refineFace(sw: Int): () => Set[(Long, Long)] = () =>
        (if (storeReady)
           // scan mode explicitly: at |Q|×pool = 10k ids the point fetch
           // decodes ~10k vector pages (~1 ms each) while the full pass
           // is a fixed batch-amortized cost — the measured crossover
           // (RefineServeBench / BaseStore.pointWins) sits right here,
           // and scan is the mode that keeps winning as batches grow,
           // so the TABLE records the mode a deployment serves
           idx.queryRefinedFromStore(qdf, storePath, k, refinePool, sw,
             fetch = "scan")
         else {
           // pre-store fallback: deterministic-generator point fetch
           val pool = idx.query(qdf, refinePool, sw)
             .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
           val fetched = pool.select(col("neighbor_id").as("id")).distinct()
             .as[Long].mapPartitions { it =>
               it.map(id => (id, clusteredVector(id, dim, nClusters, sigma,
                 CorpusSalt)))
             }.toDF("id", "embedding")
           graft.operators.RefineKnn.refine(pool, qdf, fetched, k)
         })
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val beamWidths = (Seq(32, 64, 128, 256) ++
        (if (existing.searchWidth > 0) Seq(existing.searchWidth) else Nil))
        .distinct.sorted
      val refineArtifact =
        if (storeReady) s"pool=$refinePool base=store(scan)"
        else s"pool=$refinePool base=point-fetch(generator)"
      val refineRef =
        if (storeReady) Some(graft.index.FaceArtifact(storePath, Map(
          "pool" -> refinePool.toString, "fetch" -> "scan")))
        else None
      val facePoints = Seq(measure("exact", 0, "", None, graphFace(0))) ++
        beamWidths.map(w => measure("beam", w, "", None, graphFace(w))) ++
        Seq(0, 256).map(w => measure("refine", w, refineArtifact, refineRef,
          refineFace(w))) ++
        ivfpqFace(spark, dir, n, ivfCents, pqM, rerankPool, routeWidth,
          corpus, qdf, k, corpusJson, measure)
      // one extra record (log-only, not a face): the POINT fetch at the
      // production width — where column-index page reads sit relative
      // to the batch-amortized scan on this store, in this JVM
      if (storeReady) {
        val t0 = System.nanoTime()
        idx.queryRefinedFromStore(qdf, storePath, k, refinePool, 256,
          fetch = "point").count()
        println(f"refine sw=256 point-fetch (column-index page reads): " +
          f"${(System.nanoTime() - t0) / 1e6 / nQueries}%.1f ms/query")
      }
      VectorIndex.writeCalibration(spark, snapPath,
        existing.copy(faces = facePoints))
      println(s"persisted face table: " +
        VectorIndex.readCalibration(spark, snapPath).get.faces.mkString(", "))
    }

    // --- phase: ivfpq (global vs residual codebooks, same GT) ---
    if (phases("ivfpq")) {
      requireCorpusMatch(spark, snapPath, corpusJson)
      val numCents = ivfCents; val m = pqM; val codewords = 256
      val stride = math.max(1L, n / 100000L)
      val sample = corpus.filter(pmod(col("id"), lit(stride)) === 0)
        .select((col("id") / stride).cast("long").as("id"), col("embedding"))
        .cache()
      println(s"ivfpq training sample: ${sample.count()} rows (stride $stride)")
      val t0 = System.nanoTime()
      val cents = IvfKnn.trainedCentroids(sample, numCents, iterations = 3).cache()
      println(f"coarse quantizer: ${cents.count()} trained cells, " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s")

      val wPool = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("distance"), col("neighbor_id"))
      val poolC = rerankPool

      /** Encode+publish one flavor's codes snapshot, then the nprobe
        * sweep: ADC pool over the pushed probed-cell set -> exact rerank
        * (identical two-stage serve as [[IvfPqBench]]). `mkRouted` yields
        * the per-(query, cell) ADC-table frame — the only point where
        * global and residual flavors differ on the query side. */
      def runFlavor(label: String, kEff: Int, encoded: DataFrame,
          mkRouted: Int => DataFrame): Unit = {
        // legacy path kept for m=8+argmin so published c1024/c8192 codes
        // are reused; other knob settings get their own codes dirs
        val suffix = (if (m == 8) "" else s"_m$m") +
          (if (routeWidth >= 0) s"_r$routeWidth" else "")
        val snapDir = s"$dir/ivfpq_${label}_c$numCents$suffix"
        val codesPath = s"$snapDir/codes"
        // completion marker, not bare dir existence: a crashed encode
        // must re-run, not be "reused" into silently-deflated recall
        if (!new java.io.File(codesPath, "_SUCCESS").exists()) {
          val t = System.nanoTime()
          encoded.repartition(64, col("cell"))
            .sortWithinPartitions(col("cell"), col("neighbor_id"))
            .write.mode("overwrite").parquet(codesPath)
          // identity sidecar: the knobs that make these codes readable
          // (naming convention alone enforced this until round 19)
          graft.operators.IvfPqSnapshot.writeParams(spark, snapDir,
            graft.operators.IvfPqParams(label, numCents, m, codewords, route,
              corpus = corpusJson))
          println(f"[$label] encode+publish: ${(System.nanoTime() - t) / 1e9}%.1f s")
        } else {
          graft.operators.IvfPqSnapshot.requireCompatible(spark, snapDir,
            label, numCents, m, codewords, corpus = corpusJson)
          println(s"[$label] codes already published — reusing")
        }
        val codes = spark.read.parquet(codesPath)
        for (nprobe <- Seq(8, 32, 128)) {
          val t4 = System.nanoTime()
          val routed = mkRouted(nprobe).cache()
          val cells = routed.select(col("cell")).distinct()
            .collect().map(_.getLong(0)).toSeq
          val pool = codes.filter(col("cell").isin(cells: _*))
            .join(broadcast(routed), Seq("cell"))
            .select(col("query_id"), col("neighbor_id"),
              PqFunctions.adcLookup(col("tab"), col("codes"), kEff)
                .cast("double").as("distance"))
            .withColumn("rank", row_number().over(wPool))
            .filter(col("rank") <= poolC)
            .select(col("query_id"), col("neighbor_id"))
            .localCheckpoint(true)
          val poolS = (System.nanoTime() - t4) / 1e9
          val t5 = System.nanoTime()
          val reranked = corpus.join(broadcast(pool), col("id") === col("neighbor_id"))
            .join(broadcast(qdf.select(col("query_id"), col("embedding").as("qe"))),
              Seq("query_id"))
            .select(col("query_id"), col("neighbor_id"),
              graft.functions.VectorFunctions.squaredL2(col("qe"), col("embedding"))
                .as("distance"))
            .withColumn("rank", row_number().over(wPool)).filter(col("rank") <= k)
            .select(col("query_id"), col("neighbor_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val rerankS = (System.nanoTime() - t5) / 1e9
          println(f"[$label] serve nprobe=$nprobe%4d (${cells.size} cells, " +
            f"m=$m pool=$poolC): adc $poolS%.1f s + rerank $rerankS%.1f s = " +
            f"${(poolS + rerankS) * 1000 / nQueries}%.1f ms/query, " +
            f"recall@$k = ${(gt intersect reranked).size.toDouble / gt.size}%.3f")
          routed.unpersist()
        }
      }

      // the encode-side cell assignment: flat argmin or graph-routed
      def assignF(c: DataFrame): DataFrame =
        if (routeWidth >= 0) IvfKnn.routedAssign(c, cents, routeWidth)
        else IvfKnn.assign(c, cents)
      if (routeWidth >= 0) println(s"ivfpq encode routing: beam sw=$routeWidth")

      // global codebooks: PQ over raw vectors, one ADC table per query
      if (flavors("global")) {
        val tg = System.nanoTime()
        val (gFlat, gK, gSub) = PqKnn.trainCodebooks(sample, codewords, m, iterations = 3)
        println(f"[global] codebooks: ${(System.nanoTime() - tg) / 1e9}%.1f s")
        runFlavor("global", gK,
          assignF(corpus)
            .select(col("id").as("neighbor_id"), col("cell"),
              PqFunctions.encode(col("embedding"), gFlat, m, gK, gSub).as("codes")),
          nprobe => IvfKnn.route(qdf, cents, nprobe)
            .select(col("query_id"), col("cell"),
              PqFunctions.adcTable(col("q_embedding"), gFlat, m, gK, gSub).as("tab")))
      }

      // residual codebooks (FAISS IVFPQ): PQ over x - centroid(cell(x));
      // ADC table per (query, probed cell) from q - centroid
      if (flavors("residual")) {
        val tr = System.nanoTime()
        val residSample = PqKnn.residuals(sample, cents)
        val (rFlat, rK, rSub) = PqKnn.trainCodebooks(residSample, codewords, m,
          iterations = 3)
        println(f"[residual] codebooks: ${(System.nanoTime() - tr) / 1e9}%.1f s")
        runFlavor("residual", rK,
          PqKnn.residualsAssigned(assignF(corpus), cents)
            .select(col("id").as("neighbor_id"), col("cell"),
              PqFunctions.encode(col("embedding"), rFlat, m, rK, rSub).as("codes")),
          nprobe => IvfKnn.route(qdf, cents, nprobe)
            .join(broadcast(cents), col("cell") === col("centroid_id"))
            .select(col("query_id"), col("cell"),
              PqFunctions.adcTable(
                zip_with(col("q_embedding"), col("c_embedding"), (q, c) => q - c),
                rFlat, m, rK, rSub).as("tab")))
      }
      sample.unpersist(); cents.unpersist()
    }
    println(s"clustered decade artifacts at $dir")
    spark.stop()
  }
}
