package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, VectorIndex}

/** Hybrid serve-from-snapshots at scale — the measured face of
  * [[graft.operators.HybridRetrieval.serveFromSnapshots]] (v60's gated
  * semantics): build BOTH published artifacts once for an N-document
  * corpus — the cosine vector index via [[VectorIndex.buildTo]] (rows
  * stream straight to parquet) and the BM25 posting snapshot via
  * [[graft.operators.HybridRetrieval.saveBm25Index]] (tok-bucketed) —
  * then serve fused query batches entirely from the two loaded
  * snapshots, timing each build and the serves separately. Docs are
  * [[TextBench.docText]] (same corpus semantics as the text decade);
  * embeddings are the KernelBench dist generation, so each leg's number
  * sits next to its own single-leg decade row in SCALE.md.
  *
  * The self-hit gate: each query's text is a prefix of doc q·(n/100)
  * and its embedding IS that doc's vector, so the fused top-k must
  * surface the query's own doc — a serving-correctness floor no timing
  * shortcut can fake.
  *
  * Run: sbt "runMain graft.HybridServeBench [nDocs] [dim] [dir]"
  */
object HybridServeBench {

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(10000000L)
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val dir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_hybrid_").toString)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def emb(id: Long): Array[Float] = {
      val r = new scala.util.Random(id * 2654435761L + 13)
      Array.fill(dim)(r.nextFloat())
    }
    val corpus = spark.range(n).rdd.mapPartitions { it =>
      it.map(id => (id, emb(id)))
    }.toDF("id", "embedding")
    val docs = spark.range(n).rdd
      .map(id => (id, TextBench.docText(id)))
      .toDF("doc_id", "text")
    val numShards = sys.env.getOrElse("SPARK_GRAFT_SHARDS", cpus).toInt

    // --- build + publish both artifacts (already-published dirs reuse:
    // delete them to re-measure the builds) ---
    if (new java.io.File(s"$dir/vec/params.json").exists())
      println(s"reusing published vector snapshot at $dir/vec")
    else {
      val t0 = System.nanoTime()
      VectorIndex.buildTo(corpus,
        IndexParams(metric = graft.functions.DistanceMetric.Cosine,
          minimumConnect = 8, relaxedMonotonicity = 32, step = 2),
        numShards, s"$dir/vec")
      println(f"vector snapshot (cosine, $numShards%d shards): " +
        f"${(System.nanoTime() - t0) / 1e9}%.1f s build+save")
    }
    if (new java.io.File(s"$dir/lex/stats.json").exists())
      println(s"reusing published bm25 snapshot at $dir/lex")
    else {
      val t1 = System.nanoTime()
      val (bp, bd, bst) = graft.operators.HybridRetrieval.bm25SnapshotPieces(docs)
      graft.operators.HybridRetrieval.saveBm25Index(bp, bd, bst, s"$dir/lex",
        dfCapNum = 78L, dfCapDen = 100L)
      println(f"bm25 snapshot (split df, 78%% cap): ${(System.nanoTime() - t1) / 1e9}%.1f s build+save")
    }

    // --- serve fused batches from the LOADED pair ---
    def queryBatch(b: Int) = {
      val ids = (0L until b.toLong).map(q => (q, q * (n / 100)))
      (ids.map { case (q, d) =>
        (q, TextBench.docText(d).split(" ").take(8).mkString(" "))
      }.toDF("query_id", "text"),
       ids.map { case (q, d) => (q, emb(d)) }.toDF("query_id", "embedding"),
       ids.toMap)
    }
    // ONE loaded pair serves every batch (the long-lived server): the
    // first pass is COLD (per-shard parquet read + graph rebuild run
    // inside the serve job — the "other job probes the published
    // snapshots" shape); later passes are WARM (shard graphs resident
    // as the probe layout's cached blocks — the steady state)
    val vidx = VectorIndex.load(spark, s"$dir/vec", cache = false)
    // split (v2) snapshots open as two-phase handles; a pre-split lex
    // snapshot (e.g. one published by an earlier build) loads as the
    // joined view — both serve through serveFromLoaded
    val snapOpt =
      if (graft.operators.HybridRetrieval.isSplitSnapshot(spark, s"$dir/lex"))
        Some(graft.operators.HybridRetrieval.openBm25Index(spark, s"$dir/lex"))
      else None
    lazy val (li, ls) = graft.operators.HybridRetrieval.loadBm25Index(spark, s"$dir/lex")
    for (b <- Seq(100, 100, 5)) { // 100 twice: cold, then warm
      val (qd, qe, own) = queryBatch(b)
      val t2 = System.nanoTime()
      val fused = (snapOpt match {
        case Some(snap) => graft.operators.HybridRetrieval.serveFromLoaded(
          vidx, snap, qd, qe, n = 20, k = 10, searchWidth = 32)
        case None => graft.operators.HybridRetrieval.serveFromLoaded(
          vidx, li, ls, qd, qe, n = 20, k = 10, searchWidth = 32)
      })
        .select(col("query_id"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val serveS = (System.nanoTime() - t2) / 1e9
      val selfHits = fused.count { case (q, d) => own(q) == d }
      println(f"hybrid serve, $b%d-query batch: $serveS%.1f s wall = " +
        f"${serveS * 1000 / b}%.1f ms/query; self-hit $selfHits%d/$b%d")
      require(selfHits >= b * 9 / 10,
        s"fused serving lost its own documents: $selfHits/$b")
    }
    println(s"snapshots kept at $dir")
    spark.stop()
  }
}
