package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{FaceServer, VectorIndex}

/** Serve a published snapshot VIA ITS PERSISTED FACE TABLE — the
  * consumer-side proof that [[graft.index.FaceServer]] closes the loop
  * the ClusteredBench faces phase opens: calibration.json says which
  * face wins at each recall target, and this main serves a query batch
  * through `FaceServer.serve` at each given target, printing the face
  * the evidence chose, the wall time, and the recall against a
  * float-exact ground truth recomputed from the same deterministic
  * generator ClusteredBench used. No hand-assembly: refine faces find
  * their base store and IVF-PQ faces their codes snapshot + model
  * through the structured artifacts alone.
  *
  * Run: sbt "runMain graft.FaceServeBench <dir> [n] [dim] [nClusters]
  *   [sigma] [targets] [graphM]" — the generator knobs (n/dim/nClusters/sigma)
  * mean the same as [[ClusteredBench]]'s but the slots beyond them
  * differ (targets/graphM here vs phases/ivfCents/graphM there — do
  * NOT paste one main's argv into the other); the snapshot's
  * corpus.json is validated against the knobs, so a mismatched
  * default refuses instead of measuring the wrong corpus. The
  * snapshot at `<dir>/graph[_m<M>]` must carry a faces table.
  */
object FaceServeBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.error("usage: FaceServeBench <dir> [n] [dim] [nClusters] [sigma] " +
        "[targets] [graphM]"))
    val n = args.lift(1).map(_.toLong).getOrElse(100000000L)
    val dim = args.lift(2).map(_.toInt).getOrElse(64)
    val nClusters = args.lift(3).map(_.toInt).getOrElse(10000)
    val sigma = args.lift(4).map(_.toFloat).getOrElse(0.05f)
    val targets = args.lift(5).getOrElse("0.95,0.97,0.99")
      .split(",").map(_.toDouble).toSeq
    val graphM = args.lift(6).map(_.toInt).getOrElse(8)
    val k = 10
    val nQueries = 100

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val snapPath = if (graphM == 4) s"$dir/graph" else s"$dir/graph_m$graphM"
    // corpus identity gate: this main REGENERATES corpus + queries from
    // its CLI knobs, so a knob that disagrees with the snapshot's
    // recorded generator (e.g. the nClusters=10000 default against a
    // K=100000 decade snapshot) would produce self-consistent but
    // silently wrong recall numbers (SCALE.md r19)
    ClusteredBench.requireCorpusMatch(spark, snapPath,
      ClusteredBench.corpusIdentity(n, dim, nClusters, sigma))
    val qdf = (0L until nQueries.toLong).map(id =>
        (id, ClusteredBench.clusteredVector(id, dim, nClusters, sigma,
          ClusteredBench.QuerySalt)))
      .toDF("query_id", "embedding").cache()
    qdf.count()

    // float-exact GT over the regenerated corpus (same fused plan the
    // bench phases use) — run FIRST, before any shard graph is resident
    val corpus = spark.range(n).rdd.mapPartitions { it =>
      it.map(id => (id, ClusteredBench.clusteredVector(id, dim, nClusters,
        sigma, ClusteredBench.CorpusSalt)))
    }.toDF("id", "embedding")
    val t0 = System.nanoTime()
    val gt = graft.plans.KnnJoinPlan.knnFused(qdf, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"float-exact GT: ${(System.nanoTime() - t0) / 1e9}%.1f s")

    val cal = VectorIndex.readCalibration(spark, snapPath).getOrElse(
      sys.error(s"$snapPath carries no calibration.json"))
    val idx = VectorIndex.load(spark, snapPath, cache = false)
    for (target <- targets) {
      val face = cal.bestFace(target).getOrElse(
        sys.error(s"no face meets $target"))
      def run(): Set[(Long, Long)] =
        FaceServer.serveFace(idx, face, qdf, k)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      run() // warm
      val t1 = System.nanoTime()
      val got = run()
      val ms = (System.nanoTime() - t1) / 1e6 / nQueries
      println(f"target $target%.2f -> face ${face.face}@${face.param} " +
        f"(table: ${face.recall}%.4f @ ${face.msPerQuery}%.1f ms/q): " +
        f"served recall ${(gt intersect got).size.toDouble / gt.size}%.4f " +
        f"@ $ms%.1f ms/query")
    }
    spark.stop()
  }
}
