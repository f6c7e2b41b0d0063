package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, VectorIndex}
import graft.operators.RecallEval
import graft.sources.{Fvecs, Hdf5, Hdf5Writer, Npy}

/** End-to-end ann-benchmarks protocol replay — the reference's E7 main as
  * ONE chained run (reference: example/dehnsw_example.cpp:132-230):
  * synthesize a sift-shaped dataset → write it as a real HDF5 file (and
  * `.npy` twins) → ingest through the distributed sources → compute the
  * reference answer (E1) → build the dehnsw index with the example's
  * parameters (ctor at dehnsw_example.cpp:156: minimumConnect=4, RM=128,
  * step=4) → probe → distance-based recall (E2) → save → load → re-probe
  * and verify the round-tripped index answers IDENTICALLY (the example's
  * deep-copy + save/load blocks, lines 188-230).
  *
  * Run: `sbt "runMain graft.AnnBenchmark [workDir]"` — prints one JSON
  * summary line. AnnProtocolSpec gates the same chain at spec scale on
  * BOTH source formats.
  */
object AnnBenchmark {

  /** Deterministic splitmix-style scramble → [0, 1) float. No RNG state:
    * closed form in the seed, so every run and every engine agrees. */
  private def unit(seed: Long): Float = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (((z ^ (z >>> 31)) >>> 40).toDouble / (1L << 24).toDouble).toFloat
  }

  /** Sift-shaped synthetic corpus: `nClusters` well-separated centers,
    * points = center + bounded noise — enough structure that a graph /
    * cluster ANN index genuinely helps, like the real SIFT1M profile. */
  def synthesize(nTrain: Int, nTest: Int, dim: Int, k: Int, nClusters: Int = 64)
      : (Array[Array[Float]], Array[Array[Float]], Array[Array[Int]]) = {
    def center(c: Int, j: Int): Float = unit(c.toLong * 1009 + j) * 8f
    def point(row: Long, c: Int): Array[Float] =
      Array.tabulate(dim)(j => center(c, j) + unit(row * 31 + j + 17))
    val train = Array.tabulate(nTrain)(i => point(i.toLong, i % nClusters))
    val test = Array.tabulate(nTest)(i => point(i.toLong + 7919L * 7919L, i % nClusters))
    val neighbors = test.map { q =>
      val dists = train.zipWithIndex.map { case (v, id) =>
        var s = 0.0; var j = 0
        while (j < dim) { val d = (q(j) - v(j)).toDouble; s += d * d; j += 1 }
        (s, id)
      }
      dists.sortBy(identity).take(k).map(_._2)
    }
    (train, test, neighbors)
  }

  case class ProtocolReport(
      n_train: Long, n_test: Long, dim: Int, k: Int, search_width: Int,
      source: String, build_ms: Long,
      mean_recall: Double, mean_recall_reloaded: Double,
      results_invariant: Boolean, npy_train_parity: Boolean, npy_test_parity: Boolean)

  /** Write the synthesized dataset as `<dir>/data.hdf5` plus
    * train/test `.npy` AND texmex `.fvecs`/`.ivecs` twins; returns the
    * (hdf5, npyTrain, npyTest) paths (texmex twins live alongside). */
  def writeDataset(dir: String, train: Array[Array[Float]],
      test: Array[Array[Float]], neighbors: Array[Array[Int]]): (String, String, String) = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val h5 = s"$dir/data.hdf5"
    Hdf5Writer.writeAnnBenchmarks(h5, train, test, neighbors)
    val npyTrain = s"$dir/train.npy"
    val npyTest = s"$dir/test.npy"
    Npy.writeVectors(npyTrain, train.iterator, train(0).length)
    Npy.writeVectors(npyTest, test.iterator, test(0).length)
    Fvecs.writeVectors(s"$dir/train.fvecs", train.iterator)
    Fvecs.writeVectors(s"$dir/test.fvecs", test.iterator)
    Fvecs.writeNeighbors(s"$dir/neighbors.ivecs", neighbors.iterator)
    (h5, npyTrain, npyTest)
  }

  private def contentParity(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** The full protocol over an already-written dataset. `source` picks the
    * ingestion path for train/test ("hdf5", "npy", or "fvecs" —
    * ground-truth neighbors read from the matching int source: the HDF5
    * dataset, except the fvecs face which reads the .ivecs twin). */
  def runProtocol(spark: SparkSession, dir: String, source: String,
      k: Int, searchWidth: Int): ProtocolReport = {
    val h5 = s"$dir/data.hdf5"
    val h5Train = Hdf5.readVectors(spark, h5, "train")
    val h5Test = Hdf5.readVectors(spark, h5, "test")
    val npyTrain = Npy.readVectors(spark, s"$dir/train.npy")
    val npyTest = Npy.readVectors(spark, s"$dir/test.npy")
    val fvTrain = Fvecs.readVectors(spark, s"$dir/train.fvecs")
    val fvTest = Fvecs.readVectors(spark, s"$dir/test.fvecs")
    // every twin must carry byte-identical vectors (all three formats are
    // raw little-endian float32 under different framing)
    val trainParity = contentParity(h5Train, npyTrain) && contentParity(h5Train, fvTrain)
    val testParity = contentParity(h5Test, npyTest) && contentParity(h5Test, fvTest)

    val corpus = source match {
      case "npy" => npyTrain
      case "fvecs" => fvTrain
      case _ => h5Train
    }
    val queries = (source match {
      case "npy" => npyTest
      case "fvecs" => fvTest
      case _ => h5Test
    }).select(col("id").as("query_id"), col("embedding"))
    val gt =
      if (source == "fvecs") Fvecs.readNeighbors(spark, s"$dir/neighbors.ivecs")
      else Hdf5.readNeighbors(spark, h5, "neighbors")
    val dim = corpus.select(size(col("embedding"))).head.getInt(0)

    // E1: exact distances to the ground-truth neighbors
    val refAnswer = RecallEval.referenceAnswer(gt, queries, corpus).cache()
    refAnswer.count()

    // build with the example's parameters (dehnsw_example.cpp:156)
    val t0 = System.nanoTime()
    val idx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 4, relaxedMonotonicity = 128, step = 4), numShards = 4)
      .optimize()
    val buildMs = (System.nanoTime() - t0) / 1000000

    def meanRecall(res: DataFrame): Double =
      RecallEval.recallByQuery(res, refAnswer, k)
        .agg(avg(col("recall"))).head.getDouble(0)

    val res = idx.query(queries, k, searchWidth).cache()
    val recall = meanRecall(res)

    // save → load → re-probe: the round-tripped index must answer
    // identically (dehnsw_example.cpp:212-230)
    val savePath = s"$dir/index_$source"
    idx.save(savePath)
    val reloaded = VectorIndex.load(spark, savePath)
    val res2 = reloaded.query(queries, k, searchWidth).cache()
    val invariant = contentParity(res, res2)
    val recall2 = meanRecall(res2)
    res.unpersist(); res2.unpersist(); refAnswer.unpersist()

    ProtocolReport(corpus.count(), queries.count(), dim, k, searchWidth,
      source, buildMs, recall, recall2, invariant, trainParity, testParity)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_annbench")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-annbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (train, test, neighbors) = synthesize(nTrain = 20000, nTest = 200, dim = 32, k = 10)
    writeDataset(dir, train, test, neighbors)
    val reports = Seq(
      runProtocol(spark, dir, "hdf5", k = 10, searchWidth = 64),
      runProtocol(spark, dir, "npy", k = 10, searchWidth = 64),
      runProtocol(spark, dir, "fvecs", k = 10, searchWidth = 64))
    reports.foreach { r =>
      println(
        s"""{"protocol":"ann-benchmarks","source":"${r.source}","n_train":${r.n_train},""" +
        s""""n_test":${r.n_test},"dim":${r.dim},"k":${r.k},"search_width":${r.search_width},""" +
        s""""build_ms":${r.build_ms},"mean_recall":${r.mean_recall},""" +
        s""""mean_recall_reloaded":${r.mean_recall_reloaded},""" +
        s""""results_invariant":${r.results_invariant},""" +
        s""""npy_parity":${r.npy_train_parity && r.npy_test_parity}}""")
      require(r.results_invariant, "save/load round trip changed probe results")
      require(r.npy_train_parity && r.npy_test_parity, "a format twin diverged from HDF5")
    }
    spark.stop()
  }
}
