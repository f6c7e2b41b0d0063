package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{FaceArtifact, FacePoint, FaceServer, IndexParams, VectorIndex}
import graft.operators.{IvfKnn, IvfPqParams, IvfPqServe, IvfPqSnapshot, PqKnn}
import graft.sources.BaseStore

/** Gates for [[FaceServer]] — bestFace made actionable end-to-end — and
  * for [[IvfPqServe]]'s snapshot-alone serving:
  *  - each face kind dispatches to the serve its measurement promised
  *    (exact / beam / refine-from-store / ivfpq-from-codes+model),
  *    verified against the direct API calls;
  *  - a face whose serve needs a missing artifact is a CLEAR error,
  *    never a silent fallback to a different recall/latency point;
  *  - IvfPqServe with every cell probed and an exhaustive pool == the
  *    float-exact kNN (the rerank is exact over everything), and its
  *    model round-trips through disk. */
class FaceServerSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dim = 8
  private def mkCorpus(n: Int) = (0L until n.toLong).map { id =>
    val r = new scala.util.Random(id * 2654435761L + 77)
    (id, Array.fill(dim)(r.nextFloat()))
  }
  private def floatTopK(corpus: Seq[(Long, Array[Float])],
      q: Array[Float], k: Int): Seq[Long] =
    corpus.map { case (id, v) =>
      var acc = 0.0; var i = 0
      while (i < v.length) { val d = v(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
      (acc, id)
    }.sorted.take(k).map(_._2)

  test("each face dispatches to its measured serve; missing artifacts are clear errors") {
    val corpus = mkCorpus(600)
    val corpusDf = corpus.toDF("id", "embedding")
    val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16,
      step = 4, quantized = true, quantLo = 0f, quantHi = 1f)
    val qdf = (0L until 4L).map { qid =>
      val r = new scala.util.Random(qid * 104729 + 3)
      (qid, Array.fill(dim)(r.nextFloat()))
    }.toDF("query_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_faceserve_").toString
    try {
      val idx = VectorIndex.buildTo(corpusDf, params, numShards = 4,
        s"$dir/snap")
      BaseStore.publish(corpusDf, s"$dir/base", files = 4)
      // a hand-pinned face table: recalls/latencies chosen so each
      // target below selects a DIFFERENT face deterministically
      val refineRef = FaceArtifact(s"$dir/base",
        Map("pool" -> "40", "fetch" -> "point"))
      idx.calibrateWidthTo(s"$dir/snap", (0L until 4L).map { qid =>
        val r = new scala.util.Random(qid * 104729 + 3)
        (qid, Array.fill(dim)(r.nextFloat()))
      }.toArray, k = 10, targetRecall = 0.9, widths = Seq(4, 8))
      val cal0 = VectorIndex.readCalibration(spark, s"$dir/snap").get
      val faces = Seq(
        FacePoint("exact", 0, 1.0, 100.0),
        FacePoint("beam", 8, 0.90, 10.0),
        FacePoint("refine", 4, 0.98, 20.0, "pool=40 base=store",
          Some(refineRef)))
      VectorIndex.writeCalibration(spark, s"$dir/snap",
        cal0.copy(faces = faces))

      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "rank", "neighbor_id")
          .as[(Long, Int, Long)].collect().toSet
      // target 0.99 → only exact qualifies
      assert(pairs(FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.99))
        === pairs(idx.query(qdf, 10, 0)))
      // target 0.95 → refine (20 ms) beats exact (100 ms)
      assert(pairs(FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.95))
        === pairs(idx.queryRefinedFromStore(qdf, s"$dir/base", 10,
          pool = 40, searchWidth = 4)))
      // target 0.85 → beam (10 ms) is cheapest
      assert(pairs(FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.85))
        === pairs(idx.query(qdf, 10, 8)))
      // no face meets 0.999+ → clear error naming the faces
      val none = intercept[RuntimeException] {
        FaceServer.serve(spark, s"$dir/snap", qdf, 10, 1.1)
      }
      assert(none.getMessage.contains("no measured face"))
      // a refine face WITHOUT its structured artifact must not silently
      // serve something else
      VectorIndex.writeCalibration(spark, s"$dir/snap", cal0.copy(faces =
        Seq(FacePoint("refine", 4, 0.98, 20.0, "pool=40 (pre-structured)"))))
      val noRef = intercept[RuntimeException] {
        FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.95)
      }
      assert(noRef.getMessage.contains("no structured artifact"))
      // an uncalibrated snapshot is an error, not a default serve
      val bare = intercept[RuntimeException] {
        FaceServer.serve(spark, s"$dir/nothere", qdf, 10, 0.9)
      }
      assert(bare.getMessage.contains("calibration"))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("IvfPqServe: model round-trips; all-cells + exhaustive pool == float exact; ivfpq face dispatches") {
    val n = 400
    val corpus = mkCorpus(n)
    val corpusDf = corpus.toDF("id", "embedding").cache()
    val queries = (0L until 3L).map { qid =>
      val r = new scala.util.Random(qid * 7 + 13)
      (qid, Array.fill(dim)(r.nextFloat()))
    }
    val qdf = queries.toDF("query_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfserve_").toString
    try {
      // encode a small GLOBAL-flavor snapshot the way ClusteredBench does
      val numCents = 4; val m = 4; val codewords = 16
      val cents = IvfKnn.trainedCentroids(corpusDf, numCents, iterations = 2)
        .cache()
      val (flat, kEff, subDim) = PqKnn.trainCodebooks(corpusDf, codewords, m,
        iterations = 2)
      val snapDir = s"$dir/ivfpq_global_c$numCents"
      IvfKnn.assign(corpusDf, cents)
        .select(col("id").as("neighbor_id"), col("cell"),
          graft.functions.PqFunctions.encode(col("embedding"), flat, m, kEff,
            subDim).as("codes"))
        .write.parquet(s"$snapDir/codes")
      IvfPqSnapshot.writeParams(spark, snapDir,
        IvfPqParams("global", numCents, m, codewords, "argmin"))
      // model must exist before serve; writeModel requires the sidecar
      intercept[RuntimeException] {
        IvfPqServe.readModel(spark, snapDir)
      }
      IvfPqServe.writeModel(spark, snapDir, cents, flat, kEff, subDim)
      val model = IvfPqServe.readModel(spark, snapDir)
      assert(model.flat.toSeq === flat.toSeq, "codebooks round-trip bit-exactly")
      assert(model.kEff === kEff && model.subDim === subDim)
      assert(model.params.m === m)

      // every cell probed + pool covering the corpus: the ADC stage can
      // drop nothing, the exact rerank orders everything → float exact
      val got = IvfPqServe.serve(spark, snapDir, qdf, corpusDf, k = 10,
          nprobe = numCents, pool = n)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
      val want = queries.flatMap { case (qid, q) =>
        floatTopK(corpus, q, 10).zipWithIndex.map { case (id, i) =>
          (qid, i + 1, id) }
      }.toSet
      assert(got === want, "all-cells + full-pool IvfPqServe must be exact")

      // the ivfpq face dispatch: graph snapshot + face table pointing at
      // the codes snapshot and the base store
      val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16,
        step = 4)
      val idx = VectorIndex.buildTo(corpusDf, params, numShards = 2,
        s"$dir/snap")
      BaseStore.publish(corpusDf, s"$dir/base", files = 2)
      idx.calibrateWidthTo(s"$dir/snap", queries.toArray, k = 10,
        targetRecall = 0.9, widths = Seq(8))
      val cal0 = VectorIndex.readCalibration(spark, s"$dir/snap").get
      VectorIndex.writeCalibration(spark, s"$dir/snap", cal0.copy(faces = Seq(
        FacePoint("ivfpq_global", numCents, 1.0, 50.0, "spec",
          Some(FaceArtifact(snapDir,
            Map("base" -> s"$dir/base", "pool" -> s"$n")))))))
      val served = FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.99)
        .select("query_id", "rank", "neighbor_id")
        .as[(Long, Int, Long)].collect().toSet
      assert(served === want, "ivfpq face must serve codes+model+store")
      // missing 'base' knob: clear error, not a rerank against nothing
      VectorIndex.writeCalibration(spark, s"$dir/snap", cal0.copy(faces = Seq(
        FacePoint("ivfpq_global", numCents, 1.0, 50.0, "spec",
          Some(FaceArtifact(snapDir, Map("pool" -> s"$n")))))))
      val noBase = intercept[RuntimeException] {
        FaceServer.serve(spark, s"$dir/snap", qdf, 10, 0.99)
      }
      assert(noBase.getMessage.contains("'base' knob"))
    } finally {
      corpusDf.unpersist()
      graft.streaming.StreamingOps.deleteRecursively(dir)
    }
  }

  test("FaceArtifact paths and knobs with quotes, backslashes and non-ASCII text round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_faceart_").toString
    try {
      val awkward = Seq("plain", "q\"uote", "back\\slash", "\\\"", "\"\\\"",
        "é漢ü — ✓", "{\"nested\":[1,2]}", "tab\tnew\nline", "")
      val refs = awkward.map(s => FaceArtifact(s"/tmp/$s/snap",
        awkward.map(k => s"k$k" -> s"v$k").toMap))
      refs.foreach(r => assert(FaceArtifact.fromJson(r.toJson) === Some(r)))
      val cal = graft.index.WidthCalibration(0, 0.9, 10, 1.0, Seq(0 -> 1.0),
        refs.zipWithIndex.map { case (r, i) =>
          FacePoint(s"f$i", i, 0.9, 1.5, awkward(i), Some(r)) })
      VectorIndex.writeCalibration(spark, dir, cal)
      assert(VectorIndex.readCalibration(spark, dir) === Some(cal))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }
}
