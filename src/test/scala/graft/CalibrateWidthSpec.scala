package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, VectorIndex}

/** Gates for [[VectorIndex.calibrateWidth]] — the self-driving width
  * sweep: the chosen width must meet the target on a DISJOINT holdout
  * sample (the point of calibrating), the chosen width is the smallest
  * candidate meeting the target on the calibration sample, and when no
  * width can meet the target the API falls back to 0 (= serve exact). */
class CalibrateWidthSpec extends AnyFunSuite with SparkSuite {

  private def vecs(n: Int, dim: Int, seedSalt: Long): Array[(Long, Array[Float])] =
    (0 until n).map { i =>
      val r = new scala.util.Random(i * 2654435761L + seedSalt)
      (i.toLong, Array.fill(dim)(r.nextFloat()))
    }.toArray

  private def tieTolerantRecall(
      idx: VectorIndex, sample: Array[(Long, Array[Float])], k: Int,
      width: Int): Double = {
    val probe = idx.queryBatchMultiWidth(sample, k, Seq(0, width).distinct)
      .select("search_width", "query_id", "rank", "distance")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // the shared E2 scoring rule — same implementation the operator and
    // the v59 gate use
    val (hits, denom) = VectorIndex.tieTolerantWidthHits(probe)
    if (width == 0) 1.0 else hits(width).toDouble / denom
  }

  test("chosen width meets the target on a disjoint holdout") {
    import spark.implicits._
    val dim = 16
    val corpus = vecs(4000, dim, 13).toSeq.toDF("id", "embedding")
    val idx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4),
      numShards = 4)
    val cal = vecs(40, dim, 101)
    val holdout = vecs(40, dim, 9001).map { case (id, v) => (id + 1000, v) }
    val target = 0.9
    val (chosen, curve) = idx.calibrateWidth(cal, k = 10, targetRecall = target,
      widths = Seq(2, 4, 8, 16, 32, 64))
    // smallest-meeting-target contract on the calibration sample
    assert(curve.exists(_._2 >= target), s"premise: some width meets $target: $curve")
    val smaller = curve.takeWhile(_._1 != chosen)
    assert(smaller.forall(_._2 < target), s"chosen $chosen not smallest: $curve")
    assert(curve.find(_._1 == chosen).get._2 >= target)
    // the generalization gate: the holdout (disjoint queries) also meets
    // the target, with a 5pp sampling allowance
    val holdoutRecall = tieTolerantRecall(idx, holdout, 10, chosen)
    assert(holdoutRecall >= target - 0.05,
      s"holdout recall $holdoutRecall at chosen width $chosen (curve $curve)")
  }

  test("unreachable target falls back to width 0 (serve exact)") {
    import spark.implicits._
    val dim = 16
    val corpus = vecs(4000, dim, 13).toSeq.toDF("id", "embedding")
    val idx = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4),
      numShards = 4)
    val cal = vecs(40, dim, 101)
    val (_, curve) = idx.calibrateWidth(cal, k = 10, targetRecall = 0.0,
      widths = Seq(1, 2))
    val maxReachable = curve.map(_._2).max
    assume(maxReachable < 1.0, "tiny widths must miss something for this test")
    val (chosen, _) = idx.calibrateWidth(cal, k = 10,
      targetRecall = math.min(1.0, maxReachable + 1e-9), widths = Seq(1, 2))
    assert(chosen === 0, s"expected exact fallback, got $chosen (max $maxReachable)")
  }

  test("calibrateWidthTo persists the operating point; read restores it exactly") {
    import spark.implicits._
    val dim = 16
    val corpus = vecs(2000, dim, 13).toSeq.toDF("id", "embedding")
    val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft_calib_").toString
    try {
      val idx = VectorIndex.buildTo(corpus, params, numShards = 4, s"$dir/snap")
      assert(VectorIndex.readCalibration(spark, s"$dir/snap").isEmpty,
        "a never-calibrated snapshot must read None")
      val cal = vecs(40, dim, 101)
      val target = 0.9
      val (chosen, curve) = idx.calibrateWidthTo(s"$dir/snap", cal, k = 10,
        targetRecall = target, widths = Seq(2, 4, 8, 16, 32, 64))
      val restored = VectorIndex.readCalibration(spark, s"$dir/snap").get
      // exact restore: ints verbatim, doubles via shortest-round-trip
      assert(restored.searchWidth === chosen)
      assert(restored.targetRecall === target)
      assert(restored.k === 10)
      assert(restored.curve === curve)
      assert(restored.sampleRecall ===
        curve.find(_._1 == chosen).map(_._2).getOrElse(1.0))
      // width 0 (exact fallback) persists sample recall 1.0
      val (c0, _) = idx.calibrateWidthTo(s"$dir/snap", cal, k = 10,
        targetRecall = 1.0 - 1e-12, widths = Seq(1))
      if (c0 == 0)
        assert(VectorIndex.readCalibration(spark, s"$dir/snap").get.sampleRecall === 1.0)
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("cross-face table round-trips; bestFace picks cheapest qualifying; pre-face sidecars parse") {
    import graft.index.{FacePoint, WidthCalibration}
    val dir = java.nio.file.Files.createTempDirectory("graft_faces_").toString
    try {
      val faces = Seq(
        FacePoint("exact", 0, 0.959, 136.0),
        FacePoint("beam", 256, 0.799, 26.0),
        FacePoint("ivfpq", 8, 0.722, 205.0))
      val cal = WidthCalibration(searchWidth = 256, targetRecall = 0.95,
        k = 10, sampleRecall = 0.799, curve = Seq(32 -> 0.5, 256 -> 0.799),
        faces = faces)
      VectorIndex.writeCalibration(spark, dir, cal)
      val restored = VectorIndex.readCalibration(spark, dir).get
      assert(restored === cal, "faces must round-trip exactly")
      // face selection: cheapest measured face meeting the target
      assert(restored.bestFace(0.95) === Some(faces.head),
        "only the exact face meets 0.95")
      assert(restored.bestFace(0.7) === Some(FacePoint("beam", 256, 0.799, 26.0)),
        "beam is the cheapest face meeting 0.7")
      assert(restored.bestFace(0.999).isEmpty, "no face meets 0.999")
      // a width-only calibration persists WITHOUT a face table and a
      // pre-face sidecar (same bytes) parses to faces = Nil
      VectorIndex.writeCalibration(spark, dir, cal.copy(faces = Nil))
      val legacy = VectorIndex.readCalibration(spark, dir).get
      assert(legacy.faces.isEmpty)
      assert(legacy.curve === cal.curve)
      assert(legacy.bestFace(0.5).isEmpty, "no evidence -> width-based fallback")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("FacePoint artifact identity round-trips; pre-artifact sidecars parse") {
    import graft.index.{FacePoint, WidthCalibration}
    val dir = java.nio.file.Files.createTempDirectory("graft_faceid_").toString
    try {
      // artifact descriptors carry paths + knobs + measurement context;
      // quotes/backslashes must survive the JSON round-trip
      val faces = Seq(
        FacePoint("exact", 0, 0.959, 142.5),
        FacePoint("refine", 256, 0.97, 14.0, "pool=100 base=corpus"),
        FacePoint("ivfpq_residual", 8, 0.98, 579.8,
          """/tmp/clustered/ivfpq_residual_c1024_m16 m=16 pool=2000 "faces"-jvm"""))
      val cal = WidthCalibration(0, 0.95, 10, 1.0, Seq(256 -> 0.937), faces)
      VectorIndex.writeCalibration(spark, dir, cal)
      val restored = VectorIndex.readCalibration(spark, dir).get
      assert(restored === cal, "artifact-bearing faces must round-trip exactly")
      // bestFace surfaces the artifact with the winning point
      assert(restored.bestFace(0.96).get.artifact === "pool=100 base=corpus")
      // a PRE-ARTIFACT sidecar (4-element face entries, the r18 format)
      // parses with artifact = "" — hand-written bytes, not re-serialized
      VectorIndex.writeSmallFile(spark, s"$dir/calibration.json",
        """{"search_width":0,"target_recall":0.95,"k":10,""" +
          """"sample_recall":1.0,"curve":[[256,0.937]],""" +
          """"faces":[["exact",0,0.959,142.5],["beam",256,0.937,12.1]]}""")
      val preId = VectorIndex.readCalibration(spark, dir).get
      assert(preId.faces === Seq(FacePoint("exact", 0, 0.959, 142.5),
        FacePoint("beam", 256, 0.937, 12.1)),
        "pre-artifact 4-element face entries must parse with empty artifact")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("structured FaceArtifact refs round-trip; bracketed free text cannot corrupt the curve") {
    import graft.index.{FaceArtifact, FacePoint, WidthCalibration}
    val dir = java.nio.file.Files.createTempDirectory("graft_faceref_").toString
    try {
      // the machine-readable half FaceServer dispatches on — paths and
      // knob values with quotes/backslashes must survive the DOUBLE
      // escaping (value-level inside the ref JSON, embedding-level when
      // the ref rides as a quoted face element)
      val ref = FaceArtifact("""/tmp/sto"re\base""",
        Map("pool" -> "100", "fetch" -> "point", "note" -> """q"v\x"""))
      val ivfRef = FaceArtifact("/tmp/clustered/ivfpq_residual_c8192_m16_r64",
        Map("base" -> "/tmp/clustered/base", "pool" -> "500"))
      // free text containing a bracketed numeric pattern ([8,0.5] — a
      // knob note) must NOT be parsed as a curve point
      val faces = Seq(
        FacePoint("exact", 0, 0.959, 136.0),
        FacePoint("refine", 256, 0.994, 34.9,
          "pool=100 base=store sweep [8,0.5] note", Some(ref)),
        FacePoint("ivfpq_residual", 8, 0.993, 262.0, "m=16", Some(ivfRef)))
      val cal = WidthCalibration(0, 0.95, 10, 1.0,
        Seq(32 -> 0.5, 256 -> 0.799), faces)
      VectorIndex.writeCalibration(spark, dir, cal)
      val restored = VectorIndex.readCalibration(spark, dir).get
      assert(restored === cal, "ref-bearing faces must round-trip exactly")
      assert(restored.curve === Seq(32 -> 0.5, 256 -> 0.799),
        "the bracketed free-text pattern leaked into the curve")
      assert(restored.bestFace(0.99).get.ref === Some(ref))
      // FaceArtifact's own JSON round-trip, standalone
      assert(FaceArtifact.fromJson(ref.toJson) === Some(ref))
      assert(FaceArtifact.fromJson("not json").isEmpty)
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("calibration.json bytes of the earlier string writer read to the same values") {
    import graft.index.{FaceArtifact, FacePoint, WidthCalibration}
    val dir = java.nio.file.Files.createTempDirectory("graft_calfix_").toString
    try {
      // verbatim output of the pre-codec writer: 4-, 5- and 6-element
      // face entries, escaped refs (one with an empty artifact slot),
      // quotes, backslashes and non-ASCII text at both escaping levels
      VectorIndex.writeSmallFile(spark, s"$dir/calibration.json",
        """{"search_width":256,"target_recall":0.95,"k":10,"sample_recall":0.799,"curve":[[32,0.5],[256,0.799]],"faces":[["exact",0,0.959,136.0],["refine",256,0.994,34.9,"pool=100 sweep [8,0.5] \"q\" \\x é"],["ivfpq_residual",8,0.993,262.0,"m=16","{\"path\":\"/tmp/sto\\\"re\\\\base é漢\",\"knobs\":{\"fetch\":\"point\",\"note\":\"q\\\"v\\\\x ü\",\"pool\":\"100\"}}"],["beam",64,0.9,12.0,"","{\"path\":\"/snap\",\"knobs\":{}}"]]}""")
      val ref = FaceArtifact("/tmp/sto\"re\\base é漢",
        Map("pool" -> "100", "note" -> "q\"v\\x ü", "fetch" -> "point"))
      val want = WidthCalibration(256, 0.95, 10, 0.799,
        Seq(32 -> 0.5, 256 -> 0.799), Seq(
          FacePoint("exact", 0, 0.959, 136.0),
          FacePoint("refine", 256, 0.994, 34.9,
            "pool=100 sweep [8,0.5] \"q\" \\x é"),
          FacePoint("ivfpq_residual", 8, 0.993, 262.0, "m=16", Some(ref)),
          FacePoint("beam", 64, 0.9, 12.0, "", Some(FaceArtifact("/snap")))))
      assert(VectorIndex.readCalibration(spark, dir) === Some(want))
      // and what the codec writes back reads to the same value
      VectorIndex.writeCalibration(spark, dir, want)
      assert(VectorIndex.readCalibration(spark, dir) === Some(want))
      // an integer recall, a wrong-typed slot or a truncated file: None
      VectorIndex.writeSmallFile(spark, s"$dir/calibration.json",
        """{"search_width":0,"target_recall":1,"k":10,"sample_recall":1,"curve":[[0,1]]}""")
      assert(VectorIndex.readCalibration(spark, dir).map(_.curve) ===
        Some(Seq(0 -> 1.0)))
      Seq("""{"search_width":0,"target_recall":0.9,"k":10,"sample_recall":1.0,"curve":[[0,1.0]],"faces":[["exact","x",1.0,2.0]]}""",
          """{"search_width":0,"target_recall":0.9,"k":10,"sample_recall":1.0,"curve":[[0,1.0]],"faces":[["exact",0,1.0]]}""",
          """{"search_width":0,"target_recall":0.9,"k":10,"sample_recall":1.0,"cur""")
        .foreach { text =>
          VectorIndex.writeSmallFile(spark, s"$dir/calibration.json", text)
          assert(VectorIndex.readCalibration(spark, dir).isEmpty, text)
        }
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("large query ids decode exactly: multi-width rows and the calibrateWidth curve do not depend on the id") {
    import spark.implicits._
    val dim = 8
    val idx = VectorIndex.build(vecs(600, dim, 13).toSeq.toDF("id", "embedding"),
      IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4), numShards = 2)
    val sample = vecs(30, dim, 101)
    // calibrateWidth's default: width 0 plus 9 widths, 10 in all
    val widths = Seq(2, 4, 8, 16, 32, 64, 128, 256, 512)
    def shifted(offset: Long) = sample.map { case (id, v) => (id + offset, v) }
    def rows(offset: Long) = idx.queryBatchMultiWidth(shifted(offset), 10, 0 +: widths)
      .collect().map(r => (r.getInt(0), r.getLong(1) - offset, r.getInt(2), r.getLong(3))).toSet
    val small = rows(0L)
    val (_, smallCurve) = idx.calibrateWidth(sample, 10, 0.9, widths)
    assert(small.size == 30 * 10 * 10)
    for (offset <- Seq(1000000000000000L, 3000000000000007L, 10000000000000000L)) {
      assert(rows(offset) == small, s"ids offset by $offset decode to other rows")
      assert(idx.calibrateWidth(shifted(offset), 10, 0.9, widths)._2 == smallCurve,
        s"ids offset by $offset change the calibration curve")
    }
    // the largest id whose merge key (id x 10 + width position) fits a long
    val top = (Long.MaxValue - 9) / 10
    assert(rows(top - 29) == small, "the largest ids decode to other rows")
    val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](
      idx.queryBatchMultiWidth(shifted(top - 28), 10, 0 +: widths)))
    assert(e.getMessage.contains(s"query ${top + 1}"), e.getMessage)
    assert(jobs == 0, s"the rejection ran $jobs jobs")
    idx.unpersist()
  }
}
