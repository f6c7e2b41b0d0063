package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, VectorIndex}

/** SQ8-quantized graph index (IndexParams.quantized): exact-mode probe ==
  * quantized brute force (the same integer semantics v21 oracles), beam
  * recall rises toward exact, and save/load round-trips to identical
  * results (byte-stable re-quantization of the dequantized rows). */
class QuantizedIndexSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val corpus = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding"))
  private lazy val queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding"))
  private val p = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32,
    step = 2, quantized = true)
  private lazy val index = VectorIndex.build(corpus, p, numShards = 2)

  test("exact probe over the quantized index equals quantized brute-force kNN (v21)") {
    val viaIndex = Queries.v23Sq8Index(spark, sfDir)
    val bruteForce = Queries.v21Sq8Knn(spark, sfDir)
    assert(viaIndex.exceptAll(bruteForce).count() === 0)
    assert(bruteForce.exceptAll(viaIndex).count() === 0)
  }

  test("quantized distances are integers and beam recall rises toward exact") {
    val exact = index.query(queries, k = 10, searchWidth = 0)
    val exactRows = exact.collect()
    assert(exactRows.forall(r => r.getDouble(r.fieldIndex("distance")).isWhole),
      "quantized distances must be exact integers")
    val exactSet = exactRows
      .map(r => (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("neighbor_id"))))
      .toSet
    val recalls = Seq(2, 8, 32).map { sw =>
      val got = index.query(queries, k = 10, searchWidth = sw)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactSet intersect got).size.toDouble / exactSet.size
    }
    assert(recalls.sliding(2).forall(w => w(1) >= w(0) - 1e-9),
      s"recall not monotone: $recalls")
    assert(recalls.last >= 0.9, s"recall@sw=32 = ${recalls.last}")
  }

  test("quantized index save/load round-trips to identical probe results") {
    withTempDir("graft_quant_idx_") { dir =>
      index.save(dir)
      val loaded = VectorIndex.load(spark, dir)
      assert(loaded.params.quantized && loaded.params.quantLo == p.quantLo &&
        loaded.params.quantHi == p.quantHi, "quantization params must persist")
      val before = index.query(queries, k = 10, searchWidth = 0)
      val after = loaded.query(queries, k = 10, searchWidth = 0)
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)
    }
  }

  test("quantized append equals the full quantized rebuild") {
    val base = emb.filter(col("vec_id") >= 10 && col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding"))
    val extra = emb.filter(col("vec_id") >= 300)
      .select(col("vec_id").as("id"), col("embedding"))
    val appended = VectorIndex.build(base, p, numShards = 2).append(extra)
    val full = VectorIndex.build(base.union(extra), p, numShards = 2)
    assert(appended.rows.exceptAll(full.rows).count() === 0,
      "quantized append must equal the full quantized rebuild")
    assert(full.rows.exceptAll(appended.rows).count() === 0)
  }

  test("auto-calibrated range keeps recall on a wide-range corpus where the default collapses") {
    // rescale the corpus far outside the default [-0.5, 0.5] range
    val wide = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => (x.cast("double") * 20 + 3).cast("float")).as("embedding"))
    val wCorpus = wide.filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding"))
    val wQueries = wide.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
    // true neighbors: float exact kNN on the wide corpus
    val truth = VectorIndex
      .build(wCorpus, p.copy(quantized = false), numShards = 2)
      .query(wQueries, k = 10, searchWidth = 0)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(ix: VectorIndex): Double = {
      val got = ix.query(wQueries, k = 10, searchWidth = 0)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val calibrated = VectorIndex.buildAutoQuantized(wCorpus, p, numShards = 2)
    assert(calibrated.params.quantLo < -0.5f && calibrated.params.quantHi > 0.5f,
      s"calibration should widen the range, got [${calibrated.params.quantLo}, ${calibrated.params.quantHi}]")
    val rCal = recallOf(calibrated)
    val rDefault = recallOf(VectorIndex.build(wCorpus, p, numShards = 2))
    assert(rCal >= 0.9, s"calibrated recall@10 = $rCal")
    assert(rDefault < rCal,
      s"default-range recall $rDefault should collapse below calibrated $rCal")
    // the calibrated range persists through save/load (params.json sidecar)
    withTempDir("graft_cal_idx_") { dir =>
      calibrated.save(dir)
      val loaded = VectorIndex.load(spark, dir)
      assert(loaded.params.quantLo == calibrated.params.quantLo &&
        loaded.params.quantHi == calibrated.params.quantHi)
      assert(recallOf(loaded) == rCal)
    }
  }

  test("quantized mode rejects non-Euclidean metrics") {
    import graft.functions.DistanceMetric
    assertThrows[IllegalArgumentException] {
      IndexParams(metric = DistanceMetric.Cosine, quantized = true)
    }
  }

  // ---- normalizeForCosine: SQ8 index serving cosine retrieval (v51) ----

  private lazy val cosIndex = VectorIndex.buildAutoQuantized(corpus,
    IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2,
      normalizeForCosine = true), numShards = 2)

  test("normalized quantized exact probe ranks like float cosine brute force") {
    import graft.functions.VectorFunctions
    // float cosine ground truth
    val q = queries.select(col("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col("id").as("neighbor_id"), col("embedding").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("d"), col("neighbor_id"))
    val gt = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("neighbor_id"),
        VectorFunctions.cosineDistance(col("qe"), col("ce")).as("d"))
      .withColumn("r", row_number().over(w)).filter(col("r") <= 10)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = cosIndex.query(queries, k = 10, searchWidth = 0)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (gt intersect got).size.toDouble / gt.size
    assert(overlap >= 0.95,
      s"SQ8-cosine exact probe only matches float cosine at $overlap")
  }

  test("cosine beam recall rises toward the quantized-exact ceiling") {
    val exactSet = cosIndex.query(queries, k = 10, searchWidth = 0)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recalls = Seq(2, 8, 32).map { sw =>
      val got = cosIndex.query(queries, k = 10, searchWidth = sw)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exactSet intersect got).size.toDouble / exactSet.size
    }
    assert(recalls.sliding(2).forall(w => w(1) >= w(0) - 1e-9),
      s"recall not monotone: $recalls")
    assert(recalls.last >= 0.9, s"recall@sw=32 = ${recalls.last}")
  }

  test("normalizeForCosine survives save/load and append == full rebuild") {
    withTempDir("graft_cos_idx_") { dir =>
      cosIndex.save(dir)
      val loaded = VectorIndex.load(spark, dir)
      assert(loaded.params.normalizeForCosine, "flag must persist in params.json")
      val before = cosIndex.query(queries, k = 10, searchWidth = 0)
      val after = loaded.query(queries, k = 10, searchWidth = 0)
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)
      // append path: recovered rows must NOT be re-normalized — the
      // incremental index must equal a clean rebuild over the union
      val half1 = corpus.filter(col("id") % 2 === 0)
      val half2 = corpus.filter(col("id") % 2 === 1)
      val p2 = cosIndex.params
      val incr = VectorIndex.build(half1, p2, numShards = 2).append(half2)
      val full = VectorIndex.build(corpus, p2, numShards = 2)
      val a = incr.query(queries, k = 10, searchWidth = 0)
      val b = full.query(queries, k = 10, searchWidth = 0)
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
    }
  }

  test("normalizeForCosine rejects non-Euclidean metrics and zero vectors stay finite") {
    import graft.functions.DistanceMetric
    assertThrows[IllegalArgumentException] {
      IndexParams(metric = DistanceMetric.Cosine, normalizeForCosine = true)
    }
    assertThrows[IllegalArgumentException] {
      IndexParams(metric = DistanceMetric.InnerProduct, normalizeForCosine = true)
    }
    // a zero vector has no direction: normalization must return it
    // unchanged (never NaN/Inf), and a probe against it stays finite
    val z = graft.functions.VectorFunctions.l2NormalizeArray(Array(0f, 0f, 0f))
    assert(z.forall(x => x == 0f))
    val v = graft.functions.VectorFunctions.l2NormalizeArray(Array(3f, 4f))
    assert(math.abs(v(0) - 0.6f) < 1e-6 && math.abs(v(1) - 0.8f) < 1e-6)
  }

  test("quantLo/quantHi/mipsMaxNorm round-trip params.json bit for bit") {
    import graft.index.Sidecar.IndexParamsFile
    val rnd = new scala.util.Random(20261017L)
    def bits(): Float = {
      val f = java.lang.Float.intBitsToFloat(rnd.nextInt())
      if (f.isNaN) bits() else f
    }
    val edge = Seq(0f, -0f, Float.MinPositiveValue, -Float.MinPositiveValue,
      java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.MinValue,
      Float.PositiveInfinity, Float.NegativeInfinity, 0.1f, 1e-7f)
    val fs = edge ++ Seq.fill(30000)(bits())
    fs.grouped(3).foreach { g =>
      val f = IndexParamsFile("euclidean2", 8, 32, 2, 1000L, 2,
        quantLo = g(0), quantHi = g(1 % g.length), mipsMaxNorm = g(2 % g.length),
        indexId = "x")
      val back = graft.index.Sidecar.decode[IndexParamsFile](
        graft.index.Sidecar.encode(f))
      Seq(f.quantLo -> back.quantLo, f.quantHi -> back.quantHi,
          f.mipsMaxNorm -> back.mipsMaxNorm).foreach { case (a, b) =>
        assert(java.lang.Float.floatToRawIntBits(a) ===
          java.lang.Float.floatToRawIntBits(b), s"$a read back as $b")
      }
    }
  }

  test("params.json bytes of the earlier string writer load to the same params") {
    withTempDir("graft_paramsfix_") { dir =>
      index.save(dir)
      def loadWith(text: String) = {
        VectorIndex.writeSmallFile(spark, s"$dir/params.json", text)
        VectorIndex.load(spark, dir, cache = false)
      }
      // verbatim multi-line output of the pre-codec writer
      val full = loadWith(
        """{"metric":"euclidean2","minimumConnect":8,
          |"relaxedMonotonicity":32,"step":2,
          |"subIndexBound":10000000,"numShards":2,
          |"schedule":"0:4:16;1000:8:32",
          |"quantized":true,"quantLo":-1.17549435E-38,"quantHi":3.4028235E38,
          |"normalizeForCosine":false,
          |"augmentForMips":false,"mipsMaxNorm":0.0,
          |"indexId":"idx-1"}""".stripMargin)
      assert(full.numShards === 2)
      assert(full.params === IndexParams(minimumConnect = 8,
        relaxedMonotonicity = 32, step = 2, subIndexBound = 10000000L,
        schedule = Seq(graft.index.ParamStep(0, 4, 16),
          graft.index.ParamStep(1000, 8, 32)),
        quantized = true, quantLo = -1.17549435E-38f, quantHi = 3.4028235E38f))
      val mips = loadWith(
        """{"metric":"euclidean2","minimumConnect":4,
          |"relaxedMonotonicity":16,"step":1,
          |"subIndexBound":10000000,"numShards":1,
          |"schedule":"",
          |"quantized":false,"quantLo":-0.5,"quantHi":0.5,
          |"normalizeForCosine":false,
          |"augmentForMips":true,"mipsMaxNorm":1.4E-45,
          |"indexId":"mips-1"}""".stripMargin)
      assert(mips.params.augmentForMips &&
        mips.params.mipsMaxNorm == Float.MinPositiveValue)
      // a save from before the optional keys existed: defaults apply
      val old = loadWith(
        """{"metric":"euclidean2","minimumConnect":8,
          |"relaxedMonotonicity":32,"step":2,
          |"subIndexBound":10000000,"numShards":2,
          |"indexId":"old-1"}""".stripMargin)
      assert(old.params === IndexParams(minimumConnect = 8,
        relaxedMonotonicity = 32, step = 2, subIndexBound = 10000000L))
      assert(old.numShards === 2)
    }
  }
}
