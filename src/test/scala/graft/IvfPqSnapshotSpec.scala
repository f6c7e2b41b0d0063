package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{IvfPqParams, IvfPqSnapshot}

/** Gates for the IVF-PQ codes identity sidecar ([[IvfPqSnapshot]]):
  * round-trip, legacy acceptance (pre-sidecar snapshots carry no
  * params.json), hard error on knob mismatch (m-mismatched codes would
  * ADC-score garbage — the invariant naming conventions alone enforced
  * until round 19), hard error on a corrupt sidecar. */
class IvfPqSnapshotSpec extends AnyFunSuite with SparkSuite {

  test("params sidecar round-trips; legacy snapshots read as None") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_id_").toString
    try {
      assert(IvfPqSnapshot.readParams(spark, dir).isEmpty,
        "a pre-sidecar snapshot has no identity — legacy, not an error")
      val p = IvfPqParams("residual", 8192, 16, 256, "beam64")
      IvfPqSnapshot.writeParams(spark, dir, p)
      assert(IvfPqSnapshot.readParams(spark, dir) === Some(p))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("requireCompatible: legacy passes, matching passes, mismatch throws") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_id_").toString
    try {
      // legacy: no sidecar — naming convention remains the only identity
      IvfPqSnapshot.requireCompatible(spark, dir, "residual", 1024, 8, 256)
      IvfPqSnapshot.writeParams(spark, dir,
        IvfPqParams("residual", 1024, 8, 256, "argmin"))
      IvfPqSnapshot.requireCompatible(spark, dir, "residual", 1024, 8, 256)
      // the route is provenance, not a serve knob — never matched
      val mAfter = intercept[IllegalArgumentException] {
        IvfPqSnapshot.requireCompatible(spark, dir, "residual", 1024, 16, 256)
      }
      assert(mAfter.getMessage.contains("ADC-score garbage"))
      intercept[IllegalArgumentException] {
        IvfPqSnapshot.requireCompatible(spark, dir, "global", 1024, 8, 256)
      }
      intercept[IllegalArgumentException] {
        IvfPqSnapshot.requireCompatible(spark, dir, "residual", 8192, 8, 256)
      }
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("corpus identity: recorded corpus round-trips and a mismatch refuses to serve") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_id_").toString
    try {
      val corpus = """{"n":100000000,"dim":64,"n_clusters":100000,"sigma":0.05,"corpus_salt":29}"""
      IvfPqSnapshot.writeParams(spark, dir,
        IvfPqParams("residual", 8192, 16, 256, "beam64", corpus))
      assert(IvfPqSnapshot.readParams(spark, dir).get.corpus === corpus)
      // matching corpus passes; absent caller corpus passes (can't check)
      IvfPqSnapshot.requireCompatible(spark, dir, "residual", 8192, 16, 256,
        corpus)
      IvfPqSnapshot.requireCompatible(spark, dir, "residual", 8192, 16, 256)
      // a regenerated corpus at the same knobs-compatible snapshot is the
      // silent-garbage case the sidecar exists to refuse
      val other = corpus.replace("100000000", "10000000")
      val e = intercept[IllegalArgumentException] {
        IvfPqSnapshot.requireCompatible(spark, dir, "residual", 8192, 16, 256,
          other)
      }
      assert(e.getMessage.contains("different vectors"))
      // legacy sidecar (no corpus recorded): caller corpus passes — the
      // naming convention + knob match remain the only identity
      IvfPqSnapshot.writeParams(spark, dir,
        IvfPqParams("residual", 8192, 16, 256, "beam64"))
      IvfPqSnapshot.requireCompatible(spark, dir, "residual", 8192, 16, 256,
        corpus)
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("a non-object corpus identity is refused at write time") {
    // a bare fingerprint string would splice invalid JSON that the
    // reader's balanced-brace slice resolves to "" — the corpus gate
    // would then pass vacuously for EVERY reader; writeParams must
    // refuse instead of silently disarming the check
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_id_").toString
    try {
      val e = intercept[IllegalArgumentException] {
        IvfPqSnapshot.writeParams(spark, dir,
          IvfPqParams("residual", 1024, 8, 256, "argmin", corpus = "abc123"))
      }
      assert(e.getMessage.contains("JSON OBJECT"))
      // the documented wrapped form round-trips
      IvfPqSnapshot.writeParams(spark, dir,
        IvfPqParams("residual", 1024, 8, 256, "argmin",
          corpus = """{"fingerprint":"abc123"}"""))
      assert(IvfPqSnapshot.readParams(spark, dir).get.corpus ===
        """{"fingerprint":"abc123"}""")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("a corrupt sidecar is a hard error, not a silent legacy fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_id_").toString
    try {
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/params.json",
        """{"flavor":"residual","num_cents":1024""")
      val e = intercept[RuntimeException] {
        IvfPqSnapshot.readParams(spark, dir)
      }
      assert(e.getMessage.contains("corrupt"))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("codebook floats round-trip bit for bit; earlier params/codebooks bytes read back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_cb_").toString
    try {
      val rnd = new scala.util.Random(20261017L)
      def bits(): Float = {
        val f = java.lang.Float.intBitsToFloat(rnd.nextInt())
        if (f.isNaN) bits() else f
      }
      val (m, kEff, subDim) = (4, 64, 16)
      val flat = Array(0f, -0f, Float.MinPositiveValue, Float.MaxValue,
        Float.NegativeInfinity) ++ Array.fill(m * kEff * subDim - 5)(bits())
      val cents = Seq((0L, Array(0f, 1f))).toDF("centroid_id", "c_embedding")
      IvfPqSnapshot.writeParams(spark, dir, IvfPqParams("global", 1, m, 256, "argmin"))
      graft.operators.IvfPqServe.writeModel(spark, dir, cents, flat, kEff, subDim)
      val back = graft.operators.IvfPqServe.readModel(spark, dir)
      assert(back.flat.map(java.lang.Float.floatToRawIntBits).toSeq ===
        flat.map(java.lang.Float.floatToRawIntBits).toSeq)
      assert(back.kEff === kEff && back.subDim === subDim)
      // verbatim output of the pre-codec writers
      val corpus = """{"n":100000000,"dim":64,"n_clusters":100000,"sigma":0.05,"corpus_salt":29}"""
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/params.json",
        s"""{"flavor":"residual","num_cents":1,"m":2,"codewords":256,"route":"beam64","corpus":$corpus}""")
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/model/codebooks.json",
        """{"k_eff":2,"sub_dim":2,"flat":[0.1,-0.0,1.4E-45,3.4028235E38,-2.5,1.0E-7,123456.79,1.17549435E-38]}""")
      assert(IvfPqSnapshot.readParams(spark, dir) ===
        Some(IvfPqParams("residual", 1, 2, 256, "beam64", corpus)))
      val old = graft.operators.IvfPqServe.readModel(spark, dir)
      assert(old.flat.map(java.lang.Float.floatToRawIntBits).toSeq ===
        Array(0.1f, -0f, 1.4E-45f, 3.4028235E38f, -2.5f, 1.0E-7f, 123456.79f,
          1.17549435E-38f).map(java.lang.Float.floatToRawIntBits).toSeq)
      // a corpus identity keeps the caller's exact spelling
      val spaced = """{ "fingerprint" : "a}\"b", "v": 0.050 }"""
      IvfPqSnapshot.writeParams(spark, dir,
        IvfPqParams("residual", 1, 2, 256, "beam64", spaced))
      assert(IvfPqSnapshot.readParams(spark, dir).get.corpus === spaced)
      // a truncated codebooks.json names the file
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/model/codebooks.json",
        """{"k_eff":2,"sub_dim":2,"flat":[0.1,-0.0""")
      val e = intercept[IllegalArgumentException](
        graft.operators.IvfPqServe.readModel(spark, dir))
      assert(e.getMessage.contains(s"$dir/model/codebooks.json"))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }
}
