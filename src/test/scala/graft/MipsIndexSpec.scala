package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{DistanceMetric, VectorFunctions}
import graft.index.{IndexParams, VectorIndex}
import graft.operators.ExactKnn

/** MIPS-augmented graph index (IndexParams.augmentForMips): the
  * augmented-dimension reduction (corpus x -> [x, sqrt(M² − |x|²)],
  * query q -> [q, 0]) makes the ascending-L2 beam return
  * maximum-inner-product neighbors. Exact-mode probe must reproduce the
  * exact inner-product kNN ranking (v33 semantics); the transform params
  * must survive save/load (a MIPS index that reloads with augmentation
  * off probes d-dim queries against a (d+1)-dim corpus); and the index
  * must refuse bit-identical rewrite substitution (probeNormalized). */
class MipsIndexSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val corpus = emb.filter(col("vec_id") >= 10)
    .select(col("vec_id").as("id"), col("embedding"))
  private lazy val queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding"))
  private lazy val index = VectorIndex.buildMips(corpus,
    IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2), numShards = 2)

  test("calibrateMipsNorm bounds every corpus norm (with slack)") {
    val m = VectorIndex.calibrateMipsNorm(corpus)
    val maxNorm = corpus.select(
      max(sqrt(aggregate(col("embedding"), lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))).head.getDouble(0)
    assert(m.toDouble >= maxNorm, s"calibrated $m < corpus max norm $maxNorm")
    assert(m.toDouble <= maxNorm * 1.01, s"calibrated $m overshoots $maxNorm")
  }

  test("exact probe equals exact inner-product kNN (ranking)") {
    val viaIndex = index.query(queries, k = 10, searchWidth = 0)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    val gt = ExactKnn.knnJoin(queries, corpus, k = 10, DistanceMetric.InnerProduct)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
    assert(viaIndex.exceptAll(gt).count() === 0)
    assert(gt.exceptAll(viaIndex).count() === 0)
  }

  test("probe distances live in the augmented-L2 domain: M² + |q|² − 2⟨q,x⟩") {
    val m2 = index.params.mipsMaxNorm.toDouble * index.params.mipsMaxNorm
    val got = index.query(queries, k = 10, searchWidth = 0)
      .join(queries.select(col("query_id"), col("embedding").as("qe")), Seq("query_id"))
      .join(corpus.select(col("id").as("neighbor_id"), col("embedding").as("ce")),
        Seq("neighbor_id"))
      .select(col("distance"),
        aggregate(col("qe"), lit(0.0d), (a, x) => a + x.cast("double") * x.cast("double"))
          .as("qn2"),
        VectorFunctions.innerProductDistance(col("qe"), col("ce")).as("ipd"))
      .collect()
    got.foreach { r =>
      // innerProductDistance = 1 − ⟨q,x⟩  ⇒  expected = M² + |q|² − 2(1 − ipd)
      val expected = m2 + r.getDouble(1) - 2.0 * (1.0 - r.getDouble(2))
      assert(math.abs(r.getDouble(0) - expected) <= 1e-3 * math.max(1.0, math.abs(expected)),
        s"distance ${r.getDouble(0)} != augmented form $expected")
    }
  }

  test("save/load persists augmentForMips + mipsMaxNorm and round-trips probes") {
    withTempDir("graft_mips_idx_") { dir =>
      index.save(dir)
      val loaded = VectorIndex.load(spark, dir)
      assert(loaded.params.augmentForMips, "augmentForMips must persist")
      assert(loaded.params.mipsMaxNorm === index.params.mipsMaxNorm,
        "mipsMaxNorm must persist bit-exactly")
      val before = index.query(queries, k = 10, searchWidth = 0)
      val after = loaded.query(queries, k = 10, searchWidth = 0)
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)
    }
  }

  test("a transformed index refuses bit-identical rewrite substitution") {
    assert(index.probeNormalized,
      "augmentForMips must set probeNormalized — AnnRewrite would otherwise " +
        "substitute augmented-domain distances for a raw squaredL2 ORDER BY")
  }

  test("append rejects a vector whose norm exceeds the calibrated bound") {
    val hot = corpus.limit(1).select(col("id") + 1000000L,
      transform(col("embedding"), x => x * 100f).as("embedding"))
      .toDF("id", "embedding")
    val e = intercept[Exception] { index.append(hot).rows.count() }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("mipsMaxNorm")), s"unexpected error: $e")
  }
}
