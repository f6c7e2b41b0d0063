package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, VectorIndex}
import graft.operators.{ExactKnn, RecallEval}

class DehnswSpec extends AnyFunSuite with SparkSuite {

  private lazy val corpus = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") >= 50).select(col("vec_id").as("id"), col("embedding"))
  private lazy val queries = Tables.embeddings(spark, sfDir)
    .filter(col("vec_id") < 20).select(col("vec_id").as("query_id"), col("embedding"))
  private lazy val index = VectorIndex.build(corpus,
    IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2), numShards = 4)
  private lazy val exact = ExactKnn.knnJoin(queries, corpus, k = 10).cache()

  private def recallAt(searchWidth: Int): Double = {
    val res = index.query(queries, k = 10, searchWidth)
    val r = RecallEval.recallByQuery(res, exact, k = 10)
      .agg(avg(col("recall"))).head.getDouble(0)
    r
  }

  test("build invariants: every vector present once, layers consistent") {
    val rows = index.rows.cache()
    assert(rows.count() === corpus.count())
    assert(rows.select(col("global_id")).distinct().count() === corpus.count())
    // per-layer adjacency sizes == layer+1
    val badLayers = rows.filter(size(col("out")) =!= col("layer") + 1 ||
      size(col("edges")) =!= col("layer") + 1).count()
    assert(badLayers === 0)
    // out-degree stays near M (repair can push a node past M occasionally)
    val maxDeg = rows.select(max(size(col("out").getItem(0)))).head.getInt(0)
    assert(maxDeg <= 3 * index.params.minimumConnect)
  }

  test("exact mode (searchWidth=0) equals brute-force kNN exactly") {
    val viaIndex = index.query(queries, k = 10, searchWidth = 0)
    assert(viaIndex.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(viaIndex).count() === 0)
  }

  test("ANN recall is high and rises with searchWidth toward exact") {
    val r1 = recallAt(1)
    val r8 = recallAt(8)
    val r64 = recallAt(64)
    assert(r64 >= r1 - 0.05, s"recall not monotone-ish: r1=$r1 r64=$r64")
    assert(r8 >= 0.7, s"recall@sw=8 too low: $r8")
    assert(r64 >= 0.9, s"recall@sw=64 too low: $r64")
  }

  test("v8 probe summary is integer-valued, floored, and monotone-ish (oracle shape)") {
    // The driver-facing v8 contract: (search_width, hits, total) integers —
    // deterministic because the build is (PropertySpec), so the sf0.01 run
    // is pinned as a VALUES oracle. This guards the sf-independent floor.
    val df = graft.Queries.v8AnnProbe(spark, sfDir)
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)) ===
      Seq(("search_width", "int"), ("hits", "bigint"), ("total", "bigint")))
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq === Seq(2, 4, 8, 16))
    assert(rows.forall { case (_, h, t) => h >= 0 && h <= t && t == 100 })
    assert(rows.last._2 >= 80, s"recall floor at sw=16: ${rows.last._2}/100")
    assert(rows.last._2 >= rows.head._2 - 5,
      s"beam recall fell with width: ${rows.mkString(", ")}")
  }

  test("save/load round-trip answers queries identically (O9/O10 invariant)") {
    withTempDir("graft_index_") { path =>
      index.save(path)
      val loaded = VectorIndex.load(spark, path)
      assert(loaded.params === index.params)
      // distinct cache identity: the loaded index must probe ITS rows, not
      // hit executor-cached graphs built from the original in-memory index
      assert(loaded.indexId !== index.indexId)
      val before = index.query(queries, k = 5, searchWidth = 8)
      val after = loaded.query(queries, k = 5, searchWidth = 8)
      assert(before.exceptAll(after).count() === 0)
      assert(after.exceptAll(before).count() === 0)
    }
  }

  test("buildTo (straight-to-parquet build) answers queries identically to a cached build") {
    // the decade-scale disk path: rows stream directly to parquet, the
    // handle is the LOADED index — results must equal the cached build's
    // bit for bit (the kernel is deterministic, so the graphs are equal)
    withTempDir("graft_buildto_") { path =>
      val p = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2)
      val direct = VectorIndex.buildTo(corpus, p, numShards = 4, path)
      assert(direct.indexId !== index.indexId) // fresh cache identity (load path)
      val a = index.query(queries, k = 5, searchWidth = 8)
      val b = direct.query(queries, k = 5, searchWidth = 8)
      assert(a.exceptAll(b).count() === 0)
      assert(b.exceptAll(a).count() === 0)
      // and the sidecars make it independently loadable
      val reloaded = VectorIndex.load(spark, path)
      assert(reloaded.numShards === 4)
    }
  }

  test("append rebuilds only affected shards and equals a full rebuild exactly") {
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") >= 50 && col("vec_id") < 400)
      .select(col("vec_id").as("id"), col("embedding"))
    // extra ids hit only shard 1 (id % 4 == 1): shards 0/2/3 must be reused
    val extra = emb.filter(col("vec_id") >= 400 && col("vec_id") % 4 === 1)
      .select(col("vec_id").as("id"), col("embedding"))
    val params = IndexParams(minimumConnect = 6, relaxedMonotonicity = 16, step = 2)
    val appended = VectorIndex.build(base, params, numShards = 4).append(extra)
    val full = VectorIndex.build(base.union(extra), params, numShards = 4)
    def canon(ds: org.apache.spark.sql.Dataset[graft.index.IndexRow]) =
      ds.collect().map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
        r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2)).toSeq
    assert(canon(appended.rows) === canon(full.rows))
    assert(appended.meta.toSeq === full.meta.toSeq)
    // and answers queries identically through the probe
    val a = appended.query(queries, k = 5, searchWidth = 8)
    val b = full.query(queries, k = 5, searchWidth = 8)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)

    // clashing ids and mismatched dimensions are rejected
    val clash = base.limit(1)
    val eClash = intercept[Exception](VectorIndex.build(base, params, 4).append(clash))
    assert(eClash.getMessage.contains("disjoint"))
    val badDim = spark.range(1).selectExpr("90000L AS id",
      "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS embedding")
    val eDim = intercept[Exception](VectorIndex.build(base, params, 4).append(badDim))
    assert(eDim.getMessage.contains("dimension"))
  }

  test("adaptive M/RM schedule: deterministic, effective, persisted, append-stable") {
    import graft.index.ParamStep
    val sched = Seq(ParamStep(0, 4, 16), ParamStep(100, 8, 32))
    val p = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2,
      schedule = sched)
    val s1 = VectorIndex.build(corpus, p, numShards = 2)
    val s2 = VectorIndex.build(corpus, p, numShards = 2)
    assert(s1.rows.exceptAll(s2.rows).count() === 0,
      "scheduled rebuild must be deterministic")
    // the schedule must actually change the graph vs fixed params
    val fixed = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2), numShards = 2)
    assert(s1.rows.exceptAll(fixed.rows).count() > 0,
      "schedule had no effect on the built graph")
    // nodes inserted after the threshold link toward the larger M
    val maxDeg = s1.rows
      .select(max(size(col("out").getItem(0)))).head.getInt(0)
    assert(maxDeg > 4, s"expected post-threshold degree above the initial M, got $maxDeg")
    // exact probe is still exact regardless of graph shape
    val viaIdx = s1.query(queries, k = 10, searchWidth = 0)
    assert(viaIdx.exceptAll(exact).count() === 0)
    // persisted: save/load round-trips the schedule; append rebuilds with it
    withTempDir("graft_sched_") { path =>
      s1.save(path)
      assert(VectorIndex.load(spark, path).params.schedule === sched)
    }
    val emb = Tables.embeddings(spark, sfDir)
    val base = emb.filter(col("vec_id") >= 50 && col("vec_id") < 400)
      .select(col("vec_id").as("id"), col("embedding"))
    val extra = emb.filter(col("vec_id") >= 400)
      .select(col("vec_id").as("id"), col("embedding"))
    val appended = VectorIndex.build(base, p, numShards = 2).append(extra)
    val full = VectorIndex.build(base.union(extra), p, numShards = 2)
    assert(appended.rows.exceptAll(full.rows).count() === 0,
      "append under a schedule must equal the full scheduled rebuild")
  }

  test("a batch over maxBatch takes the driverless probe and returns the same top-k") {
    val whole = index.query(queries, k = 5, searchWidth = 0)
    val chunked = index.query(queries, k = 5, searchWidth = 0, maxBatch = 3)
    assert(whole.exceptAll(chunked).count() === 0)
    assert(chunked.exceptAll(whole).count() === 0)
    assert(index.optimize() eq index)
  }

  test("driverless shuffled probe equals the broadcast probe exactly") {
    for (sw <- Seq(0, 8)) {
      val viaBroadcast = index.query(queries, k = 7, searchWidth = sw)
      val viaShuffle = index.queryDistributed(queries, k = 7, searchWidth = sw)
      assert(viaBroadcast.exceptAll(viaShuffle).count() === 0, s"sw=$sw")
      assert(viaShuffle.exceptAll(viaBroadcast).count() === 0, s"sw=$sw")
    }
  }

  test("query batch order does not affect results (permutation invariance)") {
    val shuffled = queries.orderBy(rand(7))
    val a = index.query(queries, k = 5, searchWidth = 8)
    val b = index.query(shuffled, k = 5, searchWidth = 8)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("work counter: a warm 100-query broadcast probe runs exactly one Spark job") {
    import spark.implicits._
    // a local 100-query batch: routing it runs no job, so the one job is
    // the probe itself (the top-k merge runs on the driver)
    val q100 = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("query_id", "embedding")
    val warm = index.query(q100, 10, 32).collect()
    val (res, jobs) = jobsDuring(index.query(q100, 10, 32).collect())
    assert(jobs == 1, s"warm query ran $jobs jobs")
    assert(res.length == 1000 && res.toSeq == warm.toSeq)
  }

  test("empty corpus builds an empty index and answers queries with 0 rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("id", "embedding")
    val idx = VectorIndex.build(empty, IndexParams(minimumConnect = 2), numShards = 2)
    assert(idx.rows.count() === 0)
    assert(idx.query(queries, k = 3, searchWidth = 0).count() === 0)
    assert(idx.query(queries, k = 3, searchWidth = 8).count() === 0)
  }

  test("mixed-dimension ingest is rejected with a clear error") {
    import spark.implicits._
    val bad = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.build(bad, IndexParams(minimumConnect = 2), numShards = 1).rows.count()
    }
    assert(ex.getMessage === "ingested id 2 has 3 components, id 1 has 2 (1 rows)")
  }

  test("bucketed-corpus build equals the standard (shuffled) build exactly") {
    val tab = "graft_test_corpus_bkt"
    Queries.resetTable(spark, tab)
    VectorIndex.writeBucketedCorpus(corpus, tab, numShards = 4)
    val viaBucketed = VectorIndex.buildFromBucketed(spark, tab,
      IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2))
    assert(viaBucketed.numShards === 4)
    // identical shard assignment + deterministic kernel ⇒ row-identical
    assert(index.rows.exceptAll(viaBucketed.rows).count() === 0)
    assert(viaBucketed.rows.exceptAll(index.rows).count() === 0)
  }

  test("deterministic rebuild: building twice yields the identical graph") {
    val again = VectorIndex.build(corpus,
      IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2), numShards = 4)
    assert(index.rows.exceptAll(again.rows).count() === 0)
    assert(again.rows.exceptAll(index.rows).count() === 0)
  }
}
