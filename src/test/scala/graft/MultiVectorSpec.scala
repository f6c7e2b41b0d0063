package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultiVector

class MultiVectorSpec extends AnyFunSuite with SparkSuite {

  test("maxSimTopK matches a driver-side brute force on the embeddings table") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") < 8)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"),
        col("embedding"))
    val cv = emb.filter(col("vec_id") >= 8)
      .select(expr("vec_id DIV 4").as("did"), col("embedding"))

    val got = MultiVector.maxSimTopK(qv, cv, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6)))

    // driver-side reference: same sequential-fold dot products
    def dot(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val q = qv.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
    val c = cv.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val want = q.groupBy(_._1).toSeq.flatMap { case (qid, toks) =>
      val scores = c.groupBy(_._1).map { case (did, dvs) =>
        val s = toks.sortBy(_._2).map { case (_, _, qe) =>
          dvs.map(dv => dot(qe, dv._2)).max
        }.sum
        (did, s)
      }.toSeq
      scores.sortBy { case (did, s) => (-s, did) }.take(3).zipWithIndex.map {
        case ((did, s), i) => (qid, i + 1, did, math.round(s * 1e6))
      }
    }
    assert(got.toSet === want.toSet)
  }

  test("corpus side never broadcasts or shuffles pre-aggregation (queries broadcast)") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") < 4)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"), col("embedding"))
    val cv = emb.filter(col("vec_id") >= 4)
      .select(expr("vec_id DIV 4").as("did"), col("embedding"))
    val plan = MultiVector.maxSimTopK(qv, cv, k = 3)
      .queryExecution.executedPlan.toString
    // the query set is the broadcast side; the corpus streams map-side into
    // a partial aggregate before any exchange
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pruned maxsim equals brute force at generous m; stays sane at tiny m") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") < 8)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"), col("embedding"))
    val cv = emb.filter(col("vec_id") >= 8)
      .select(expr("vec_id DIV 4").as("did"), col("vec_id").as("tokid"), col("embedding"))
    val exact = MultiVector.maxSimTopK(qv, cv.drop("tokid"), k = 3)
    val pruned = MultiVector.maxSimTopKPruned(qv, cv, k = 3, m = 500)
    assert(pruned.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(pruned).count() === 0)
    // tiny m: k results per qid still come back, scores are true maxsim
    // scores for whatever docs survived the pruning (a subset of exact's
    // candidate space, so each (qid, did, score) must appear in the full
    // scored set)
    val tiny = MultiVector.maxSimTopKPruned(qv, cv, k = 3, m = 1)
      .select("qid", "did", "score")
    val allScores = MultiVector.maxSimTopK(qv, cv.drop("tokid"), k = Int.MaxValue)
      .select("qid", "did", "score")
    assert(tiny.exceptAll(allScores).count() === 0)
  }

  private def v40Inputs = {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") < 20)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"), col("embedding"))
    val cv = emb.filter(col("vec_id") >= 20)
      .select(expr("vec_id DIV 4").as("did"), col("vec_id").as("tokid"), col("embedding"))
    (qv, cv)
  }

  test("ANN-candidate maxsim equals brute force at exhaustive fidelity") {
    val (qv, cv) = v40Inputs
    val idx = Queries.tokenIndex(spark, sfDir)
    val m = cv.count().toInt
    val exact = MultiVector.maxSimTopK(qv, cv.drop("tokid"), k = 5)
    val ann = MultiVector.maxSimTopKAnn(qv, cv, idx, k = 5, m = m, searchWidth = 4096)
    assert(ann.exceptAll(exact).count() === 0)
    assert(exact.exceptAll(ann).count() === 0)
  }

  test("ANN-candidate maxsim clears the doc-recall floor at realistic width") {
    // the approximate regime the gate can't express: beam width 8, top-20
    // candidate tokens per query token. Measured 1.000 on this testdata
    // (w=4/m=10 already gives 0.90); the floor leaves headroom for
    // graph-build evolution without letting real regressions through.
    val (qv, cv) = v40Inputs
    val idx = Queries.tokenIndex(spark, sfDir)
    val exact = MultiVector.maxSimTopK(qv, cv.drop("tokid"), k = 5)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = MultiVector.maxSimTopKAnn(qv, cv, idx, k = 5, m = 20, searchWidth = 8)
      .select("qid", "did").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.95, s"doc recall@5 = $recall < 0.95")
  }

  test("ANN stage 1 plans as an index probe, never a corpus-token scan join") {
    // v39's exact stage 1 is a broadcast cross join (every query token x
    // every corpus token); the ANN form must instead take its candidates
    // from the index probe — whose answer is a local (query_id, rank,
    // neighbor_id, distance) relation, a leaf no corpus-token scan feeds —
    // and no nested-loop or cartesian join may appear anywhere in the plan
    val (qv, cv) = v40Inputs
    val idx = Queries.tokenIndex(spark, sfDir)
    val ann = MultiVector.maxSimTopKAnn(qv, cv, idx, k = 5, m = 20, searchWidth = 8)
    val probes = ann.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if r.output.map(_.name) == Seq("query_id", "rank", "neighbor_id", "distance") => r
    }
    assert(probes.size == 1 && probes.head.data.nonEmpty,
      s"stage 1 is not fed by the index probe:\n${ann.queryExecution.analyzed}")
    val p = ann.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), s"stage 1 degraded to a scan join:\n${p.take(3000)}")
    assert(!p.contains("CartesianProduct"), s"stage 1 degraded to a cartesian:\n${p.take(3000)}")
  }

  test("ANN maxsim rejects an index built under the wrong metric") {
    val (qv, cv) = v40Inputs
    val e = intercept[IllegalArgumentException] {
      MultiVector.maxSimTopKAnn(qv, cv, Queries.sharedEmbIndex(spark, sfDir),
        k = 5, m = 20, searchWidth = 8)
    }
    assert(e.getMessage.contains("inner product"))
  }

  test("streaming maxsim equals the batch operator across micro-batches") {
    val emb = Tables.embeddings(spark, sfDir)
    val qv = emb.filter(col("vec_id") < 20)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"),
        col("embedding"))
    val cv = emb.filter(col("vec_id") >= 20)
      .select(expr("vec_id DIV 4").as("did"), col("embedding"))
    // repartition the staged feed so maxFilesPerTrigger=1 actually yields
    // several micro-batches — the boundary-safety claim under test
    val got = graft.streaming.StreamingOps
      .streamMaxSim(spark, qv.repartition(4), cv, k = 3)
      .select("qid", "rank", "did").collect()
      .map { case Row(q: Long, r: Int, d: Long) => (q, r, d) }.toSet
    val want = MultiVector.maxSimTopK(qv, cv, k = 3)
      .select("qid", "rank", "did").collect()
      .map { case Row(q: Long, r: Int, d: Long) => (q, r, d) }.toSet
    assert(got === want)
  }

  test("streaming heavy hitters equals the batch top-k") {
    val eventsPath = s"$sfDir/events.parquet"
    val got = graft.streaming.StreamingOps
      .streamHeavyHitters(spark, eventsPath, capacity = 4096, k = 5)
      .select("user_key", "n").collect()
      .map { case Row(u: String, n: Long) => (u, n) }
    val want = Tables.events(spark, sfDir)
      .select(lpad(col("user_id").cast("string"), 6, "0").as("user_key"))
      .groupBy("user_key").count()
      .orderBy(col("count").desc, col("user_key")).limit(5)
      .collect().map { case Row(u: String, n: Long) => (u, n) }
    assert(got.toSeq === want.toSeq)
  }
}
