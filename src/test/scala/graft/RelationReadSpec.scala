package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}

/** How an eager probe (`VectorIndex.query`, `LsmVectorIndex.query`) and
  * a driver-path `LsmVectorIndex.ingest` read the caller's relation:
  * through the plan its Dataset already holds, so a call plans no query
  * of its own. The id and `embedding` columns resolve as `col` resolves
  * them, the id is cast as `cast("long")` casts it, and any relation a
  * caller can build reads the same rows as a long-keyed local one. */
class RelationReadSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private def slice(from: Int, until: Int): DataFrame =
    emb.filter(col("vec_id") >= from && col("vec_id") < until)
      .select(col("vec_id").as("id"), col("embedding"))
  private lazy val corpus = slice(20, 400)
  private lazy val batch: Array[(Long, Array[Float])] = emb.filter(col("vec_id") < 20)
    .select(col("vec_id"), col("embedding")).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  private val p = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2)

  private def local(b: Array[(Long, Array[Float])], id: String = "query_id"): DataFrame = {
    import spark.implicits._
    b.toSeq.toDF(id, "embedding")
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))

  test("a probe or a driver-path ingest over a planned relation runs no optimizer pass") {
    val idx = VectorIndex.build(corpus, p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000).ingest(slice(400, 420))
    val queries = local(batch)
    val fresh = slice(420, 440)
    Seq(queries, fresh).foreach(_.queryExecution.executedPlan)
    for ((name, probe) <- Seq[(String, () => DataFrame)](
        "VectorIndex.query" -> (() => idx.query(queries, 10, 16)),
        "LsmVectorIndex.query" -> (() => lsm.query(queries, 10, 16)))) {
      val (result, work) = workDuring(probe())
      assert(work.optimizerRuns == 0, s"$name: $work")
      // the caller's own collect of the result plans once
      val (got, collect) = workDuring(result.collect())
      assert(got.length == batch.length * 10 && collect.optimizerRuns == 1, s"$name: $collect")
    }
    val (grown, work) = workDuring(lsm.ingest(fresh))
    assert(work.optimizerRuns == 0, s"LsmVectorIndex.ingest: $work")
    assert(grown.generations.size == 2 && grown.freshCount == 40)
    grown.unpersist(); idx.unpersist()
  }

  test("any relation a caller builds reads as a long-keyed local relation does") {
    import spark.implicits._
    val idx = VectorIndex.build(corpus, p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000).ingest(slice(400, 430))
    val kept = batch.filter(_._1 != 5L)
    val variants = Seq(
      "upper-case names" -> local(kept, "QUERY_ID").withColumnRenamed("embedding", "EMBEDDING"),
      "int query_id" -> local(kept).withColumn("query_id", col("query_id").cast("int")),
      "string query_id" -> local(kept).withColumn("query_id", col("query_id").cast("string")),
      "extra columns" -> local(kept).select(lit("x").as("tag"), col("embedding"),
        (col("query_id") * 2).as("twice"), col("query_id")),
      "non-local relation" -> spark.sparkContext.parallelize(batch.toSeq, 3)
        .toDF("query_id", "embedding").where(col("query_id") =!= 5L))
    for (w <- Seq(0, 16); (name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, w)), "LsmVectorIndex" -> (lsm.query(_, 10, w)))) {
      val want = rows(probe(local(kept)))
      assert(want.size == kept.length * 10)
      for ((what, queries) <- variants)
        assert(rows(probe(queries)) == want, s"$name $what w=$w")
    }
    // ingest reads its `id` column the same way
    val more = batch.map { case (id, v) => (id + 1000, v) }
    def probeAfter(input: DataFrame) = {
      val grown = lsm.ingest(input)
      try (grown.freshCount, rows(grown.query(local(kept), 10, 0)))
      finally grown.generations.last.unpersist()
    }
    val want = probeAfter(local(more, "id"))
    assert(want._1 == 30 + more.length)
    for ((what, input) <- Seq(
        "upper-case ID" -> local(more, "ID"),
        "int id" -> local(more, "id").withColumn("id", col("id").cast("int")),
        "extra columns" -> local(more, "id").withColumn("tag", lit("x")),
        "non-local relation" -> spark.sparkContext.parallelize(more.toSeq, 3)
          .toDF("id", "embedding").where(col("id") >= 0L)))
      assert(probeAfter(input) == want, what)
    for ((name, call) <- Seq[(String, () => Any)](
        "VectorIndex.query" -> (() => idx.query(local(kept).drop("query_id"), 10, 16)),
        "LsmVectorIndex.query" -> (() => lsm.query(local(kept).drop("embedding"), 10, 16)),
        "LsmVectorIndex.ingest" -> (() => lsm.ingest(local(more, "vec_id"))))) {
      val (_, jobs) = jobsDuring(intercept[AnalysisException](call()))
      assert(jobs == 0, s"$name: a missing column ran $jobs jobs")
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("a null query_id is rejected by name before any job; a null ingest id by count") {
    import spark.implicits._
    val idx = VectorIndex.build(corpus, p, numShards = 2)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000).ingest(slice(400, 420))
    val withNull = batch.toSeq.map { case (id, v) => (if (id == 7L) None else Some(id), v) }
    for ((name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16)), "LsmVectorIndex" -> (lsm.query(_, 10, 16)))) {
      val (err, jobs) = jobsDuring(intercept[IllegalArgumentException](
        probe(withNull.toDF("query_id", "embedding"))))
      assert(err.getMessage.contains("query_id"), s"$name: ${err.getMessage}")
      assert(jobs == 0, s"$name: $jobs jobs ran before the rejection")
    }
    val err = intercept[IllegalArgumentException](lsm.ingest(withNull.toDF("id", "embedding")))
    assert(err.getMessage.contains("must carry an id (1 without)"), err.getMessage)
    lsm.unpersist(); idx.unpersist()
  }
}
