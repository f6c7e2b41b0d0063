package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}
import org.apache.spark.sql.graft.GraftSqlBridge

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

  private def spread(b: Array[(Long, Array[Float])], parts: Int, id: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(b.toSeq, parts).toDF(id, "embedding")
  }

  /** Relations holding exactly the rows of `b`, `id` naming the id
    * column, in the shapes a bounded read must handle: most partitions
    * empty, skewed partitions (resumed in place), exchanges (a skewed
    * one, resumed from its start) and extra columns. */
  private def shapes(b: Array[(Long, Array[Float])], id: String): Seq[(String, DataFrame)] = {
    import spark.implicits._
    val big = b.length * 5 / 6
    val keys = spark.sparkContext.parallelize(b.map(_._1).toSeq, 2).toDF("key")
    Seq(
      "64 partitions, most empty" -> spread(b, 64, id),
      "skewed partitions" -> spark.sparkContext.parallelize(Seq(b.take(big), b.drop(big)), 2)
        .flatMap(_.toSeq).toDF(id, "embedding"),
      "skewed repartition(3)" -> local(b, id)
        .repartition(3, when(col(id) < b(big)._1, 0L).otherwise(col(id))),
      "join" -> spread(b, 3, id).join(keys, col(id) === col("key")).drop("key"),
      "extra columns" -> spread(b, 4, id)
        .select(lit("x").as("tag"), col("embedding"), (col(id) * 2).as("twice"), col(id)))
  }

  private def canon(i: VectorIndex) = (i.numShards, i.meta.toSeq,
    i.rows.collect().map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2)).toSeq)

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

  test("a bounded read keeps every row of a relation under n, and n distinct ones of a larger one") {
    val byId = batch.toMap
    val codegen = spark.range(0, 5000, 1, 4).select(col("id"),
      array((1 to 8).map(i => (col("id") * i).cast("float")): _*).as("embedding"))
    val sources = shapes(batch, "id").map { case (what, df) => (what, df, byId) } :+
      (("whole-stage codegen scan", codegen,
        (0L until 5000L).map(id => id -> Array.tabulate(8)(i => (id * (i + 1)).toFloat)).toMap))
    for ((what, df, source) <- sources; n <- Seq(source.size + 5, source.size, source.size - 3, 1)) {
      val got = VectorIndex.takeVectors(df, "id", n)
      assert(got.length == math.min(n, source.size), s"$what n=$n")
      assert(got.map(_._1).distinct.length == got.length, s"$what n=$n: an id read twice")
      for ((id, v) <- got)
        assert(source.get(id).exists(_.sameElements(v)), s"$what n=$n: row $id differs from its source")
    }
  }

  test("ingest and routing read a sparse, skewed, exchanged or wide relation as a local one") {
    val idx = VectorIndex.build(corpus, p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000, genShardSize = 64).ingest(slice(400, 420))
    val queries = local(batch)
    val fresh = batch.map { case (id, v) => (id + 1000, v) }
    def probeAfter(input: DataFrame) = {
      val grown = lsm.ingest(input)
      try (grown.freshCount, rows(grown.query(queries, 10, 0)))
      finally grown.generations.last.unpersist()
    }
    val want = probeAfter(local(fresh, "id"))
    assert(want._1 == 20 + fresh.length)
    for ((what, input) <- shapes(fresh, "id")) assert(probeAfter(input) == want, s"ingest, $what")
    for ((name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16)), "LsmVectorIndex" -> (lsm.query(_, 10, 16)))) {
      val wantQ = rows(probe(queries))
      for ((what, qs) <- shapes(batch, "query_id")) assert(rows(probe(qs)) == wantQ, s"$name, $what")
    }
    // exactly the bound over 8 partitions is built on the driver, one row
    // more distributed; either generation equals a build of its rows
    val more = corpus.collect().map(r => (r.getLong(0) + 2000, r.getSeq[Float](1).toArray)).take(65)
    for ((m, shards) <- Seq(64 -> 1, 65 -> 2)) {
      val input = spread(more.take(m), 8, "id")
      val gen = lsm.ingest(input).generations.last
      val built = VectorIndex.build(input, p, numShards = shards)
      assert(canon(gen) == canon(built), s"$m rows")
      gen.unpersist(); built.unpersist()
    }
    // exactly maxBatch queries over 8 partitions are answered eagerly (a
    // local result), one more without the driver
    for ((name, probe) <- Seq[(String, (DataFrame, Int) => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16, _)), "LsmVectorIndex" -> (lsm.query(_, 10, 16, _)))) {
      val wantQ = rows(probe(queries, 100000))
      for ((maxBatch, eager) <- Seq(batch.length -> true, batch.length - 1 -> false)) {
        val res = probe(spread(batch, 8, "query_id"), maxBatch)
        val local = GraftSqlBridge.logicalPlan(res)
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
        assert(local == eager && rows(res) == wantQ, s"$name maxBatch=$maxBatch")
      }
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("maxBatch = Int.MaxValue answers every query eagerly") {
    val idx = VectorIndex.build(corpus, p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000).ingest(slice(400, 420))
    val queries = local(batch.take(5))
    for ((name, probe) <- Seq[(String, Int => DataFrame)](
        "VectorIndex" -> (idx.query(queries, 3, 32, _)),
        "LsmVectorIndex" -> (lsm.query(queries, 3, 32, _)))) {
      val want = rows(probe(100000))
      assert(want.size == 15, name)
      assert(rows(probe(Int.MaxValue)) == want, s"$name, maxBatch = Int.MaxValue")
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("a read of n rows moves at most n rows plus one per task to the driver") {
    import spark.implicits._
    val dim = 64
    val sizes = Array(100, 10000, 10000, 10000, 10000)
    // random vectors: constant ones would compress and hide an excess
    val df = spark.sparkContext.parallelize(sizes.indices, sizes.length).flatMap { part =>
      val r = new scala.util.Random(part)
      Iterator.tabulate(sizes(part))(i => (part * 100000L + i, Array.fill(dim)(r.nextFloat())))
    }.toDF("id", "embedding")
    val n = LsmVectorIndex.DriverBuildRows + 1
    val (got, work) = workDuring(VectorIndex.takeVectors(df, "id", n))
    assert(got.length == n && got.map(_._1).distinct.length == n)
    // one row: the UnsafeRow's null bits, id and array offset, then the
    // array's length, null bits and values; serialized, its size, field
    // count and object framing add under 32 bytes
    val rowBytes = 3 * 8 + 2 * 8 + 4 * dim + 32
    // at most two passes of 4 tasks, each result carrying its task's metrics
    val tasks = 8
    assert(work.resultBytes <= (n + tasks) * rowBytes + tasks * 8192,
      s"$n rows of $rowBytes bytes moved $work")
  }
}
