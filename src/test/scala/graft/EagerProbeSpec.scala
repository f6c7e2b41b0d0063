package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.DistanceMetric
import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}

/** The eager broadcast probe (`query` on a batch of at most maxBatch
  * queries: one job, top-k merged on the driver) against the lazy one
  * (`queryBatch`: the same per-shard candidates merged by the SQL top-k)
  * and the driverless one (`query` on a batch over maxBatch: the same
  * core over shuffled queries, merged by a shuffle). All must agree row
  * for row — ranks and distances included — for every storage and
  * metric, LSM members and tombstones, short results, ties, empty
  * batches and chunked batches. The routed batch is also the
  * query-vector boundary: a bad vector is rejected before any job runs,
  * as it is by the lazy probe; the driverless probe rejects it in its
  * tasks, naming the query. */
class EagerProbeSpec extends AnyFunSuite with SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private def slice(from: Int, until: Int): DataFrame =
    emb.filter(col("vec_id") >= from && col("vec_id") < until)
      .select(col("vec_id").as("id"), col("embedding"))
  private lazy val corpus = slice(20, 400)
  private lazy val batch: Array[(Long, Array[Float])] = emb.filter(col("vec_id") < 20)
    .select(col("vec_id"), col("embedding")).collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
  private val p = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2)

  private def queryDf(b: Array[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    b.toSeq.toDF("query_id", "embedding")
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(r => (r._1, r._2))

  private def assertSame(eager: DataFrame, lazyDf: DataFrame, clue: String): Unit = {
    assert(eager.schema.map(f => (f.name, f.dataType)) ===
      lazyDf.schema.map(f => (f.name, f.dataType)), clue)
    assert(rows(eager) === rows(lazyDf), clue)
  }

  test("eager query equals lazy queryBatch row for row: L2, cosine, SQ8, MIPS") {
    val indexes = Seq(
      "l2" -> VectorIndex.build(corpus, p, numShards = 4),
      "cosine" -> VectorIndex.build(corpus,
        p.copy(metric = DistanceMetric.Cosine), numShards = 3),
      "cosine-normalized" -> VectorIndex.build(corpus,
        p.copy(normalizeForCosine = true), numShards = 3),
      "sq8" -> VectorIndex.build(corpus, p.copy(quantized = true), numShards = 2),
      "mips" -> VectorIndex.buildMips(corpus, p, numShards = 2))
    for ((name, idx) <- indexes; w <- Seq(0, 16)) {
      val eager = idx.query(queryDf(batch), 10, w)
      assert(eager.count() === batch.length * 10L, s"$name w=$w")
      assertSame(eager, idx.queryBatch(batch, 10, w), s"$name w=$w")
      assertSame(eager, idx.query(queryDf(batch), 10, w, maxBatch = 1), s"$name w=$w driverless")
      if (name == "l2") assertSame(idx.query(queryDf(batch)
        .withColumn("query_id", col("query_id").cast("int")), 10, w), eager, s"int query_id w=$w")
      idx.unpersist()
    }
  }

  test("eager LSM query equals lazy queryBatch: generations, tombstones, an emptied member") {
    val lsm = LsmVectorIndex(VectorIndex.build(slice(20, 300), p, numShards = 4),
      compactThreshold = 1000000)
      .ingest(slice(300, 340)).ingest(slice(340, 370)).ingest(slice(370, 400))
      .delete((340L until 370L) ++ Seq(21L, 22L, 305L, 399L))
    assert(lsm.generations.size == 3)
    for (w <- Seq(0, 16)) {
      val eager = lsm.query(queryDf(batch), 10, w)
      val got = rows(eager)
      assert(got.forall { case (_, _, id, _) =>
        !lsm.tombstones.contains(id) }, s"w=$w returned a deleted id")
      assertSame(eager, lsm.queryBatch(batch, 10, w), s"w=$w")
      assertSame(eager, lsm.query(queryDf(batch), 10, w, maxBatch = 1), s"w=$w driverless")
    }
    lsm.unpersist(); lsm.base.unpersist()
  }

  test("k > n returns every vector; equal distances are broken by id") {
    // ids 1000.. repeat the vectors of ids 20..: every distance ties
    // pairwise, and the lower id must rank first
    val tiny = slice(20, 26)
    val twins = tiny.select((col("id") + 1000).as("id"), col("embedding"))
    val idx = VectorIndex.build(tiny.union(twins), p, numShards = 2)
    for (w <- Seq(0, 16)) {
      val eager = idx.query(queryDf(batch), 20, w)
      assertSame(eager, idx.queryBatch(batch, 20, w), s"w=$w")
      assertSame(eager, idx.query(queryDf(batch), 20, w, maxBatch = 1), s"w=$w driverless")
      val got = rows(eager)
      if (w == 0) assert(got.size == batch.length * 12, "k > n must return all 12")
      got.groupBy(_._1).values.foreach { rs =>
        rs.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._4 < b._4 || (a._4 == b._4 && a._3 < b._3), s"order: $a then $b")
          case _ =>
        }
      }
    }
    idx.unpersist()
  }

  test("an empty batch keeps the result column names and types") {
    val idx = VectorIndex.build(corpus, p, numShards = 2)
    val empty = Array.empty[(Long, Array[Float])]
    val eager = idx.query(queryDf(empty), 10, 16)
    assert(eager.collect().isEmpty)
    assertSame(eager, idx.queryBatch(empty, 10, 16), "empty")
    assert(eager.schema === idx.query(queryDf(batch), 10, 16).schema)
    idx.unpersist()
  }

  test("a batch split across several chunks merges to the same top-k") {
    val idx = VectorIndex.build(corpus, p, numShards = 4)
    val withDup = batch :+ ((batch(3)._1, batch(7)._2)) // one id, two vectors
    for (w <- Seq(0, 16)) {
      val (chunked, jobs) = jobsDuring(VectorIndex.probeNow(Seq(idx), withDup, 10, w, 3, null))
      assert(jobs == (withDup.length + 2) / 3, s"one job per chunk, w=$w")
      assertSame(chunked, idx.queryBatch(withDup, 10, w, maxBatch = 3), s"w=$w")
      assertSame(chunked, idx.queryBatch(withDup, 10, w), s"unchunked w=$w")
      assertSame(chunked, idx.query(queryDf(withDup), 10, w, maxBatch = 1), s"driverless w=$w")
    }
    idx.unpersist()
  }

  test("a NaN, infinite, missing or ragged query vector is rejected before any job") {
    val idx = VectorIndex.build(corpus, p, numShards = 2)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000)
      .ingest(slice(400, 420)).delete(Seq(25L))
    val v = batch(0)._2
    val bad = Seq(
      "NaN" -> (7L, v.updated(3, Float.NaN)),
      "Infinity" -> (7L, v.updated(0, Float.PositiveInfinity)),
      "-Infinity" -> (7L, v.updated(1, Float.NegativeInfinity)),
      "no embedding" -> (7L, null: Array[Float]),
      "ragged" -> (7L, v.take(v.length - 1)))
    for ((what, q) <- bad; (name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16)), "LsmVectorIndex" -> (lsm.query(_, 10, 16)))) {
      val qdf = queryDf(batch.filter(_._1 != 7L) :+ q)
      val (err, jobs) = jobsDuring(intercept[IllegalArgumentException](probe(qdf)))
      assert(err.getMessage.contains("query 7 "), s"$name $what: ${err.getMessage}")
      assert(jobs == 0, s"$name $what: $jobs jobs ran before the rejection")
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("the driverless probe rejects a missing, non-finite or wrong-dimension query vector by id") {
    val idx = VectorIndex.build(corpus, p, numShards = 2)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000)
      .ingest(slice(400, 420)).delete(Seq(25L))
    val v = batch(0)._2
    val bad = Seq(
      "no embedding" -> (7L, null: Array[Float]),
      "NaN" -> (7L, v.updated(3, Float.NaN)),
      "Infinity" -> (7L, v.updated(0, Float.PositiveInfinity)),
      "wrong dimension" -> (7L, v.take(v.length - 1)))
    for ((what, q) <- bad; (name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16, maxBatch = 1)),
        "LsmVectorIndex" -> (lsm.query(_, 10, 16, maxBatch = 1)))) {
      val qdf = queryDf(batch.filter(_._1 != 7L) :+ q)
      val err = intercept[Exception](probe(qdf).collect())
      val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
      assert(messages.exists(_.contains("query 7 ")), s"$name $what: ${messages.head}")
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("the lazy probe rejects a missing, non-finite or ragged query vector before any job") {
    val idx = VectorIndex.build(corpus, p, numShards = 2)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000)
      .ingest(slice(400, 420)).delete(Seq(25L))
    val v = batch(0)._2
    val bad = Seq(
      "NaN" -> (7L, v.updated(3, Float.NaN)),
      "Infinity" -> (7L, v.updated(0, Float.PositiveInfinity)),
      "no embedding" -> (7L, null: Array[Float]),
      "ragged" -> (7L, v.take(v.length - 1)))
    for ((what, q) <- bad; (name, probe) <- Seq[(String, Array[(Long, Array[Float])] => DataFrame)](
        "queryBatch" -> (idx.queryBatch(_, 10, 16)),
        "queryBatchMultiWidth" -> (idx.queryBatchMultiWidth(_, 10, Seq(4, 16))),
        "probeBatch" -> (idx.probeBatch(_, 10, 16)),
        "LsmVectorIndex.queryBatch" -> (lsm.queryBatch(_, 10, 16)))) {
      val b = batch.filter(_._1 != 7L) :+ q
      val (err, jobs) = jobsDuring(intercept[IllegalArgumentException](probe(b).collect()))
      assert(err.getMessage.contains("query 7 "), s"$name $what: ${err.getMessage}")
      assert(jobs == 0, s"$name $what: $jobs jobs ran before the rejection")
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("work counter: an eager probe reads a 4-partition query relation in 1 job, a local one in none") {
    import spark.implicits._
    val idx = VectorIndex.build(slice(20, 300), p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000).ingest(slice(300, 340))
    val spread = spark.sparkContext.parallelize(batch.toSeq, 4).toDF("query_id", "embedding")
    for ((name, probe) <- Seq[(String, DataFrame => DataFrame)](
        "VectorIndex" -> (idx.query(_, 10, 16)), "LsmVectorIndex" -> (lsm.query(_, 10, 16)))) {
      probe(queryDf(batch)).collect() // lays out the members
      for ((what, queries, jobs) <- Seq((s"$name, 4 partitions", spread, 2),
          (s"$name, local relation", queryDf(batch), 1))) {
        val (res, work) = workDuring(probe(queries).collect())
        assert(res.length == batch.length * 10, what)
        assert(work.jobs == jobs && work.stages == jobs && work.shuffles == 0, s"$what: $work")
      }
    }
    lsm.unpersist(); idx.unpersist()
  }

  test("work counter: a driverless probe is one job of 3 stages and 2 shuffles, LSM or not") {
    val idx = VectorIndex.build(slice(20, 300), p, numShards = 4)
    val lsm = LsmVectorIndex(idx, compactThreshold = 1000000)
      .ingest(slice(300, 340)).ingest(slice(340, 370)).ingest(slice(370, 400))
    assert(lsm.generations.size == 3)
    // a local batch: routing it runs no job, so every shuffle counted
    // belongs to the probe
    for ((name, probe) <- Seq[(String, () => DataFrame)](
        "VectorIndex" -> (() => idx.query(queryDf(batch), 10, 16, maxBatch = 2)),
        "LsmVectorIndex" -> (() => lsm.query(queryDf(batch), 10, 16, maxBatch = 2)))) {
      val (res, work) = workDuring(probe().collect())
      assert(res.length == batch.length * 10, name)
      assert((work.jobs, work.stages, work.shuffles) == ((1, 3, 2)), s"$name: $work")
    }
    lsm.unpersist(); idx.unpersist()
  }
}
