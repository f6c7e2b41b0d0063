package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, VectorIndex}
import graft.operators.{ExactKnn, RecallEval}

/** Parameter-sweep harness — the engine-side `performence_test`
  * (reference: example/dehnsw_example.cpp:96-130, example/example.py:37-63):
  * grid over M x step x searchWidth, reporting mean recall and mean
  * query latency per cell as a DataFrame.
  *
  * Run: sbt "runMain graft.Sweep [sfDir]" — prints the grid and writes
  * parquet to /tmp/graft_sweep.
  */
object Sweep {

  case class Cell(
      m: Int, step: Int, search_width: Int,
      build_ms: Long, mean_query_us: Double, mean_recall: Double)

  def sweep(
      spark: SparkSession, sfDir: String,
      ms: Seq[Int], steps: Seq[Int], searchWidths: Seq[Int], k: Int = 10): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding")).cache()
    val corpus = emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("id"), col("embedding")).cache()
    val exact = ExactKnn.knnJoin(queries, corpus, k).cache()
    exact.count()

    val cells = for (m <- ms; step <- steps) yield {
      val t0 = System.nanoTime()
      val idx = VectorIndex.build(corpus,
        IndexParams(minimumConnect = m, relaxedMonotonicity = 4 * m, step = step),
        numShards = 4)
      idx.optimize()
      val buildMs = (System.nanoTime() - t0) / 1000000
      val nQueries = queries.count()
      searchWidths.map { sw =>
        val q0 = System.nanoTime()
        val res = idx.query(queries, k, sw)
        val recall = RecallEval.recallByQuery(res, exact, k)
          .agg(avg(col("recall"))).head.getDouble(0)
        val us = (System.nanoTime() - q0) / 1000.0 / nQueries
        Cell(m, step, sw, buildMs, us, recall)
      }
    }
    cells.flatten.toDF()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val grid = sweep(spark, sfDir,
      ms = Seq(4, 8), steps = Seq(2, 4), searchWidths = Seq(1, 4, 16, 64))
    grid.orderBy(col("m"), col("step"), col("search_width")).show(100, truncate = false)
    grid.write.mode("overwrite").parquet("/tmp/graft_sweep")
    spark.stop()
  }
}
