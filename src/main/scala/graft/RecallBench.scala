package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.VectorIndex

/** Recall-at-scale gate against an ALREADY-PERSISTED index snapshot —
  * the QUALITY half of the decade lifecycle the soak mains
  * ([[KernelBench]]/[[ProbeBench]]) deliberately leave out: every
  * published 100M number so far gates path EQUALITY (shuffled probe ==
  * broadcast probe), not answer quality. This main pins quality:
  *
  *  1. ground truth = float-exact top-k for nQueries soak queries via
  *     the fused kNN operator ([[graft.plans.KnnJoinPlan.knnFused]])
  *     over the DETERMINISTICALLY REGENERATED original float corpus
  *     (KernelBench's dist-mode per-id seed, id*2654435761+13 — the
  *     corpus that built the snapshot, recreated executor-side without
  *     ever existing on the driver or on disk);
  *  2. ONE multi-width probe of the loaded snapshot
  *     ([[VectorIndex.queryBatchMultiWidth]] — every width shares a
  *     single shard-rehydration cycle), width 0 included: the exact
  *     byte-domain probe is the QUANTIZATION ceiling (what SQ8 storage
  *     itself costs vs float), and the beam widths must rise
  *     monotonically toward that ceiling — the reference's
  *     width-sweep contract (example/dehnsw_example.cpp:96-130) at
  *     decade scale.
  *
  * Run: sbt "runMain graft.RecallBench <indexPath> <dim> [nQueries] [k] [widths...]"
  * Query vectors are the soak generation (seed id*2654435761+1), so
  * the recall numbers describe exactly the workload the published soak
  * latencies measured.
  */
object RecallBench {

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: RecallBench <indexPath> <dim> [nQueries] [k] [widths...]"))
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nQueries = args.lift(2).map(_.toInt).getOrElse(100)
    val k = args.lift(3).map(_.toInt).getOrElse(10)
    val widths = {
      val w = args.drop(4).map(_.toInt)
      if (w.nonEmpty) w.toSeq else Seq(0, 4, 8, 16, 32, 64)
    }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val idx = VectorIndex.load(spark, path, cache = false)
    val n = idx.meta.map(_.n_vectors).sum
    println(s"loaded index: shards=${idx.numShards} vectors=$n params=${idx.params}")

    // the soak query batch, driver-side this time (bounded: nQueries x dim)
    val queries = (0L until nQueries.toLong).map { id =>
      val r = new scala.util.Random(id * 2654435761L + 1)
      (id, Array.fill(dim)(r.nextFloat()))
    }.toArray

    // ground truth: float-exact top-k over the regenerated ORIGINAL corpus
    // (KernelBench dist-mode generation — never materialized anywhere)
    val corpus = spark.range(n).rdd.mapPartitions { it =>
      it.map { id =>
        val r = new scala.util.Random(id * 2654435761L + 13)
        (id, Array.fill(dim)(r.nextFloat()))
      }
    }.toDF("id", "embedding")
    val qdf = queries.toSeq.toDF("query_id", "embedding")
    val t0 = System.nanoTime()
    val gt = graft.plans.KnnJoinPlan.knnFused(qdf, corpus, k)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"ground truth (fused float-exact top-$k%d over $n%d x $dim%dd): " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s wall, ${gt.size} pairs")

    // one multi-width probe: all widths share one rehydration cycle
    val t1 = System.nanoTime()
    val probe = idx.queryBatchMultiWidth(queries, k, widths)
      .select(col("search_width"), col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2))))
    println(f"multi-width probe (${widths.mkString("/")}): " +
      f"${(System.nanoTime() - t1) / 1e9}%.1f s wall")

    val byWidth = probe.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = widths.map { w =>
      val got = byWidth.getOrElse(w, Set.empty)
      val rec = (gt intersect got).size.toDouble / gt.size
      println(f"recall@$k%d(sw=$w%3d) = $rec%.4f  (${(gt intersect got).size}/${gt.size})")
      rec
    }
    // the reference's monotone width contract, at decade scale; width 0
    // (exact byte-domain) is the quantization ceiling the beams approach
    val beams = widths.zip(recalls).filter(_._1 > 0).sortBy(_._1).map(_._2)
    require(beams.sliding(2).forall(p => p.size < 2 || p(1) >= p(0) - 0.005),
      s"beam recall not monotone (0.5pp slack): ${widths.zip(recalls)}")
    println("monotone width sweep OK")
    spark.stop()
  }
}
