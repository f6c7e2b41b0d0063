package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.VectorIndex

/** Probe-phase benchmark against an ALREADY-PERSISTED index — the
  * serving half of the decade lifecycle, decoupled from the build:
  * [[VectorIndex.buildTo]] published the index as compressed parquet;
  * this main loads that snapshot WITHOUT materializing any second copy
  * (each shard directory is read once straight into its graph, cached
  * at memory only — a graph that does not fit is re-read, never
  * spilled — and the parquet stays the only on-disk copy) and drives the
  * same soak + gate protocol as KernelBench's soak mode. On a cluster
  * this is exactly the "other job probes the published snapshot"
  * deployment shape; on one node it is the disk-headroom mitigation for
  * the 100M probe (SCALE.md: the row caches a loaded handle once kept
  * re-created the very spill buildTo avoided).
  *
  * Run: sbt "runMain graft.ProbeBench <indexPath> <dim> [nQueries] [k] [sw] [nTomb]"
  * Query vectors are the SAME deterministic per-id executor-side
  * generation as KernelBench's soak (seed id*2654435761+1), so results
  * are comparable run to run.
  *
  * `nTomb` > 0 runs the TOMBSTONE soak: the loaded snapshot wraps in an
  * LSM handle with nTomb ids logically deleted (every corpus/nTomb-th id
  * — deterministic, spread across shards), and the same soak runs
  * through the liveness-filtered kernel probe. The number to watch is
  * the per-query cost vs the tombstone-free soak: the filter is one
  * binary search per candidate POP, so the curve should stay flat where
  * the retired k+tombstones overfetch grew candidate volume linearly
  * with the delete count.
  */
object ProbeBench {

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(
      sys.error("usage: ProbeBench <indexPath> <dim> [nQueries] [k] [sw]"))
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nSoak = args.lift(2).map(_.toLong).getOrElse(20000L)
    val soakK = args.lift(3).map(_.toInt).getOrElse(10)
    val swArg = args.lift(4).getOrElse("16")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nTomb = args.lift(5).map(_.toLong).getOrElse(0L)

    val t0 = System.nanoTime()
    val idx = VectorIndex.load(spark, path, cache = false)
    println(s"loaded index: shards=${idx.numShards} params=${idx.params}")
    // width "auto" = the snapshot's persisted operating point
    // (calibrateWidthTo); exact scan when never calibrated
    val sw =
      if (swArg == "auto") {
        val cal = VectorIndex.readCalibration(spark, path)
        println(s"calibration sidecar: ${cal.getOrElse("absent — exact scan")}")
        cal.map(_.searchWidth).getOrElse(0)
      } else swArg.toInt

    // soak: driverless shuffled probe, KernelBench's soak protocol
    // (same deterministic query generation, same gate) so the numbers
    // are comparable main to main
    val soakQ = KernelBench.soakQueries(spark, nSoak, dim)
    if (nTomb <= 0) {
      val s2 = System.nanoTime()
      val nRes = idx.queryDistributed(soakQ, soakK, sw).count()
      val soakS = (System.nanoTime() - s2) / 1e9
      println(f"soak queryDistributed (sw=$sw%d, k=$soakK%d): $nSoak%d queries -> $nRes%d result rows, " +
        f"$soakS%.1f s wall, ${soakS * 1e6 / nSoak}%.1f us/query amortized COLD " +
        f"(per-shard parquet read + graph rebuild run INSIDE this job — with " +
        f"the copy-free load there is no earlier point to pay them; " +
        f"driver-side load was ${(s2 - t0) / 1e9}%.1f s before)")

      KernelBench.probeGate(idx, soakQ, soakK, sw, "probe")
    } else {
      // tombstone soak: delete every (corpus/nTomb)-th id, probe through
      // the liveness-filtered kernel path
      val n = idx.meta.map(_.n_vectors).sum
      val strideT = math.max(1L, n / nTomb)
      val dead = (0L until nTomb).map(_ * strideT).takeWhile(_ < n)
      val lsm = graft.index.LsmVectorIndex(idx, compactThreshold = Long.MaxValue)
        .delete(dead)
      println(s"tombstone soak: ${dead.size} of $n ids deleted (every $strideT-th)")
      val s2 = System.nanoTime()
      // bounded result (nSoak x k rows) cached so the leak gate below
      // reads it instead of re-running the whole probe
      val res = lsm.query(soakQ, soakK, sw).cache()
      val nRes = res.count()
      val soakS = (System.nanoTime() - s2) / 1e9
      println(f"tombstone soak (sw=$sw%d, k=$soakK%d, t=${dead.size}%d): " +
        f"$nSoak%d queries -> $nRes%d result rows, $soakS%.1f s wall, " +
        f"${soakS * 1e6 / nSoak}%.1f us/query amortized COLD")
      // gate: no dead id may surface
      val leaked = res.filter(col("neighbor_id") % strideT === 0 &&
        (col("neighbor_id") / strideT) < dead.size).count()
      require(leaked == 0, s"$leaked tombstoned ids surfaced in the soak result")
      println("tombstone gate: 0 deleted ids surfaced OK")
    }
    spark.stop()
  }
}
