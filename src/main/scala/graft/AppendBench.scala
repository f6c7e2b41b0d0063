package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.VectorIndex

/** Append-at-the-decade benchmark — the incremental-corpus lifecycle
  * against an ALREADY-PUBLISHED snapshot (the 100M decade from
  * [[KernelBench]] persist mode): measures the three append tiers a
  * production deployment chooses between, on the same 1M-row batch:
  *
  *  1. [[VectorIndex.appendTo]] — shard-scoped snapshot-to-snapshot
  *     append. New ids are generated CLUSTERED on `residues` shard
  *     residues, so exactly `residues` of the snapshot's shards rebuild;
  *     every other shard's rows hardlink into the new snapshot (zero
  *     bytes moved — reported). This is "publish the next snapshot"
  *     at O(affected shards) compute.
  *  2. [[graft.index.LsmVectorIndex.ingest]] — O(batch) generational
  *     ingest, the latency tier (no base shard ever rebuilt).
  *  3. (reported for contrast, not run) full rebuild = the BASELINE.md
  *     100M build wall.
  *
  * Gates: the probe equality gate (broadcast == shuffled on a 100-query
  * overlap) runs against the appended snapshot, and probing AT appended
  * vectors must return them — the append is servable, not just written.
  *
  * Run: sbt "runMain graft.AppendBench <oldIndexPath> <dim> [nAppend]
  *   [residues] [newPath]"
  */
object AppendBench {

  def main(args: Array[String]): Unit = {
    val oldPath = args.headOption.getOrElse(
      sys.error("usage: AppendBench <oldIndexPath> <dim> [nAppend] [residues] [newPath]"))
    val dim = args.lift(1).map(_.toInt).getOrElse(64)
    val nAppend = args.lift(2).map(_.toLong).getOrElse(1000000L)
    val residues = args.lift(3).map(_.toInt).getOrElse(8)
    val newPath = args.lift(4).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_append_snap_").toString + "/snap")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val old = VectorIndex.load(spark, oldPath, cache = false)
    val numShards = old.numShards
    val nBase = old.meta.map(_.n_vectors).sum
    println(s"base snapshot: $nBase vectors, shards=$numShards, params=${old.params}")
    require(nBase > 0, s"empty base snapshot at $oldPath")
    require(residues >= 1 && residues <= numShards,
      s"residues must be in [1, $numShards] (the id generator would " +
        s"collide above the shard count), got $residues")

    // new ids >= nBase, clustered on residues 0..residues-1 (nBase is a
    // multiple of numShards for the decade snapshots; guard otherwise)
    val idBase = ((nBase + numShards - 1) / numShards) * numShards
    val batch = spark.range(nAppend).rdd.mapPartitions { it =>
      it.map { i =>
        val id = idBase + numShards * (i / residues) + (i % residues)
        val r = new scala.util.Random(id * 2654435761L + 13)
        (id, Array.fill(dim)(r.nextFloat()))
      }
    }.toDF("id", "embedding")

    // --- tier 1: shard-scoped snapshot append ---
    // (an already-published newPath is reused so a gate-phase rerun does
    // not repeat the append — delete newPath to re-measure)
    val reuse = new java.io.File(s"$newPath/params.json").exists()
    val t0 = System.nanoTime()
    val appended =
      if (reuse) VectorIndex.load(spark, newPath, cache = false)
      else VectorIndex.appendTo(spark, oldPath, batch, newPath)
    val appendS = (System.nanoTime() - t0) / 1e9
    if (reuse) println(s"reusing published append snapshot at $newPath")
    // inode-verified link count (name sharing alone would also count the
    // byte-copy fallback as "zero bytes")
    def ino(f: java.io.File) =
      try java.nio.file.Files.getAttribute(f.toPath, "unix:ino")
      catch { case _: Exception => null }
    // part files keyed by "sub_index_id=s/<name>": a kept shard's
    // directory carries its file over under the same key
    def partFiles(rows: String): Map[String, java.io.File] =
      Option(new java.io.File(rows).listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) f.listFiles().toSeq.map(g => s"${f.getName}/${g.getName}" -> g)
        else Seq(f.getName -> f)
      }.filter(_._1.endsWith(".parquet")).toMap
    val oldFiles = partFiles(s"$oldPath/rows")
    val newFiles = partFiles(s"$newPath/rows")
    val carried = newFiles.keys.filter(oldFiles.contains).toSeq
    val linked = carried.count(k =>
      ino(newFiles(k)) != null && ino(newFiles(k)) == ino(oldFiles(k)))
    val copied = carried.length - linked
    val fresh = newFiles.collect { case (k, f) if !oldFiles.contains(k) => f }
    println(f"appendTo: $nAppend%d rows into $residues%d of $numShards%d shards -> " +
      f"$appendS%.1f s wall; files: $linked%d hardlinked (zero bytes, " +
      f"inode-verified), $copied%d byte-copied, ${fresh.size}%d written " +
      f"(${fresh.map(_.length()).sum / 1e9}%.2f GB)")
    // retirement accounting: what deleting the OLD generation would free
    // (old-exclusive bytes, nlink == 1) vs what it merely unshares
    // (hardlinked into the new snapshot — inode survives the delete; the
    // delete-is-safe proof is inode-level in AppendToSpec)
    def nlink(f: java.io.File) =
      try java.nio.file.Files.getAttribute(f.toPath, "unix:nlink")
        .asInstanceOf[Int]
      catch { case _: Exception => 1 }
    val (sharedOld, exclOld) = oldFiles.values.partition(nlink(_) > 1)
    println(f"retirement: deleting the old snapshot frees " +
      f"${exclOld.map(_.length()).sum / 1e9}%.2f GB (${exclOld.size}%d " +
      f"old-exclusive files); ${sharedOld.map(_.length()).sum / 1e9}%.2f GB " +
      f"in ${sharedOld.size}%d files stay alive via the new snapshot's hardlinks")
    val affectedMeta = appended.meta.filter(_.sub_index_id < residues)
    println(s"rebuilt shards: ${affectedMeta.map(_.sub_index_id).mkString(",")} " +
      s"(rows ${affectedMeta.map(_.n_vectors).sum}); " +
      s"untouched meta entries: ${appended.meta.count(_.sub_index_id >= residues)}")

    // gates: appended vectors servable — probed at width 0 (the exact
    // per-shard scan): the gate is about the rows BEING in the index and
    // surfacing, not about beam recall at some width (that curve is
    // RecallBench's, published separately; at 100M uniform-random a
    // narrow beam legitimately misses most true nearest neighbors)
    val probeNew = batch.filter(col("id") < idBase + numShards)
      .select(col("id").as("query_id"), col("embedding"))
    val hits = appended.query(probeNew, 1, searchWidth = 0)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(hits.nonEmpty && hits.forall { case (q, n) => q == n },
      s"appended vectors not surfaced as their own nearest neighbor: ${hits.take(5).mkString(",")}")
    println(s"new-vector gate: ${hits.length} appended probes each returned themselves OK")
    val soakQ = KernelBench.soakQueries(spark, 2000, dim)
    val s1 = System.nanoTime()
    val nRes = appended.queryDistributed(soakQ, 10, 16).count()
    println(f"post-append soak (sw=16, k=10): 2000 queries -> $nRes%d rows, " +
      f"${(System.nanoTime() - s1) / 1e9}%.1f s wall COLD")
    KernelBench.probeGate(appended, soakQ, 10, 16, "append")

    // --- tier 2: LSM generational ingest of the same batch ---
    val t2 = System.nanoTime()
    val lsm = graft.index.LsmVectorIndex(old, compactThreshold = Long.MaxValue)
      .ingest(batch)
    val lsmS = (System.nanoTime() - t2) / 1e9
    println(f"lsm ingest: same $nAppend%d rows as one generation -> $lsmS%.1f s wall " +
      f"(${lsm.generations.size}%d generations; no base shard rebuilt)")
    val l1 = System.nanoTime()
    val nLsm = lsm.query(soakQ.filter(col("query_id") < 100), 10, 16).count()
    println(f"lsm probe across base+generation: 100 queries -> $nLsm%d rows, " +
      f"${(System.nanoTime() - l1) / 1e9}%.1f s wall")
    spark.stop()
  }
}
