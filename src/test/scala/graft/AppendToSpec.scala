package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, VectorIndex}

/** Gates for [[VectorIndex.appendTo]] — the snapshot-to-snapshot
  * shard-scoped append:
  *  - result == one full rebuild over the union (the append==rebuild
  *    bit invariant, probed);
  *  - untouched shard directories are HARDLINKED into the new snapshot
  *    (same inode), never re-read or re-written;
  *  - only the affected shards' meta changes;
  *  - a rejected batch names its count, leaves the old snapshot serving
  *    row for row the same and nothing loadable at the new path.
  */
class AppendToSpec extends AnyFunSuite with SparkSuite {

  private def corpus(n: Int, dim: Int, idOf: Int => Long) = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = idOf(i)
      val r = new scala.util.Random(id * 2654435761L + 13)
      (id, Array.fill(dim)(r.nextFloat()))
    }.toDF("id", "embedding")
  }

  private def inode(p: java.nio.file.Path): Any =
    java.nio.file.Files.getAttribute(p, "unix:ino")

  private def checkAppendTo(params: IndexParams): Unit = {
    val dim = 8
    val numShards = 16
    val base = corpus(2000, dim, _.toLong)
    // new ids >= 2000, clustered on residues {0, 1}: exactly 2 of 16
    // shards are affected
    val batch = corpus(200, dim,
      i => 2000L + 16L * (i / 2) + (i % 2))
    val oldDir = java.nio.file.Files.createTempDirectory("graft_appendto_old_").toString
    val newDir = java.nio.file.Files.createTempDirectory("graft_appendto_new_").toString + "/snap"
    try {
      VectorIndex.buildTo(base, params, numShards, oldDir)
      val appended = VectorIndex.appendTo(spark, oldDir, batch, newDir)

      // append == rebuild-over-union, probed (same schedule by contract)
      val full = VectorIndex.build(base.union(batch), params, numShards)
      val qdf = corpus(20, dim, i => 900000L + i)
        .select(col("id").as("query_id"), col("embedding"))
      def key(idx: VectorIndex) = idx.query(qdf, 10, searchWidth = 16)
        .select("query_id", "neighbor_id", "distance")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(key(appended) === key(full))

      // appended ids are servable: probing AT a new vector finds it
      val probeNew = batch.limit(4)
        .select(col("id").as("query_id"), col("embedding"))
      val hits = appended.query(probeNew, 1, searchWidth = 16)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(hits.forall { case (q, n) => q == n }, hits.mkString(","))

      // meta: only shards 0 and 1 changed
      val oldMeta = VectorIndex.load(spark, oldDir, cache = false).meta
        .map(m => m.sub_index_id -> m).toMap
      appended.meta.foreach { m =>
        if (m.sub_index_id > 1) assert(m == oldMeta(m.sub_index_id))
        else assert(m.n_vectors == oldMeta(m.sub_index_id).n_vectors + 100)
      }

      // I/O: each of the 14 untouched shard directories holds the SAME
      // inode as the old one (hardlink); the 2 affected ones hold new files
      def part(root: String, s: Int) = {
        val files = new java.io.File(s"$root/rows/sub_index_id=$s").listFiles()
          .filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"shard $s of $root: ${files.toSeq}")
        files.head.toPath
      }
      assert(new java.io.File(s"$newDir/rows").list().count(_.startsWith("sub_index_id=")) == 16)
      val linked = (0 until numShards).filter(s => inode(part(newDir, s)) == inode(part(oldDir, s)))
      assert(linked == (2 until numShards), s"hardlinked shard directories: $linked")
    } finally {
      graft.streaming.StreamingOps.deleteRecursively(oldDir)
      graft.streaming.StreamingOps.deleteRecursively(
        new java.io.File(newDir).getParent)
    }
  }

  test("appendTo == full rebuild; untouched shard files hardlink (float)") {
    checkAppendTo(IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4))
  }

  test("appendTo == full rebuild; untouched shard files hardlink (SQ8)") {
    checkAppendTo(IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4,
      quantized = true, quantLo = 0f, quantHi = 1f))
  }

  /** A rejected batch: appendTo throws the same message as the checks
    * that ran before the rows were written, the old snapshot still loads
    * and probes row for row the same, and nothing loads at `newPath`. */
  private def checkRejected(batch: Int => org.apache.spark.sql.DataFrame, message: String): Unit = {
    val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 4)
    val root = java.nio.file.Files.createTempDirectory("graft_appendto_reject_").toString
    val (oldDir, newDir) = (s"$root/old", s"$root/new")
    val qdf = corpus(20, 8, i => 900000L + i).select(col("id").as("query_id"), col("embedding"))
    def served() = {
      val idx = VectorIndex.load(spark, oldDir, cache = false)
      val rows = idx.rows.collect().map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
        r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2)).toSeq
      val hits = idx.query(qdf, 10, searchWidth = 16).collect().map(_.toSeq).toSeq
      graft.index.ShardGraphCache.evict(idx.probeId)
      (rows, idx.meta.toSeq, hits)
    }
    try {
      VectorIndex.buildTo(corpus(400, 8, _.toLong), params, 4, oldDir).unpersist()
      val before = served()
      val e = intercept[IllegalArgumentException](
        VectorIndex.appendTo(spark, oldDir, batch(8), newDir))
      assert(e.getMessage === message)
      assert(served() === before, "the rejected append changed the old snapshot")
      intercept[IllegalArgumentException](VectorIndex.load(spark, newDir, cache = false))
    } finally graft.streaming.StreamingOps.deleteRecursively(root)
  }

  test("appendTo rejects an id that clashes with the old snapshot, naming the count") {
    checkRejected(dim => corpus(50, dim, 400L + _).union(corpus(2, dim, 10L + _)),
      "ingested ids must be unique within the batch and disjoint from the index: id 10 (2 clashes)")
  }

  test("appendTo rejects an id repeated within the batch, naming the count") {
    checkRejected(dim => corpus(50, dim, 400L + _).union(corpus(3, dim, i => 420L + (i + 1) / 2)),
      "ingested ids must be unique within the batch and disjoint from the index: id 420 (3 clashes)")
  }

  test("appendTo rejects a wrongly-sized vector, naming the count") {
    checkRejected(dim => corpus(50, dim, 400L + _).union(corpus(2, dim + 1, 450L + _)),
      "ingested id 450 has 9 components, the index dimension is 8 (2 rows)")
  }

  test("retiring the old generation: delete is safe, freed vs shared bytes enumerated") {
    import org.apache.spark.sql.functions.col
    val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16,
      step = 4, quantized = true, quantLo = 0f, quantHi = 1f)
    val dim = 8
    val base = corpus(2000, dim, _.toLong)
    val batch = corpus(200, dim, i => 2000L + 16L * (i / 2) + (i % 2))
    val oldDir = java.nio.file.Files.createTempDirectory("graft_retire_old_").toString
    val newRoot = java.nio.file.Files.createTempDirectory("graft_retire_new_").toString
    val newDir = s"$newRoot/snap"
    try {
      VectorIndex.buildTo(base, params, 16, oldDir)
      val appended = VectorIndex.appendTo(spark, oldDir, batch, newDir)
      val qdf = corpus(20, dim, i => 900000L + i)
        .select(col("id").as("query_id"), col("embedding"))
      def probe(idx: VectorIndex) = idx.query(qdf, 10, searchWidth = 16)
        .select("query_id", "neighbor_id", "distance")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val before = probe(appended)

      // retirement accounting BEFORE the delete: bytes the delete FREES
      // (old-exclusive files, nlink == 1) vs bytes merely UNSHARED
      // (hardlinked into the new generation, nlink > 1 — the inode
      // survives the delete)
      import scala.jdk.CollectionConverters._
      def files(d: String) = java.nio.file.Files
        .walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet")).toSeq
      val (shared, freed) = files(oldDir).partition(p =>
        java.nio.file.Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] > 1)
      assert(shared.nonEmpty, "premise: some files must be shared via hardlink")
      assert(freed.nonEmpty,
        "premise: the rebuilt shards' old files must be old-exclusive")
      val sharedBytes = shared.map(java.nio.file.Files.size).sum
      val freedBytes = freed.map(java.nio.file.Files.size).sum
      assert(sharedBytes > 0 && freedBytes > 0)

      // DELETE the old generation wholesale, evict every resident graph
      // of the new handle (so nothing is served from memory), and
      // re-probe through a FRESH load — every byte must come off the new
      // snapshot's surviving files, bit-identically
      graft.streaming.StreamingOps.deleteRecursively(oldDir)
      assert(graft.index.ShardGraphCache.evict(appended.probeId) > 0,
        "premise: the probe above must have left resident graphs to evict")
      val fresh = VectorIndex.load(spark, newDir, cache = false)
      assert(probe(fresh) === before,
        "retiring the old snapshot corrupted the appended one")
      // the shared inodes are still alive through the new snapshot's links
      assert(files(newDir).nonEmpty)
    } finally {
      graft.streaming.StreamingOps.deleteRecursively(oldDir)
      graft.streaming.StreamingOps.deleteRecursively(newRoot)
    }
  }

  test("kept shards keep their checksums: a flipped byte in a hardlinked file fails the probe") {
    val dim = 8
    val oldDir = java.nio.file.Files.createTempDirectory("graft_appendto_crc_old_").toString
    val newRoot = java.nio.file.Files.createTempDirectory("graft_appendto_crc_new_").toString
    val newDir = s"$newRoot/snap"
    try {
      VectorIndex.buildTo(corpus(400, dim, _.toLong), IndexParams(), 4, oldDir)
      // new ids all land on shard 1: shards 0, 2 and 3 are kept
      VectorIndex.appendTo(spark, oldDir, corpus(20, dim, i => 1001L + 4L * i), newDir)
      def shardFiles(s: Int) = new java.io.File(s"$newDir/rows/sub_index_id=$s").listFiles().toSeq
      for (s <- Seq(0, 2, 3)) {
        val names = shardFiles(s).map(_.getName).toSet
        val data = names.filter(_.endsWith(".parquet"))
        assert(data.size === 1, s"shard $s: $names")
        assert(names(s".${data.head}.crc"), s"kept shard $s lost its checksum: $names")
      }
      // flip one byte of a kept file's footer, in place: the hardlink
      // shares the inode, and the checksum now disagrees with it
      val kept = shardFiles(0).find(_.getName.endsWith(".parquet")).get.toPath
      val bytes = java.nio.file.Files.readAllBytes(kept)
      bytes(bytes.length - 12) = (bytes(bytes.length - 12) ^ 0x5a).toByte
      java.nio.file.Files.write(kept, bytes)
      val qdf = corpus(4, dim, i => 900000L + i).select(col("id").as("query_id"), col("embedding"))
      val err = intercept[Throwable](
        VectorIndex.load(spark, newDir, cache = false).query(qdf, 5, searchWidth = 16).collect())
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => e.isInstanceOf[org.apache.hadoop.fs.ChecksumException] ||
        String.valueOf(e.getMessage).contains("ChecksumException")), err.toString)
    } finally {
      graft.streaming.StreamingOps.deleteRecursively(oldDir)
      graft.streaming.StreamingOps.deleteRecursively(newRoot)
    }
  }
}
