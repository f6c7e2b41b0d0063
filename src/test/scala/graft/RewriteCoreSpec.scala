package graft.index

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The one shard rewrite core ([[VectorIndex.rewriteShards]]) under LSM
  * compaction, `append`/`remove` and `appendTo`:
  *  - a compaction is one Spark job with one shuffle and no SQL
  *    execution, whose lost blocks are recomputed from that shuffle, and
  *    `appendTo` one job, its write, and no SQL execution;
  *  - an `appendTo` reads nothing of the shards its batch does not reach;
  *  - a compaction over every generation kind (driver-built,
  *    distributed, loaded from a snapshot), with tombstones in the base
  *    and in generations, equals a build over the live set, rows and meta
  *    included, by `compact()` and by `compactAsync()` and its swap;
  *  - an ingest, delete and probe loop holds one tombstone broadcast. */
class RewriteCoreSpec extends AnyFunSuite with SparkSuite {

  private val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2)

  /** Seeded 8-d vectors in [-1, 1) for `ids`, each a function of its id. */
  private def vectors(ids: Seq[Long], dim: Int = 8): Seq[(Long, Array[Float])] =
    ids.map { i =>
      val r = new scala.util.Random(i * 2654435761L + 17)
      (i, Array.fill(dim)(r.nextFloat() * 2 - 1))
    }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "embedding")
  }

  private def queries: DataFrame = {
    import spark.implicits._
    vectors(100000L until 100010L).toDF("query_id", "embedding")
  }

  /** Rows and meta equal, bit for bit. */
  private def sameIndex(a: VectorIndex, b: VectorIndex): Boolean = {
    def canon(idx: VectorIndex) = idx.rows.collect().toSeq.map(r => (r.sub_index_id, r.offset,
      r.global_id, r.layer, r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2))
    a.numShards == b.numShards && a.meta.toSeq == b.meta.toSeq && canon(a) == canon(b)
  }

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rewrite_").toString
    try f(dir) finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("work counter: compact() runs 1 job with 1 shuffle and no SQL execution") {
    val base = VectorIndex.build(frame(vectors(0L until 400L)), params, numShards = 4)
    val lsm = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = 40)
      .ingest(frame(vectors(400L until 430L))) // built on the driver
      .ingest(frame(vectors(430L until 500L))) // distributed, 2 shards
      .delete(Seq(3L, 17L, 420L, 450L))
    lsm.query(queries, 10, 16).collect() // lays out the members
    val (compacted, work) = workDuring(lsm.compact())
    assert(work.jobs == 1 && work.shuffles == 1 && work.sqlExecutions == 0,
      s"compact ran $work")
    assert(compacted.base.meta.map(_.n_vectors).sum == 496)
    // a lost block is recomputed from the compaction's shuffle output:
    // the folded driver-built generation's graph is gone
    def answers() = compacted.query(queries, 10, 0).collect().map(_.toSeq).toSeq
    val want = answers()
    assert(org.apache.spark.graft.DriverBlocks.dropRddBlock(compacted.base.probeLayout.id, 1))
    assert(answers() == want, "the recomputed shard answers differently")
    compacted.unpersist(); base.unpersist()
  }

  test("work counter: appendTo runs 1 job, its write, and no SQL execution") {
    withDir { dir =>
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0").unpersist()
      val (appended, work) = workDuring(VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors(400L until 500L)), s"$dir/g1"))
      assert(work.jobs == 1 && work.sqlExecutions == 0, s"appendTo ran $work")
      assert(appended.meta.map(_.n_vectors).sum == 500)
      appended.unpersist()
    }
  }

  test("an appendTo whose ids hash into 2 of 4 shards reads nothing of the other two") {
    withDir { dir =>
      // shards 2 and 3 hold ten times the rows of shards 0 and 1
      val base = (0L until 4000L).filter(i => i % 4 >= 2 || i < 400)
      VectorIndex.buildTo(frame(vectors(base)), params, 4, s"$dir/g0").unpersist()
      def files(s: Int) = new java.io.File(s"$dir/g0/rows/sub_index_id=$s").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSeq
      val kept = files(2) ++ files(3)
      val touchedBytes = (files(0) ++ files(1)).map(_.length).sum
      // a read of any byte of a kept shard now fails: not a parquet file
      kept.foreach(f => java.nio.file.Files.write(f.toPath, new Array[Byte](f.length.toInt)))
      val (appended, work) = workDuring(VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors((4000L until 4200L).filter(_ % 4 < 2))), s"$dir/g1"))
      // and less than one kept shard holds was read in all
      assert(work.inputBytes > 0 && work.inputBytes < kept.map(_.length).min,
        s"appendTo read ${work.inputBytes} bytes; shards 0 and 1 hold $touchedBytes")
      assert(appended.meta.map(_.sub_index_id).toSeq == Seq(0, 1, 2, 3))
      assert(appended.meta.take(2).map(_.n_vectors).sum == 300)
    }
  }

  test("appendTo over an empty batch throws and leaves no meta.json at newPath") {
    withDir { dir =>
      VectorIndex.buildTo(frame(vectors(0L until 100L)), params, 4, s"$dir/g0").unpersist()
      val e = intercept[IllegalArgumentException](
        VectorIndex.appendTo(spark, s"$dir/g0", frame(Nil), s"$dir/g1"))
      assert(e.getMessage.contains("appendTo over an empty batch"), e.getMessage)
      assert(!new java.io.File(s"$dir/g1/meta.json").exists)
      assert(!new java.io.File(s"$dir/g1/rows").exists, "the empty publish left rows behind")
    }
  }

  test("compaction over driver-built, distributed and snapshot generations equals build over the live set") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val (a, b, c, d) = (vectors(200L until 220L), vectors(220L until 300L),
      vectors(300L until 320L), vectors(320L until 400L))
    // tombstones in the base, a driver-built, a distributed and a snapshot generation
    val (dead1, dead2) = (Set(3L, 40L, 205L, 230L), Set(41L, 122L, 250L, 310L, 330L))
    val live = (vectors(0L until 200L) ++ a ++ b ++ c ++ d)
      .filterNot(v => dead1(v._1) || dead2(v._1))
    val variants = Seq(
      "float" -> params,
      "SQ8" -> params.copy(quantized = true, quantLo = -1f, quantHi = 1f),
      "cosine" -> params.copy(normalizeForCosine = true),
      "MIPS" -> params.copy(augmentForMips = true, mipsMaxNorm = 3f))
    for ((name, p) <- variants) withDir { dir =>
      val base = VectorIndex.build(frame(vectors(0L until 200L)), p, numShards = 4)
      // a (20 rows) is built on the driver, b (80 rows) in 2 shards of 40
      val saved = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = 40)
        .ingest(frame(a)).ingest(frame(b)).delete(dead1)
      saved.save(dir)
      saved.unpersist(); base.unpersist()
      def mixed() = LsmVectorIndex.load(spark, dir)
        .ingest(frame(c)).ingest(frame(d)).delete(dead2)
      val first = mixed()
      assert(first.generations.map(_.numShards) == Seq(1, 2, 1, 2) &&
        first.generations(2).driverGraphBroadcastId.nonEmpty, s"$name: premise")
      val full = VectorIndex.build(frame(live), p, numShards = 4)
      val compacted = first.compact()
      assert(compacted.tombstones.isEmpty && sameIndex(compacted.base, full), s"$name: compact()")
      compacted.unpersist()
      val second = mixed()
      val swap = Await.result(second.compactAsync(), Duration(180, "seconds"))
      val swapped = swap(second)
      assert(swapped.generations.isEmpty && swapped.tombstones == dead1 ++ dead2)
      val purged = swapped.compact()
      assert(sameIndex(purged.base, full), s"$name: compactAsync() + swap + compact()")
      purged.unpersist(); full.unpersist()
    }
  }

  test("an id in two generations fails the compaction as not disjoint") {
    val base = VectorIndex.build(frame(vectors(0L until 100L)), params, numShards = 4)
    val lsm = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = 40)
      .ingest(frame(vectors(100L until 110L)))
      .ingest(frame(vectors(105L until 160L))) // distributed, and clashes on 105-109
    val e = intercept[IllegalArgumentException](lsm.compact())
    assert(e.getMessage ===
      "ingested ids must be unique within the batch and disjoint from the index: id 105 (5 clashes)")
    lsm.unpersist(); base.unpersist()
  }

  test("an ingest, delete and probe loop holds at most one live tombstone broadcast") {
    import org.apache.spark.graft.DriverBlocks
    def tombstoneBroadcasts() = DriverBlocks.broadcastsHolding(_.isInstanceOf[Array[Long]])
    val earlier = tombstoneBroadcasts()
    // destroying a broadcast is asynchronous: wait up to 10 s for at
    // most `limit` to be live
    def live(limit: Int): Set[Long] = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var held = tombstoneBroadcasts() -- earlier
      while (held.size > limit && System.nanoTime() < deadline) {
        Thread.sleep(50)
        held = tombstoneBroadcasts() -- earlier
      }
      held
    }
    val base = VectorIndex.build(frame(vectors(0L until 200L)), params, numShards = 4)
    var lsm = LsmVectorIndex(base, compactThreshold = 1000000)
    for (step <- 0 until 10) {
      lsm = lsm.ingest(frame(vectors(200L + 10 * step until 210L + 10 * step)))
        .delete(Seq(step.toLong))
      assert(lsm.query(queries, 10, 0).collect().length == 100)
      val held = live(1)
      assert(held.size <= 1, s"step $step: ${held.size} tombstone broadcasts are live")
    }
    val compacted = lsm.compact()
    assert(live(0).isEmpty, "compaction left the tombstone broadcast live")
    compacted.unpersist(); base.unpersist()
  }
}
