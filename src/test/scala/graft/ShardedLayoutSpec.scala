package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, IndexRow, VectorIndex}

/** Gates for the one snapshot layout, `rows/sub_index_id=s/` with one
  * file per non-empty shard, and for the flat layout of snapshots
  * written before it, which still load:
  *  - equivalence: rows, meta and every probe face (exact, beam,
  *    driverless distributed, multi-width) of a native snapshot equal
  *    those of a flat one and of the in-memory build;
  *  - plan property: a loaded snapshot's probe layout has NO shuffle
  *    dependency and carries the ShardPartitioner (queryDistributed's zip
  *    relies on partition index == shard id); its first probe is one job
  *    of one stage, and buildTo's write plans no Sort above the build;
  *  - legacy: appendTo onto a flat snapshot equals a build over the
  *    union, and `load(flat).save(new)` migrates it;
  *  - safety: a deleted shard directory fails the probe, naming the
  *    shard, and a snapshot without meta.json is refused. */
class ShardedLayoutSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private val dim = 8
  private val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16,
    step = 4, quantized = true, quantLo = 0f, quantHi = 1f)

  private def corpus(ids: Seq[Long]): DataFrame = ids.map { id =>
    val r = new scala.util.Random(id * 2654435761L + 99)
    (id, Array.fill(dim)(r.nextFloat()))
  }.toDF("id", "embedding")

  private val queries = (0L until 6L).map { qid =>
    val r = new scala.util.Random(qid * 104729 + 31)
    (qid, Array.fill(dim)(r.nextFloat()))
  }

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sharded_").toString
    try f(dir) finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  /** A snapshot as written before the shard directories: the rows as
    * flat part files under rows/, then the sidecars. */
  private def writeFlat(idx: VectorIndex, path: String): Unit = {
    idx.rows.write.parquet(s"$path/rows")
    VectorIndex.writeMetaAndParams(spark, path, idx.meta, idx.params, idx.numShards, idx.indexId)
  }

  /** Index rows in a comparable form, adjacency included. */
  private def canon(rows: Seq[IndexRow]) =
    rows.map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2))
  private def canon(idx: VectorIndex): Seq[Any] = canon(idx.rows.collect().toSeq)

  private def hasShuffle(rdd: org.apache.spark.rdd.RDD[_]): Boolean =
    rdd.dependencies.exists {
      case _: org.apache.spark.ShuffleDependency[_, _, _] => true
      case d => hasShuffle(d.rdd)
    }

  /** shard -> part files of a snapshot's rows/; a flat file has no shard. */
  private def shardFiles(path: String): Map[String, Seq[String]] =
    new java.io.File(s"$path/rows").listFiles().toSeq.collect {
      case d if d.isDirectory => d.getName -> d.list().toSeq.filter(_.startsWith("part-"))
      case f if f.getName.startsWith("part-") => "" -> Seq(f.getName)
    }.groupMapReduce(_._1)(_._2)(_ ++ _)

  private def probes(idx: VectorIndex): Seq[Set[(Long, Int, Long)]] = {
    val qdf = queries.toDF("query_id", "embedding")
    Seq(
      idx.query(qdf, 10, 0), // exact scan
      idx.query(qdf, 10, 8), // beam
      idx.queryDistributed(qdf, 10, 4), // driverless zip against layout
      idx.queryBatchMultiWidth(queries.toArray, 10, Seq(2, 8))
        .select(col("query_id") * 100 + col("search_width"),
          col("rank"), col("neighbor_id"))
    ).map(_.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
  }

  test("sharded layout: shuffle-free aligned probe == legacy probe on every face") {
    withDir { dir =>
      val mem = VectorIndex.build(corpus(0L until 900L), params, numShards = 4)
      writeFlat(mem, s"$dir/flat")
      val native = VectorIndex.buildTo(corpus(0L until 900L), params, 4, s"$dir/native")
      val flat = VectorIndex.load(spark, s"$dir/flat", cache = false)
      val files = shardFiles(s"$dir/native")
      assert(files.keySet == (0 until 4).map(s => s"sub_index_id=$s").toSet &&
        files.values.forall(_.length == 1), s"one file per shard directory: $files")
      assert(shardFiles(s"$dir/flat").keySet == Set(""), "premise: the flat snapshot is flat")

      // rows, adjacency and meta are bit-identical to the in-memory build
      assert(native.meta.toSeq == mem.meta.toSeq && flat.meta.toSeq == mem.meta.toSeq)
      assert(canon(native) == canon(mem), "native snapshot rows differ from the build")
      assert(canon(flat) == canon(mem), "flat snapshot rows differ from the build")
      assert(canon(native.probeLayout.flatMap(VectorIndex.dehydrate).collect().toSeq) == canon(mem),
        "the shard directories' probe layout differs from the build")

      // plan property: narrow, aligned, shard-partitioned
      val layout = native.probeLayout
      assert(layout.partitions.length === 4)
      assert(layout.partitioner.nonEmpty, "aligned layout must carry the partitioner")
      assert(!hasShuffle(layout), "a native snapshot's probe layout must not shuffle")
      assert(hasShuffle(flat.probeLayout), "premise: a flat snapshot's layout shuffles")

      val want = probes(mem)
      Seq("native" -> native, "flat" -> flat).foreach { case (name, idx) =>
        probes(idx).zip(want).zipWithIndex.foreach { case ((got, w), i) =>
          assert(got === w, s"probe face $i of the $name snapshot differs from the build")
        }
      }
      mem.unpersist()
    }
  }

  test("work counter: a loaded snapshot's first probe is 1 job of 1 stage with no shuffle") {
    withDir { dir =>
      VectorIndex.buildTo(corpus(0L until 400L), params, 4, s"$dir/snap").unpersist()
      val loaded = VectorIndex.load(spark, s"$dir/snap", cache = false)
      val qdf = queries.toDF("query_id", "embedding")
      val (res, probe) = workDuring(loaded.query(qdf, 10, 8).collect())
      // a flat snapshot runs 2 stages here: the layout exchange, then the probe
      assert(probe.jobs == 1 && probe.stages == 1 && probe.shuffleWriteBytes == 0,
        s"first probe after load ran $probe")
      assert(res.length == 60)
    }
  }

  test("buildTo's write plans no Sort above the shard build") {
    withDir { dir =>
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.treeString)
        def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        VectorIndex.buildTo(corpus(0L until 200L), params, 4, s"$dir/snap").unpersist()
        org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
      } finally spark.listenerManager.unregister(l)
      import scala.jdk.CollectionConverters._
      val writes = plans.asScala.filter(_.contains("WriteFiles")).toSeq
      assert(writes.length == 1, s"expected one write plan, saw ${writes.length}")
      assert(!writes.head.contains(" Sort ["), s"the shard write sorts:\n${writes.head}")
    }
  }

  test("appendTo onto a flat snapshot equals a build over the union and writes shard directories") {
    withDir { dir =>
      val base = corpus(0L until 600L)
      // new ids on residues {1, 2} of 4
      val batch = corpus((0L until 60L).map(i => 1000L + 4 * (i / 2) + 1 + i % 2))
      val old = VectorIndex.build(base, params, numShards = 4)
      writeFlat(old, s"$dir/flat")
      val appended = VectorIndex.appendTo(spark, s"$dir/flat", batch, s"$dir/next")
      val full = VectorIndex.build(base.union(batch), params, numShards = 4)
      assert(appended.meta.toSeq == full.meta.toSeq)
      assert(canon(appended) == canon(full))
      assert(shardFiles(s"$dir/next").keySet == (0 until 4).map(s => s"sub_index_id=$s").toSet)
      assert(shardFiles(s"$dir/next").values.forall(_.length == 1))
      assert(!hasShuffle(appended.probeLayout))
      assert(probes(appended) == probes(full))
      Seq(old, full).foreach(_.unpersist())
    }
  }

  test("load(flat).save(new) writes one directory per non-empty shard, bit-identical") {
    withDir { dir =>
      // 8 shards over ids on residues {1, 2, 5}: five shards are empty
      val sparse = corpus((0L until 90L).map(i => 8 * (i / 3) + Seq(1, 2, 5)((i % 3).toInt)))
      val mem = VectorIndex.build(sparse, params, numShards = 8)
      writeFlat(mem, s"$dir/flat")
      VectorIndex.load(spark, s"$dir/flat", cache = false).save(s"$dir/migrated")
      assert(shardFiles(s"$dir/migrated").keySet == Set(1, 2, 5).map(s => s"sub_index_id=$s"))
      assert(shardFiles(s"$dir/migrated").values.forall(_.length == 1))
      val migrated = VectorIndex.load(spark, s"$dir/migrated", cache = false)
      assert(migrated.meta.toSeq == mem.meta.toSeq)
      assert(canon(migrated) == canon(mem))
      assert(migrated.probeLayout.partitions.length == 8 && !hasShuffle(migrated.probeLayout))
      assert(probes(migrated) == probes(mem))
      mem.unpersist()
    }
  }

  test("a deleted shard directory fails the probe, naming the shard") {
    withDir { dir =>
      VectorIndex.buildTo(corpus(0L until 400L), params, 4, s"$dir/snap").unpersist()
      graft.streaming.StreamingOps.deleteRecursively(s"$dir/snap/rows/sub_index_id=2")
      val idx = VectorIndex.load(spark, s"$dir/snap", cache = false)
      val e = intercept[Exception](idx.query(queries.toDF("query_id", "embedding"), 10, 0).collect())
      assert(e.getMessage.contains("shard 2: empty partition, meta says"), e.getMessage)
    }
  }

  test("a snapshot without meta.json is refused, naming the file") {
    withDir { dir =>
      VectorIndex.buildTo(corpus(0L until 100L), params, 4, s"$dir/snap").unpersist()
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/snap/meta.json"))
      val e = intercept[IllegalArgumentException](VectorIndex.load(spark, s"$dir/snap"))
      assert(e.getMessage.contains("meta.json"), e.getMessage)
    }
  }
}
