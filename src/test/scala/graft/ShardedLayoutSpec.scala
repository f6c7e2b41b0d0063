package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.{IndexParams, IndexRow, VectorIndex}

/** Gates for the one snapshot layout, `rows/sub_index_id=s/` with one
  * file per non-empty shard, named in `meta.json`:
  *  - equivalence: rows, meta and every probe face (exact, beam,
  *    driverless distributed, multi-width) of a snapshot equal those of
  *    the in-memory build, and `save` writes one directory per non-empty
  *    shard, bit-identical;
  *  - plan property: a loaded snapshot's probe layout has NO shuffle
  *    dependency and carries the ShardPartitioner (queryDistributed's zip
  *    relies on partition index == shard id); its first probe is one job
  *    of one stage; `load`, a cold probe and an `appendTo` list no
  *    directory; buildTo and save plan no query;
  *  - legacy: a snapshot whose `meta.json` names no files (written with
  *    `edges`, through Spark's partitioned write) loads, answers and
  *    appends as a named one does, found by one listing;
  *  - safety: a deleted shard directory fails the probe, naming the
  *    shard, a snapshot without meta.json is refused, and so is a flat
  *    snapshot (part files directly under rows/, as written before the
  *    shard directories), naming its migration, before any job. */
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

  /** A snapshot as written before `meta.json` named its files: the rows,
    * `edges` included, through Spark's write partitioned by shard, then
    * sidecars whose meta lines name no file. */
  private def writeLegacy(idx: VectorIndex, path: String): Unit = {
    idx.rows.write.partitionBy("sub_index_id").parquet(s"$path/rows")
    VectorIndex.writeMetaAndParams(spark, path, idx.meta, idx.params, idx.numShards, idx.indexId,
      Some(dim))
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

  test("sharded layout: shuffle-free aligned probe == in-memory build on every face") {
    withDir { dir =>
      val mem = VectorIndex.build(corpus(0L until 900L), params, numShards = 4)
      val native = VectorIndex.buildTo(corpus(0L until 900L), params, 4, s"$dir/native")
      val files = shardFiles(s"$dir/native")
      assert(files.keySet == (0 until 4).map(s => s"sub_index_id=$s").toSet &&
        files.values.forall(_.length == 1), s"one file per shard directory: $files")

      // rows, adjacency and meta are bit-identical to the in-memory build
      assert(native.meta.toSeq == mem.meta.toSeq)
      assert(canon(native) == canon(mem), "native snapshot rows differ from the build")
      assert(canon(native.probeLayout.flatMap(VectorIndex.dehydrate).collect().toSeq) == canon(mem),
        "the shard directories' probe layout differs from the build")

      // plan property: narrow, aligned, shard-partitioned
      val layout = native.probeLayout
      assert(layout.partitions.length === 4)
      assert(layout.partitioner.exists(_.numPartitions == 4),
        "aligned layout must carry the shard partitioner")
      assert(!hasShuffle(layout), "a native snapshot's probe layout must not shuffle")

      probes(native).zip(probes(mem)).zipWithIndex.foreach { case ((got, w), i) =>
        assert(got === w, s"probe face $i of the snapshot differs from the build")
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
      assert(probe.jobs == 1 && probe.stages == 1 && probe.shuffleWriteBytes == 0,
        s"first probe after load ran $probe")
      assert(res.length == 60)
    }
  }

  test("buildTo and save plan no query: one job, whose tasks write the shard files") {
    withDir { dir =>
      val (built, buildTo) = workDuring(
        VectorIndex.buildTo(corpus(0L until 200L), params, 4, s"$dir/snap"))
      val mem = VectorIndex.build(corpus(0L until 200L), params, numShards = 4)
      val (_, save) = workDuring(mem.save(s"$dir/saved"))
      for ((name, w) <- Seq("buildTo" -> buildTo, "save" -> save))
        assert(w.jobs == 1 && w.sqlExecutions == 0, s"$name ran $w")
      // buildTo's one optimized plan is the select that reads its corpus
      assert(buildTo.optimizerRuns == 1 && save.optimizerRuns == 0, s"buildTo ran $buildTo, save $save")
      Seq(built, mem).foreach(_.unpersist())
    }
  }

  test("save of a sparse in-memory index writes one directory per non-empty shard, bit-identical") {
    withDir { dir =>
      // 8 shards over ids on residues {1, 2, 5}: five shards are empty
      val sparse = corpus((0L until 90L).map(i => 8 * (i / 3) + Seq(1, 2, 5)((i % 3).toInt)))
      val mem = VectorIndex.build(sparse, params, numShards = 8)
      mem.save(s"$dir/saved")
      assert(shardFiles(s"$dir/saved").keySet == Set(1, 2, 5).map(s => s"sub_index_id=$s"))
      assert(shardFiles(s"$dir/saved").values.forall(_.length == 1))
      val saved = VectorIndex.load(spark, s"$dir/saved", cache = false)
      assert(saved.meta.toSeq == mem.meta.toSeq)
      assert(canon(saved) == canon(mem))
      assert(saved.probeLayout.partitions.length == 8 && !hasShuffle(saved.probeLayout))
      assert(probes(saved) == probes(mem))
      mem.unpersist()
    }
  }

  test("load lists no directory: it reads the sidecars alone") {
    withDir { dir =>
      VectorIndex.buildTo(corpus(0L until 400L), params, 4, s"$dir/snap").unpersist()
      val (idx, load) = workDuring(VectorIndex.load(spark, listfs(s"$dir/snap"), cache = false))
      assert(load.listings == 0 && load.jobs == 0, s"load ran $load")
      assert(idx.meta.map(_.n_vectors).sum == 400)
    }
  }

  test("a cold probe and an appendTo of a snapshot whose meta.json names its files list no directory") {
    withDir { dir =>
      VectorIndex.buildTo(corpus(0L until 400L), params, 4, s"$dir/g0").unpersist()
      val qdf = queries.toDF("query_id", "embedding")
      val loaded = VectorIndex.load(spark, listfs(s"$dir/g0"), cache = false)
      val (_, cold) = workDuring(loaded.query(qdf, 10, 8).collect())
      assert(cold.listings == 0 && cold.jobs == 1, s"the cold probe ran $cold")
      // ids on residues {0, 1}: shards 2 and 3 are kept, their files linked
      val (appended, append) = workDuring(VectorIndex.appendTo(spark, listfs(s"$dir/g0"),
        corpus((400L until 500L).filter(_ % 4 < 2)), listfs(s"$dir/g1")))
      assert(append.listings == 0 && append.jobs == 1, s"appendTo ran $append")
      assert(appended.meta.map(_.n_vectors).sum == 450)
      loaded.unpersist()
    }
  }

  test("a snapshot whose meta.json names no files loads, answers and appends as a named one") {
    withDir { dir =>
      val mem = VectorIndex.build(corpus(0L until 400L), params, numShards = 4)
      writeLegacy(mem, s"$dir/legacy")
      assert(!scala.io.Source.fromFile(s"$dir/legacy/meta.json").mkString.contains("file"),
        "premise: meta.json names no files")
      assert(spark.read.parquet(s"$dir/legacy/rows").columns.contains("edges"),
        "premise: the files store edges")
      val legacy = VectorIndex.load(spark, s"$dir/legacy", cache = false)
      assert(legacy.meta.toSeq == mem.meta.toSeq)
      assert(canon(legacy) == canon(mem), "the legacy snapshot's rows differ from the build")
      assert(probes(legacy) == probes(mem))

      // the one listing: rows/ and each shard directory
      val qdf = queries.toDF("query_id", "embedding")
      val (_, cold) = workDuring(
        VectorIndex.load(spark, listfs(s"$dir/legacy"), cache = false).query(qdf, 10, 8).collect())
      assert(cold.listings == 5, s"the cold probe ran $cold")

      // an appendTo onto 2 of its 4 shards writes a snapshot that names every file
      val added = (400L until 500L).filter(_ % 4 < 2)
      val (appended, append) = workDuring(VectorIndex.appendTo(spark, listfs(s"$dir/legacy"),
        corpus(added), s"$dir/next"))
      assert(append.listings == 5 && append.jobs == 1, s"appendTo ran $append")
      val lines = scala.io.Source.fromFile(s"$dir/next/meta.json").getLines().toSeq
      assert(lines.length == 4 && lines.forall(l => l.contains("\"file\"") && l.contains("\"bytes\"")),
        lines.mkString("\n"))
      val full = VectorIndex.build(corpus((0L until 400L) ++ added), params, numShards = 4)
      assert(appended.meta.toSeq == full.meta.toSeq)
      assert(canon(appended) == canon(full), "the appended snapshot's rows differ from the build")
      assert(probes(appended) == probes(full))
      Seq(mem, legacy, appended, full).foreach(_.unpersist())
    }
  }

  test("a flat snapshot is refused by its first probe and by appendTo, naming the migration, before any job") {
    withDir { dir =>
      val mem = VectorIndex.build(corpus(0L until 200L), params, numShards = 4)
      writeFlat(mem, s"$dir/flat")
      assert(shardFiles(s"$dir/flat").keySet == Set(""), "premise: the snapshot is flat")
      val flat = VectorIndex.load(spark, s"$dir/flat", cache = false)
      val qdf = queries.toDF("query_id", "embedding")
      val (probed, probe) = workDuring(intercept[IllegalArgumentException](flat.query(qdf, 10, 8)))
      val (appended, append) = workDuring(intercept[IllegalArgumentException](
        VectorIndex.appendTo(spark, s"$dir/flat", corpus(1000L until 1010L), s"$dir/next")))
      Seq(probed, appended).foreach { e =>
        assert(e.getMessage.contains(s"$dir/flat") && e.getMessage.contains("load(old).save(new)"),
          e.getMessage)
      }
      assert(probe.jobs == 0 && append.jobs == 0, s"the refusals ran $probe and $append")
      assert(!new java.io.File(s"$dir/next/meta.json").exists, "a refused appendTo wrote meta.json")
      flat.unpersist()
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
