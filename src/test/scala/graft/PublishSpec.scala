package graft.index

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** Snapshot publish ([[VectorIndex.buildTo]], [[VectorIndex.appendTo]]):
  * one build-and-write pass that reads nothing back, with `meta.json` as
  * the commit point.
  *  - A directory whose publish was rejected or failed part-way is
  *    refused by `load`; a stale `meta.json` never meets new rows.
  *  - `appendTo` onto all 4 shards runs 1 job, its write, in which each
  *    shard's task finds and rebuilds its own changes; `buildTo` runs
  *    1, its write, whose tasks build the shards.
  *  - The published rows and meta equal [[VectorIndex.build]] over the
  *    union bit for bit.
  *  - `params.json` records the index dimension, and a snapshot written
  *    without it still appends.
  *  - Each shard directory holds the one file `meta.json` names, and no
  *    committer file; a stray part file is never read, and the next
  *    publish into the path removes it.
  *  - `save` onto the snapshot a handle was loaded from is refused before
  *    anything is deleted, and an LSM save that fails part-way leaves a
  *    directory `LsmVectorIndex.load` refuses, naming `lsm.json`. */
class PublishSpec extends AnyFunSuite with SparkSuite {

  private val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2)

  /** Seeded 8-d vectors in [-1, 1) for `ids`, each a function of its id. */
  private def vectors(ids: Seq[Long], dim: Int = 8): Seq[(Long, Array[Float])] =
    ids.map { i =>
      val r = new scala.util.Random(i * 2654435761L + 5)
      (i, Array.fill(dim)(r.nextFloat() * 2 - 1))
    }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "embedding")
  }

  /** Index rows in a comparable form: adjacency included, ordered by
    * (shard, offset). */
  private def canon(idx: VectorIndex) =
    idx.rows.collect().toSeq.map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2))

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_publish_").toString
    try f(dir) finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  private def refused(path: String): Unit = {
    val e = intercept[IllegalArgumentException](VectorIndex.load(spark, path, cache = false))
    assert(e.getMessage.contains("meta.json"), e.getMessage)
  }

  test("a rejected or failed publish over an existing snapshot leaves a directory load refuses") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failwrite.impl", classOf[FailingWriteFs].getName)
    conf.set("fs.AbstractFileSystem.failwrite.impl", classOf[FailingWriteAfs].getName)
    withDir { dir =>
      try {
        val (old, target) = (s"$dir/old", s"$dir/target")
        VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, old).unpersist()
        def occupy(): Unit = {
          VectorIndex.buildTo(frame(vectors(0L until 100L)), params, 4, target).unpersist()
          VectorIndex.load(spark, target, cache = false)
        }

        // a batch rejected after its rows were written
        occupy()
        intercept[IllegalArgumentException](VectorIndex.appendTo(spark, old,
          frame(vectors(400L until 440L) ++ vectors(Seq(7L))), target))
        refused(target)
        assert(!new java.io.File(s"$target/rows").exists, "the rejected rows were left behind")

        // a row file that fails part-way, under appendTo and under buildTo
        FailingWriteFs.target = "part-"
        occupy()
        intercept[Exception](VectorIndex.appendTo(spark, old,
          frame(vectors(400L until 440L)), s"failwrite://$target"))
        refused(target)
        occupy()
        intercept[Exception](VectorIndex.buildTo(frame(vectors(0L until 300L)), params, 4,
          s"failwrite://$target"))
        refused(target)
        FailingWriteFs.target = "\u0000"

        // the old snapshot is untouched, and the directory publishes again
        assert(VectorIndex.load(spark, old, cache = false).meta.map(_.n_vectors).sum == 400)
        val again = VectorIndex.appendTo(spark, old, frame(vectors(400L until 440L)), target)
        assert(again.meta.map(_.n_vectors).sum == 440)
      } finally {
        FailingWriteFs.target = "\u0000"
        conf.unset("fs.failwrite.impl")
        conf.unset("fs.AbstractFileSystem.failwrite.impl")
      }
    }
  }

  test("work counter: appendTo onto all 4 shards runs 1 job, and buildTo 1, its write") {
    withDir { dir =>
      val (built, buildWork) = workDuring(
        VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0"))
      // the write, whose tasks build the shards their rows reach
      assert(buildWork.jobs <= 1, s"buildTo ran $buildWork")
      // its cached rows would be filled by the append's read of g0
      built.unpersist()
      // contiguous ids touch every shard
      val (appended, appendWork) = workDuring(VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors(400L until 500L)), s"$dir/g1"))
      assert(appended.meta.length == 4 && appended.meta.map(_.n_vectors).sum == 500)
      // the write, whose tasks rebuild the shards their changes reach
      assert(appendWork.jobs <= 1, s"appendTo ran $appendWork")
      appended.unpersist()
    }
  }

  test("appendTo from a buildTo handle still live runs 1 job and persists nothing") {
    withDir { dir =>
      // not unpersisted: a cache this handle registered lazily would be
      // filled by the append's read of g0
      val built = VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0")
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val (appended, work) = workDuring(VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors(400L until 500L)), s"$dir/g1"))
      assert(work.jobs <= 1, s"appendTo ran $work")
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        "appendTo left a persisted RDD")
      Seq(built, appended).foreach(_.unpersist())
    }
  }

  test("work counter: buildTo then optimize runs 2 jobs: the write, one graph read") {
    withDir { dir =>
      val (idx, work) = workDuring(
        VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0").optimize())
      assert(work.jobs <= 2, s"buildTo(...).optimize() ran $work")
      idx.unpersist()
    }
  }

  test("residency: probes read resident graphs; evicted or lost ones are re-read or rebuilt exactly") {
    import org.apache.spark.graft.DriverBlocks
    val qs = frame(vectors(10000L until 10100L)).withColumnRenamed("id", "query_id")
    def answers(idx: VectorIndex) = idx.query(qs, 10, 8).collect().map(_.toSeq).toSeq
    withDir { dir =>
      val loaded = VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0")
        .optimize()
      val (want, warm) = workDuring(answers(loaded))
      assert(warm.jobs == 1 && warm.inputBytes == 0, s"a probe after optimize() ran $warm")
      assert(ShardGraphCache.evict(loaded.indexId) == 4)
      val (again, cold) = workDuring(answers(loaded))
      assert(cold.inputBytes > 0, s"the probe after evict ran $cold")
      assert(again == want, "the probe after evict answers differently")

      // a lost block: the loaded shard is re-read, the built one rebuilt
      val mem = VectorIndex.build(frame(vectors(0L until 400L)), params, 4)
      for ((name, idx) <- Seq("loaded" -> loaded, "build" -> mem)) {
        assert(DriverBlocks.dropRddBlock(idx.probeLayout.id, 2), s"$name: shard 2 was not resident")
        assert(ShardGraphCache.peek(idx.indexId, 2) == null, s"$name: peek sees a dropped block")
        assert(answers(idx) == want, s"$name: the recomputed shard answers differently")
        assert(ShardGraphCache.peek(idx.indexId, 2) != null, s"$name: the recomputed shard is not resident")
      }
      Seq(loaded, mem).foreach(_.unpersist())
    }
  }

  test("appendTo rows and meta equal build over the union: float, SQ8, cosine, MIPS, schedule") {
    val cases = Seq(
      "float" -> params,
      "SQ8" -> params.copy(quantized = true, quantLo = -1f, quantHi = 1f),
      "cosine" -> params.copy(normalizeForCosine = true),
      "MIPS" -> params.copy(augmentForMips = true, mipsMaxNorm = 3f),
      // shards hold 100 ids before the append and 125 after it
      "schedule" -> params.copy(schedule = Seq(ParamStep(0, 2, 8), ParamStep(110, 4, 16))))
    val (base, added) = (vectors(0L until 400L), vectors(400L until 500L))
    cases.foreach { case (name, p) =>
      withDir { dir =>
        VectorIndex.buildTo(frame(base), p, 4, s"$dir/g0").unpersist()
        val appended = VectorIndex.appendTo(spark, s"$dir/g0", frame(added), s"$dir/g1")
        val full = VectorIndex.build(frame(base ++ added), p, 4)
        assert(appended.meta.toSeq == full.meta.toSeq, s"$name: meta differs")
        assert(canon(appended) == canon(full), s"$name: rows differ")
        Seq(appended, full).foreach(_.unpersist())
      }
    }
  }

  test("params.json records the dimension; a snapshot written without it still appends") {
    withDir { dir =>
      def paramsText(path: String) = VectorIndex.readSmallFile(spark, s"$path/params.json")
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0").unpersist()
      assert(paramsText(s"$dir/g0").contains("\"dimension\":8"), paramsText(s"$dir/g0"))
      val (dim, jobs) = jobsDuring(VectorIndex.load(spark, s"$dir/g0", cache = false).dimension)
      assert(dim == 8 && jobs == 0, s"dimension $dim read in $jobs jobs")

      // the key absent, as earlier versions wrote params.json
      val without = paramsText(s"$dir/g0").replaceAll(",?\"dimension\":\\d+", "")
      assert(!without.contains("dimension"))
      VectorIndex.writeSmallFile(spark, s"$dir/g0/params.json", without)
      val (appended, work) = workDuring(VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors(400L until 500L)), s"$dir/g1"))
      // one more job: the one-row read of the dimension
      assert(work.jobs <= 2, s"appendTo ran $work")
      assert(paramsText(s"$dir/g1").contains("\"dimension\":8"), paramsText(s"$dir/g1"))
      val full = VectorIndex.build(frame(vectors(0L until 500L)), params, 4)
      assert(appended.meta.toSeq == full.meta.toSeq && canon(appended) == canon(full))
      val wrong = intercept[IllegalArgumentException](VectorIndex.appendTo(spark, s"$dir/g0",
        frame(vectors(500L until 502L, dim = 9)), s"$dir/g2"))
      assert(wrong.getMessage === "ingested id 500 has 9 components, the index dimension is 8 (2 rows)")
      Seq(appended, full).foreach(_.unpersist())
    }
  }

  /** Shard id -> the file and length `meta.json` names for it. */
  private def named(path: String): Map[Int, (String, Long)] =
    Sidecar.readLines[Sidecar.MetaLine](spark, s"$path/meta.json").get
      .map(l => l.sub_index_id -> (l.file.get, l.bytes.get)).toMap

  /** Every file and directory under `dir`, as paths relative to it. */
  private def tree(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala.map(root.relativize(_).toString).toSeq
  }

  test("each shard directory holds the one file meta.json names, and no committer file") {
    withDir { dir =>
      val mem = VectorIndex.build(frame(vectors((0L until 300L).filter(_ % 4 != 3))), params, 4)
      mem.save(s"$dir/saved")
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, s"$dir/g0").unpersist()
      VectorIndex.appendTo(spark, s"$dir/g0", frame(vectors((400L until 500L).filter(_ % 4 == 1))),
        s"$dir/g1").unpersist()
      for (path <- Seq(s"$dir/saved", s"$dir/g0", s"$dir/g1")) {
        val files = named(path)
        val meta = VectorIndex.load(spark, path, cache = false).meta
        assert(files.keySet == meta.map(_.sub_index_id).toSet, s"$path: $files")
        assert(new java.io.File(s"$path/rows").list().toSet == files.keySet.map(s => s"sub_index_id=$s"))
        for ((s, (file, bytes)) <- files) {
          val shardDir = new java.io.File(s"$path/rows/sub_index_id=$s")
          // a local file's checksum is its hidden sibling
          assert(shardDir.list().filterNot(_.startsWith(".")).toSeq == Seq(file), s"$path shard $s")
          assert(file.startsWith(f"part-$s%05d-") && file.endsWith(".parquet"), file)
          assert(new java.io.File(shardDir, file).length == bytes, s"$path shard $s: length")
        }
        assert(!tree(path).exists(f => f.contains("_SUCCESS") || f.contains("_temporary")), tree(path))
      }
      // the kept shards of the append are the same files, linked under their names
      Seq(0, 2, 3).foreach(s => assert(named(s"$dir/g1")(s) == named(s"$dir/g0")(s)))
      mem.unpersist()
    }
  }

  test("a stray part file in a shard directory is never read, and the next publish removes it") {
    withDir { dir =>
      val g0 = s"$dir/g0"
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, g0).unpersist()
      val qs = frame(vectors(10000L until 10020L)).withColumnRenamed("id", "query_id")
      def answers(path: String) = {
        val idx = VectorIndex.load(spark, path, cache = false)
        try (canon(idx), idx.query(qs, 10, 8).collect().map(_.toSeq).toSeq) finally idx.unpersist()
      }
      val before = answers(g0)
      // a late task attempt's file: shard 0's rows, in shard 1's directory
      val stray = java.nio.file.Paths.get(s"$g0/rows/sub_index_id=1/part-00001-late-attempt.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$g0/rows/sub_index_id=0/${named(g0)(0)._1}"), stray)
      assert(answers(g0) == before, "the stray file was read")
      val appended = VectorIndex.appendTo(spark, g0, frame(vectors(400L until 440L)), s"$dir/g1")
      val full = VectorIndex.build(frame(vectors(0L until 440L)), params, 4)
      assert(appended.meta.toSeq == full.meta.toSeq && canon(appended) == canon(full))
      Seq(appended, full).foreach(_.unpersist())
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, g0).unpersist()
      assert(!java.nio.file.Files.exists(stray), "the next publish left the stray file")
      assert(answers(g0) == before)
    }
  }

  test("save onto the snapshot a handle was loaded from is refused, and the snapshot stays whole") {
    withDir { dir =>
      val path = s"$dir/snap"
      VectorIndex.buildTo(frame(vectors(0L until 400L)), params, 4, path).unpersist()
      val qs = frame(vectors(10000L until 10020L)).withColumnRenamed("id", "query_id")
      val want = VectorIndex.load(spark, path, cache = false).query(qs, 10, 8).collect().toSeq
      // never probed: its rows are still only on disk
      for (spelling <- Seq(path, s"$dir/./snap")) {
        val e = intercept[IllegalArgumentException](
          VectorIndex.load(spark, path, cache = false).save(spelling))
        assert(e.getMessage.contains("own source"), e.getMessage)
      }
      assert(VectorIndex.load(spark, path, cache = false).query(qs, 10, 8).collect().toSeq == want)

      // an LSM whose members were loaded from the target is refused before lsm.json is touched
      val lsm = s"$dir/lsm"
      val base = VectorIndex.build(frame(vectors(0L until 200L)), params, 4)
      LsmVectorIndex(base, compactThreshold = 1000000L).ingest(frame(vectors(200L until 210L))).save(lsm)
      val e = intercept[IllegalArgumentException](LsmVectorIndex.load(spark, lsm).save(lsm))
      assert(e.getMessage.contains("own source"), e.getMessage)
      val reloaded = LsmVectorIndex.load(spark, lsm)
      assert(reloaded.base.meta.map(_.n_vectors).sum + reloaded.generations.map(_.meta.map(_.n_vectors).sum).sum == 210)
      base.unpersist()
    }
  }

  test("an LSM save that fails part-way leaves a directory LsmVectorIndex.load refuses, naming lsm.json") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failwrite.impl", classOf[FailingWriteFs].getName)
    conf.set("fs.AbstractFileSystem.failwrite.impl", classOf[FailingWriteAfs].getName)
    withDir { dir =>
      val path = s"failwrite://$dir/lsm"
      def lsm(n: Long, gens: Int) = (0 until gens).foldLeft(
          LsmVectorIndex(VectorIndex.build(frame(vectors(0L until n)), params, 4), compactThreshold = 1000000L)) {
        (l, g) => l.ingest(frame(vectors(n + 10L * g until n + 10L * (g + 1))))
      }
      try {
        val a = lsm(200L, 3)
        a.save(path)
        assert(LsmVectorIndex.load(spark, path).generations.length == 3)
        val b = lsm(100L, 1)
        FailingWriteFs.target = "lsm.json"
        intercept[java.io.IOException](b.save(path))
        FailingWriteFs.target = "\u0000"
        val e = intercept[IllegalArgumentException](LsmVectorIndex.load(spark, path))
        assert(e.getMessage.contains("lsm.json"), e.getMessage)
        Seq(a, b).foreach { l => l.unpersist(); l.base.unpersist() }
      } finally {
        FailingWriteFs.target = "\u0000"
        conf.unset("fs.failwrite.impl")
        conf.unset("fs.AbstractFileSystem.failwrite.impl")
      }
    }
  }
}
