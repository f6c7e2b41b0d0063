package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The shard-aligned build: every build puts shard s in partition s, one
  * task per shard, and an in-memory index keeps those rows as its one
  * cached copy, which is also its probe layout. So the corpus moves
  * through one exchange on its way to the probe, the rows and meta equal
  * a per-shard build of the sorted shard slice, and superseded layouts
  * leave no cached block behind. */
class BuildLayoutSpec extends AnyFunSuite with SparkSuite {

  private val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2)

  /** Seeded 8-d vectors for `ids`. */
  private def vectors(ids: Seq[Long], seed: Int = 20261018): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    ids.map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
  }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "embedding")
  }

  /** Index rows in a comparable form: adjacency included, ordered by
    * (shard, offset). */
  private def canon(rows: Seq[IndexRow]) =
    rows.map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2))

  /** The reference: [[VectorIndex.buildShard]] over each shard's
    * id-sorted slice of the transformed corpus. */
  private def perShard(corpus: Seq[(Long, Array[Float])], p: IndexParams,
      numShards: Int): (Seq[IndexRow], Seq[ShardMeta]) = {
    val built = corpus.map { case (id, v) => (id, p.transformCorpusVector(v)) }
      .groupBy { case (id, _) => Math.floorMod(id, numShards.toLong).toInt }
      .toSeq.sortBy(_._1)
      .map { case (s, vs) =>
        val sorted = vs.sortBy(_._1).toIndexedSeq
        val g = VectorIndex.buildShard(s, sorted, p)
        (VectorIndex.dehydrate(g).toSeq, VectorIndex.metaOf(g))
      }
    (built.flatMap(_._1), built.map(_._2))
  }

  private def assertPerShard(idx: VectorIndex, corpus: Seq[(Long, Array[Float])],
      p: IndexParams, what: String): Unit = {
    val (rows, meta) = perShard(corpus, p, idx.numShards)
    assert(idx.meta.toSeq == meta, s"$what: meta differs")
    assert(canon(idx.rows.collect().toSeq) == canon(rows), s"$what: rows differ")
  }

  /** The shard ids each partition of `idx.rows` holds. */
  private def placement(idx: VectorIndex): Seq[(Int, Set[Int])] =
    idx.rows.rdd.mapPartitionsWithIndex((p, it) => Iterator(p -> it.map(_.sub_index_id).toSet))
      .collect().toSeq

  test("a 4-shard and an 8-shard build put the rows of shard s only in partition s") {
    val corpus = vectors(0L until 400L)
    for (n <- Seq(4, 8)) {
      val idx = VectorIndex.build(frame(corpus), params, numShards = n)
      // under a hash repartition shards 0, 1 and 3 of 4 share one partition
      assert(placement(idx) == (0 until n).map(s => s -> Set(s)), s"$n shards")
      assert(idx.probeLayout.partitions.length == n)
      idx.unpersist()
    }
  }

  test("buildTo writes each shard directory from its own task") {
    val dir = java.nio.file.Files.createTempDirectory("build_layout_").toString
    try {
      VectorIndex.buildTo(frame(vectors(0L until 200L)), params, numShards = 4, s"$dir/snap")
        .unpersist()
      // a task's output file is named after its partition: part-0000<p>-...
      val writers = (0 until 4).map { s =>
        val files = new java.io.File(s"$dir/snap/rows/sub_index_id=$s")
          .listFiles().map(_.getName).filter(_.startsWith("part-"))
        assert(files.length == 1, s"shard $s: ${files.toSeq}")
        files.head.take(10)
      }
      assert(writers == (0 until 4).map(s => f"part-$s%05d"), s"writers: $writers")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("work counter: build + optimize shuffles once, and the first probe is 1 job of 1 stage") {
    import spark.implicits._
    val corpus = vectors(0L until 400L)
    val queries = vectors(1000L until 1010L, seed = 7).toDF("query_id", "embedding")
    val (idx, build) = workDuring(VectorIndex.build(frame(corpus), params, numShards = 4).optimize())
    assert(build.shuffles == 1, s"build + optimize ran $build")
    val (res, probe) = workDuring(idx.query(queries, 10, 16).collect())
    // a hash-placed build lays the rows out again here: 2 stages, a shuffle
    assert(probe.jobs == 1 && probe.stages == 1 && probe.shuffleWriteBytes == 0,
      s"first probe after build ran $probe")
    assert(res.length == 100)
    idx.unpersist()
  }

  test("work counter: compact() shuffles once, and the first probe after it is 1 job of 1 stage") {
    import spark.implicits._
    val queries = vectors(1000L until 1010L, seed = 7).toDF("query_id", "embedding")
    val base = VectorIndex.build(frame(vectors(0L until 400L)), params, numShards = 4)
    val lsm = LsmVectorIndex(base, compactThreshold = 1000000)
      .ingest(frame(vectors(400L until 450L, seed = 1)))
      .ingest(frame(vectors(450L until 500L, seed = 2)))
      .delete(Seq(3L, 17L, 420L))
    lsm.query(queries, 10, 16).collect() // lays out the members
    val (compacted, compact) = workDuring(lsm.compact())
    assert(compact.shuffles == 1, s"compact ran $compact")
    val (res, probe) = workDuring(compacted.query(queries, 10, 16).collect())
    assert(probe.jobs == 1 && probe.stages == 1 && probe.shuffleWriteBytes == 0,
      s"first probe after compact ran $probe")
    assert(res.length == 100)
    compacted.unpersist(); base.unpersist()
  }

  test("build and rewrite rows and meta equal a per-shard build of each sorted shard slice") {
    import spark.implicits._
    // ids with a gap, in shuffled order
    val corpus = new scala.util.Random(3).shuffle(vectors((0L until 150L) ++ (300L until 390L)))
    val added = vectors(150L until 210L, seed = 11)
    val variants = Seq(
      "float L2" -> params,
      "SQ8" -> params.copy(quantized = true, quantLo = -1f, quantHi = 1f),
      "cosine" -> params.copy(normalizeForCosine = true),
      "MIPS" -> params.copy(augmentForMips = true,
        mipsMaxNorm = VectorIndex.calibrateMipsNorm(frame(corpus ++ added))),
      "schedule" -> params.copy(schedule = Seq(ParamStep(0, 2, 8), ParamStep(20, 4, 16))))
    for ((name, p) <- variants) {
      val idx = VectorIndex.build(frame(corpus), p, numShards = 4)
      assertPerShard(idx, corpus, p, s"$name build")
      val appended = idx.append(frame(added))
      assertPerShard(appended, corpus ++ added, p, s"$name append")
      val dead = Set(0L, 1L, 150L, 301L)
      val removed = appended.remove(dead.toSeq.toDF("id"))
      assertPerShard(removed, (corpus ++ added).filterNot(v => dead(v._1)), p, s"$name remove")
      Seq(idx, appended, removed).foreach(_.unpersist())
    }
  }

  test("more shards than ids, an empty corpus and a shard emptied by remove") {
    import spark.implicits._
    val few = vectors(Seq(2L, 5L, 9L, 13L))
    val sparse = VectorIndex.build(frame(few), params, numShards = 8)
    assert(sparse.meta.map(_.sub_index_id).toSeq == Seq(1, 2, 5))
    assertPerShard(sparse, few, params, "8 shards over 4 ids")
    assert(placement(sparse).forall { case (p, s) => s.subsetOf(Set(p)) })

    val empty = VectorIndex.build(frame(Seq.empty), params, numShards = 4)
    assert(empty.meta.isEmpty && empty.rows.count() == 0)
    assert(empty.probeLayout.partitions.length == 4)

    // shard 5 holds only ids 5 and 13; removing both empties it
    val emptied = sparse.remove(Seq(5L, 13L).toDF("id"))
    assert(emptied.meta.map(_.sub_index_id).toSeq == Seq(1, 2))
    assertPerShard(emptied, few.filterNot(v => v._1 == 5L || v._1 == 13L), params, "emptied shard")
    Seq(sparse, empty, emptied).foreach(_.unpersist())
  }

  test("a non-finite corpus vector is rejected by every build path, naming its id") {
    val dir = java.nio.file.Files.createTempDirectory("build_layout_nan_").toString
    def poisoned(ids: Seq[Long], bad: Long, x: Float) =
      frame(vectors(ids).map { case (id, v) => (id, if (id == bad) v.updated(3, x) else v) })
    def rejects(what: String, bad: Long)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage === s"ingested id $bad has a non-finite component (1 rows)", what)
    }
    try {
      rejects("build", 17L)(VectorIndex.build(poisoned(0L until 100L, 17L, Float.NaN), params, 4))
      rejects("buildTo", 18L)(VectorIndex.buildTo(
        poisoned(0L until 100L, 18L, Float.PositiveInfinity), params, 4, s"$dir/to"))
      rejects("cosine build", 19L)(VectorIndex.build(poisoned(0L until 100L, 19L, Float.NaN),
        params.copy(normalizeForCosine = true), 4))
      val idx = VectorIndex.build(frame(vectors(0L until 100L)), params, numShards = 4)
      rejects("append", 105L)(idx.append(poisoned(100L until 110L, 105L, Float.NaN)))
      VectorIndex.buildTo(frame(vectors(0L until 100L)), params, 4, s"$dir/old").unpersist()
      rejects("appendTo", 106L)(VectorIndex.appendTo(spark, s"$dir/old",
        poisoned(100L until 110L, 106L, Float.NegativeInfinity), s"$dir/new"))
      VectorIndex.writeBucketedCorpus(poisoned(0L until 100L, 7L, Float.NaN), "nan_bucketed", 4)
      rejects("bucketed build", 7L)(VectorIndex.buildFromBucketed(spark, "nan_bucketed", params))
      idx.unpersist()
    } finally {
      spark.sql("DROP TABLE IF EXISTS nan_bucketed")
      graft.streaming.StreamingOps.deleteRecursively(dir)
    }
  }

  test("work counter: build runs 1 job of 1 shuffle and no query; buildTo 1 job, its write") {
    val dir = java.nio.file.Files.createTempDirectory("build_layout_work_").toString
    try {
      val corpus = frame(vectors(0L until 400L))
      val (idx, build) = workDuring(VectorIndex.build(corpus, params, numShards = 4))
      assert(build.jobs == 1 && build.shuffles == 1 && build.sqlExecutions == 0,
        s"build ran $build")
      idx.unpersist()
      val (snap, buildTo) = workDuring(VectorIndex.buildTo(corpus, params, 4, s"$dir/snap"))
      assert(buildTo.jobs == 1 && buildTo.sqlExecutions == 0, s"buildTo ran $buildTo")
      assert(snap.meta.map(_.n_vectors).sum == 400)
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("a corpus that repeats an id is rejected by build and buildTo as an append is") {
    val dir = java.nio.file.Files.createTempDirectory("build_layout_dup_").toString
    try {
      // ids 7 and 42 twice: one clash each, in two shards
      val corpus = frame(vectors((0L until 100L) ++ Seq(7L, 42L)))
      val message = "ingested ids must be unique within the batch and disjoint from the index: id 7 (2 clashes)"
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val built = intercept[IllegalArgumentException](VectorIndex.build(corpus, params, 4))
      assert(built.getMessage === message)
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        "a rejected build left a persisted RDD")
      val published = intercept[IllegalArgumentException](
        VectorIndex.buildTo(corpus, params, 4, s"$dir/snap"))
      assert(published.getMessage === message)
      assert(!new java.io.File(s"$dir/snap/meta.json").exists, "a rejected buildTo wrote meta.json")
      assert(!new java.io.File(s"$dir/snap/rows").exists, "a rejected buildTo left its rows")
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("work counter: a bucketed build runs 1 job of 1 shuffle, writing at most 1.1x what build writes") {
    val tab = "bucketed_work"
    try {
      val corpus = frame(vectors(0L until 400L))
      VectorIndex.writeBucketedCorpus(corpus, tab, 4)
      val (idx, build) = workDuring(VectorIndex.build(corpus, params, numShards = 4))
      val (bkt, bucketed) = workDuring(VectorIndex.buildFromBucketed(spark, tab, params))
      assert(bucketed.jobs == 1 && bucketed.shuffles == 1, s"bucketed build ran $bucketed")
      assert(bucketed.shuffleWriteBytes <= build.shuffleWriteBytes * 1.1,
        s"bucketed build shuffled ${bucketed.shuffleWriteBytes} B, build ${build.shuffleWriteBytes} B")
      assert(bkt.meta.toSeq == idx.meta.toSeq)
      Seq(idx, bkt).foreach(_.unpersist())
    } finally spark.sql(s"DROP TABLE IF EXISTS $tab")
  }

  test("a bucketed corpus that repeats an id is rejected as an append is, leaving nothing cached") {
    val tab = "bucketed_dup"
    try {
      // ids 7 and 42 twice: one clash each, in two shards
      VectorIndex.writeBucketedCorpus(frame(vectors((0L until 100L) ++ Seq(7L, 42L))), tab, 4)
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val e = intercept[IllegalArgumentException](VectorIndex.buildFromBucketed(spark, tab, params))
      assert(e.getMessage ===
        "ingested ids must be unique within the batch and disjoint from the index: id 7 (2 clashes)")
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        "a rejected bucketed build left a persisted RDD")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tab")
  }

  test("a clashing or wrongly-sized append is rejected and leaves nothing cached") {
    import spark.implicits._
    val idx = VectorIndex.build(frame(vectors(0L until 100L)), params, numShards = 4)
    idx.dimension
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val clash = intercept[IllegalArgumentException](
      idx.append(frame(vectors(Seq(7L, 500L, 501L, 501L)))))
    assert(clash.getMessage ===
      "ingested ids must be unique within the batch and disjoint from the index: id 7 (2 clashes)")
    val wide = intercept[IllegalArgumentException](
      idx.append(Seq((600L, Array.fill(9)(0.5f)), (601L, Array.fill(9)(0.5f)))
        .toDF("id", "embedding")))
    assert(wide.getMessage === "ingested id 600 has 9 components, the index dimension is 8 (2 rows)")
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "a rejected append left a persisted RDD")
    idx.unpersist()
  }

  test("a probe over members whose layouts all carry the shard partitioner reads each member once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("build_layout_lsm_").toString
    try {
      val base = VectorIndex.build(frame(vectors(0L until 200L)), params, numShards = 4)
      val lsm = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = 30)
        .ingest(frame(vectors(200L until 300L, seed = 5)))
      assert(lsm.generations.head.numShards == 4)
      val qs = vectors(5000L until 5010L, seed = 99).toDF("query_id", "embedding")
      val expected = lsm.query(qs, 10, 0).collect().toSet
      // both members save one directory per shard and load laid out by shard
      lsm.save(dir)
      val loaded = LsmVectorIndex.load(spark, dir)
      assert((loaded.base +: loaded.generations).forall(_.probeLayout.partitioner.nonEmpty))
      assert(loaded.query(qs, 10, 0).collect().toSet == expected)
      Seq(lsm, loaded).foreach(_.unpersist())
      base.unpersist()
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("three ingest+compact cycles: the exact probe is brute force, and no folded or replaced layout keeps a block") {
    import spark.implicits._
    val base = VectorIndex.build(frame(vectors(0L until 200L)), params, numShards = 4)
    var live = vectors(0L until 200L)
    var lsm = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = 30)
    val superseded = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (cycle <- 0 until 3) {
      val from = 200L + 100L * cycle
      val small = vectors(from until from + 20L, seed = cycle) // built on the driver
      val large = vectors(from + 20L until from + 100L, seed = 10 + cycle) // distributed
      lsm = lsm.ingest(frame(small)).ingest(frame(large)).delete(Seq(from - 200L, from - 199L))
      live = (live ++ small ++ large).filterNot(v => v._1 == from - 200L || v._1 == from - 199L)
      assert(lsm.generations.size == 2 && lsm.generations.last.numShards == 3)
      // the folded generations' layouts, and the base once a compaction owns it
      superseded ++= lsm.generations.map(_.probeLayout.id)
      if (cycle > 0) superseded += lsm.base.probeLayout.id
      lsm = lsm.compact()
    }
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    def cachedIds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    while (superseded.exists(cachedIds) && System.nanoTime() < deadline) Thread.sleep(50)
    assert(superseded.filter(cachedIds).isEmpty, "a folded or replaced layout still holds blocks")
    assert(cachedIds(lsm.base.probeLayout.id), "the live base's layout is not cached")

    val qs = vectors(5000L until 5010L, seed = 99)
    val got = lsm.query(qs.toDF("query_id", "embedding"), 10, 0).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = qs.flatMap { case (q, qv) =>
      live.map { case (id, v) =>
        (qv.indices.map(i => (qv(i) - v(i)).toDouble * (qv(i) - v(i))).sum, id)
      }.sorted.take(10).zipWithIndex.map { case ((_, id), r) => (q, r + 1, id) }
    }.toSet
    assert(got == brute)
    lsm.unpersist(); base.unpersist()
  }
}
