package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}

/** Every path that adds vectors to an index runs one check on them: a
  * batch it rejects throws an IllegalArgumentException on the driver that
  * names the smallest offending id, and leaves nothing cached and no
  * `meta.json` behind. Here: vectors of two dimensions in two shards, a
  * missing embedding, and a non-finite vector under MIPS. */
class IngestCheckSpec extends AnyFunSuite with SparkSuite {

  private val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2)

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "embedding")
  }

  /** Ids 1-4: the odd ones (shard 1 of 2) 2-d, the even ones (shard 0) 3-d. */
  private val mixed = frame((1L to 4L).map(id => (id, Array.fill(if (id % 2 == 1) 2 else 3)(id * 0.1f))))

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `f` must throw an IllegalArgumentException saying `message` and
    * leave no RDD persisted. */
  private def rejects(what: String, message: String)(f: => Any): Unit = {
    val before = persisted
    val e = intercept[IllegalArgumentException](f)
    assert(e.getMessage === message, what)
    assert(persisted -- before === Set.empty, s"$what left a persisted RDD")
  }

  test("vectors of different dimensions in different shards are rejected by every build") {
    val message = "ingested id 2 has 3 components, id 1 has 2 (2 rows)"
    rejects("build", message)(VectorIndex.build(mixed, params, numShards = 2))
    withTempDir("ingest_check_mixed_") { dir =>
      rejects("buildTo", message)(VectorIndex.buildTo(mixed, params, 2, s"$dir/snap"))
      assert(!new java.io.File(s"$dir/snap/meta.json").exists, "a rejected buildTo wrote meta.json")
    }
    // an empty base; genShardSize 2 builds the 4-row batch in 2 shards,
    // off the driver
    val empty = VectorIndex.build(frame(Nil), params, numShards = 2)
    rejects("a large LSM batch", message)(
      LsmVectorIndex(empty, compactThreshold = 1000000, genShardSize = 2).ingest(mixed))
  }

  test("a missing embedding is rejected naming its id on every path") {
    val rows = (1L to 6L).map(id => (id, if (id == 4L) null else Array(id * 0.1f, 0.5f)))
    val message = "ingested id 4 has no embedding (1 rows)"
    rejects("build", message)(VectorIndex.build(frame(rows), params, numShards = 2))
    val empty = VectorIndex.build(frame(Nil), params, numShards = 2)
    rejects("append onto an empty index", message)(empty.append(frame(rows)))
    withTempDir("ingest_check_null_") { dir =>
      rejects("buildTo", message)(VectorIndex.buildTo(frame(rows), params, 2, s"$dir/snap"))
      VectorIndex.buildTo(frame(Nil), params, 2, s"$dir/g0")
      rejects("appendTo onto an empty snapshot", message)(
        VectorIndex.appendTo(spark, s"$dir/g0", frame(rows), s"$dir/g1"))
      assert(!new java.io.File(s"$dir/g1/meta.json").exists, "a rejected appendTo wrote meta.json")
    }
    for (shardSize <- Seq(65536L, 2L)) rejects(s"an LSM batch, genShardSize $shardSize", message)(
      LsmVectorIndex(empty, compactThreshold = 1000000, genShardSize = shardSize).ingest(frame(rows)))
  }

  test("under MIPS a non-finite vector is rejected naming its id, and lengths are the caller's") {
    val mips = params.copy(augmentForMips = true, mipsMaxNorm = 2f)
    val rows = (1L to 6L).map(id => (id, Array(id * 0.1f, if (id == 5L) Float.NaN else 0.5f)))
    rejects("build", "ingested id 5 has a non-finite component (1 rows)")(
      VectorIndex.build(frame(rows), mips, numShards = 2))
    val idx = VectorIndex.build(frame(rows.filter(_._1 != 5L)), mips, numShards = 2)
    rejects("append", "ingested id 9 has 3 components, the index dimension is 2 (1 rows)")(
      idx.append(frame(Seq(9L -> Array(0.1f, 0.2f, 0.3f)))))
    idx.unpersist()
  }
}
