package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, LsmVectorIndex, VectorIndex}

/** LSM generational index: O(batch) ingest (base untouched), probe
  * equality against a flat single-build index, invariance across batch
  * splits and compaction points, and auto-compaction at the threshold. */
class LsmIndexSpec extends AnyFunSuite with SparkSuite {

  private val params =
    IndexParams(minimumConnect = 8, relaxedMonotonicity = 32, step = 2)

  private def emb = Tables.embeddings(spark, sfDir)

  private def baseIdx = VectorIndex.build(
    emb.filter(col("vec_id") >= 10 && col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding")),
    params, numShards = 4)

  private def queries = emb.filter(col("vec_id") < 10)
    .select(col("vec_id").as("query_id"), col("embedding"))

  private def slice(from: Int, until: Int): DataFrame =
    emb.filter(col("vec_id") >= from && col("vec_id") < until)
      .select(col("vec_id").as("id"), col("embedding"))

  private def resultSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("query_id"), col("rank"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  /** Index rows in a comparable form: adjacency included, ordered by
    * (shard, offset). */
  private def canon(ds: org.apache.spark.sql.Dataset[graft.index.IndexRow]) =
    ds.collect().map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2)).toSeq

  /** Rows and meta equal, bit for bit. */
  private def sameIndex(a: VectorIndex, b: VectorIndex): Boolean =
    a.numShards == b.numShards && a.meta.toSeq == b.meta.toSeq && canon(a.rows) == canon(b.rows)

  /** Flat single-build ground truth over vec_id in [10, hi). */
  private def flatExact(hi: Int): Set[(Long, Int, Long)] = {
    val flat = VectorIndex.build(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < hi)
        .select(col("vec_id").as("id"), col("embedding")),
      params, numShards = 4)
    resultSet(flat.query(queries, 10, searchWidth = 0))
  }

  test("ingest is O(batch): the sealed base object is reused untouched") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
    val lsm2 = lsm.ingest(slice(300, 350))
    val lsm3 = lsm2.ingest(slice(350, 400))
    assert(lsm2.base eq lsm.base, "first ingest must not touch the base")
    assert(lsm3.base eq lsm.base, "second ingest must not touch the base")
    assert(lsm3.generations.size == 2 && lsm3.freshCount == 100)
    assert(lsm3.vectorCount == 390)
  }

  test("exact probe over base + generations equals the flat single-build index") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350)).ingest(slice(350, 420))
    assert(resultSet(lsm.query(queries, 10, searchWidth = 0)) == flatExact(420))
  }

  test("exact probe is invariant to how the stream was batched") {
    val a = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 400))
    val b = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 320)).ingest(slice(320, 360)).ingest(slice(360, 400))
    assert(resultSet(a.query(queries, 10, searchWidth = 0)) ==
      resultSet(b.query(queries, 10, searchWidth = 0)))
  }

  test("compaction preserves exact probe results and resets generations") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 360)).ingest(slice(360, 410))
    val before = resultSet(lsm.query(queries, 10, searchWidth = 0))
    val compacted = lsm.compact()
    assert(compacted.generations.isEmpty && compacted.freshCount == 0)
    assert(compacted.vectorCount == lsm.vectorCount)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == before)
  }

  test("ingest auto-compacts once fresh vectors reach the threshold") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 80)
      .ingest(slice(300, 350)) // 50 fresh — below threshold
    assert(lsm.generations.size == 1)
    val lsm2 = lsm.ingest(slice(350, 400)) // 100 >= 80 — compacts
    assert(lsm2.generations.isEmpty && lsm2.freshCount == 0)
    assert(lsm2.vectorCount == 390)
    assert(resultSet(lsm2.query(queries, 10, searchWidth = 0)) == flatExact(400))
  }

  test("duplicate ids within a batch are rejected eagerly; clashes with the base at compaction") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
    val dup = slice(300, 310).union(slice(300, 305))
    val e1 = intercept[IllegalArgumentException](lsm.ingest(dup))
    assert(e1.getMessage.contains("unique within the batch"))
    // id 100 already lives in the base: caught by append's disjointness
    // check when the generation folds in
    val clash = lsm.ingest(
      emb.filter(col("vec_id") === 100 || col("vec_id") === 300)
        .select(col("vec_id").as("id"), col("embedding")))
    val e2 = intercept[IllegalArgumentException](clash.compact())
    assert(e2.getMessage.contains("disjoint"))
  }

  test("save/load round-trips the generational state and stays ingestable") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350)).ingest(slice(350, 400))
    val before = resultSet(lsm.query(queries, 10, searchWidth = 0))
    withTempDir("graft_lsm_save_") { dir =>
      lsm.save(dir)
      val loaded = LsmVectorIndex.load(spark, dir)
      assert(loaded.generations.size == 2 && loaded.freshCount == lsm.freshCount)
      assert(loaded.compactThreshold == lsm.compactThreshold)
      assert(resultSet(loaded.query(queries, 10, searchWidth = 0)) == before)
      // the loaded handle keeps working: further ingest + compaction
      val more = loaded.ingest(slice(400, 430)).compact()
      assert(more.generations.isEmpty)
      assert(resultSet(more.query(queries, 10, searchWidth = 0)) == flatExact(430))
    }
  }

  test("LSM over an EMPTY base: ingest-only lifecycle works end to end") {
    val emptyBase = VectorIndex.build(
      emb.filter(col("vec_id") < 0).select(col("vec_id").as("id"), col("embedding")),
      params, numShards = 4)
    val lsm = LsmVectorIndex(emptyBase, compactThreshold = 1000000)
    assert(resultSet(lsm.query(queries, 10, searchWidth = 0)).isEmpty)
    val grown = lsm.ingest(slice(10, 200)).ingest(slice(200, 350))
    assert(resultSet(grown.query(queries, 10, searchWidth = 0)) == flatExact(350))
    val compacted = grown.compact()
    assert(compacted.generations.isEmpty)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == flatExact(350))
  }

  test("property: ANY random batching of the stream probes identically (exact mode)") {
    val rnd = new scala.util.Random(20260813)
    val expected = flatExact(460)
    for (_ <- 1 to 3) {
      // random cut points over [300, 460)
      val cuts = (Seq(300, 460) ++ Seq.fill(rnd.nextInt(4))(300 + rnd.nextInt(160)))
        .distinct.sorted
      val lsm = cuts.sliding(2).foldLeft(
        LsmVectorIndex(baseIdx, compactThreshold = 1000000)) {
        case (acc, Seq(a, b)) => acc.ingest(slice(a, b))
        case (acc, _) => acc
      }
      assert(resultSet(lsm.query(queries, 10, searchWidth = 0)) == expected,
        s"mismatch for cuts $cuts")
    }
  }

  test("background compaction: ingest continues while the fold runs; swap preserves probes") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350)).ingest(slice(350, 400))
    val pending = lsm0.compactAsync()
    // keep ingesting while the fold runs on its own thread
    val lsm1 = lsm0.ingest(slice(400, 430)).ingest(slice(430, 460))
    val swap = scala.concurrent.Await.result(
      pending, scala.concurrent.duration.Duration(180, "seconds"))
    val compacted = swap(lsm1)
    assert(compacted.generations.size == 2,
      "only the generations ingested after the call should remain fresh")
    assert(compacted.vectorCount == lsm1.vectorCount)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == flatExact(460))
    // misuse: a handle that is not a descendant of the snapshot fails loudly
    val other = LsmVectorIndex(baseIdx, 1000000).ingest(slice(300, 320))
    intercept[IllegalArgumentException](swap(other))
    // misuse: the fold is claimed by exactly one successful apply — a
    // second apply (even to a valid handle) fails instead of
    // double-unpersisting the snapshot, and the compacted index it
    // returned stays live
    val e2 = intercept[IllegalArgumentException](swap(lsm1))
    assert(e2.getMessage.contains("already applied"))
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == flatExact(460))
  }

  test("auto-compaction is suppressed while an async fold is outstanding") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 60)
      .ingest(slice(300, 350)) // 50 fresh — below threshold
    val pending = lsm0.compactAsync()
    // crossing the threshold mid-fold must NOT run the synchronous
    // compact (it would unpersist the snapshot the fold is reading and
    // break the swap); the swap absorbs the backlog instead
    val lsm1 = lsm0.ingest(slice(350, 420)).ingest(slice(420, 440))
    assert(lsm1.generations.size == 3 && (lsm1.base eq lsm0.base),
      "ingest must keep stacking generations while the fold is in flight")
    val swap = scala.concurrent.Await.result(
      pending, scala.concurrent.duration.Duration(180, "seconds"))
    val compacted = swap(lsm1)
    assert(compacted.generations.size == 2)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == flatExact(440))
    // flag cleared: the next threshold crossing auto-compacts again
    val resumed = compacted.ingest(slice(440, 460))
    assert(resumed.generations.isEmpty && resumed.freshCount == 0,
      "auto-compaction must resume once the async fold has been swapped in")
    assert(resultSet(resumed.query(queries, 10, searchWidth = 0)) == flatExact(460))
  }

  test("synchronous compact() refuses while an async fold is outstanding") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350))
    val pending = lsm0.compactAsync()
    val e = intercept[IllegalArgumentException](lsm0.compact())
    assert(e.getMessage.contains("outstanding"))
    val swap = scala.concurrent.Await.result(
      pending, scala.concurrent.duration.Duration(180, "seconds"))
    val compacted = swap(lsm0)
    compacted.compact() // flag cleared — synchronous compaction allowed again
  }

  test("a FIRST misapply abandons the fold and re-enables compaction") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350))
    val swap = scala.concurrent.Await.result(
      lsm0.compactAsync(), scala.concurrent.duration.Duration(180, "seconds"))
    val other = LsmVectorIndex(baseIdx, 1000000).ingest(slice(300, 320))
    intercept[IllegalArgumentException](swap(other)) // misapply -> abandoned
    // the pending flag must not leak true: compaction works again
    val recompacted = lsm0.compact()
    assert(recompacted.generations.isEmpty)
    assert(resultSet(recompacted.query(queries, 10, searchWidth = 0)) == flatExact(350))
    // an abandoned swap can never be applied, even to the right handle
    val e = intercept[IllegalArgumentException](swap(lsm0))
    assert(e.getMessage.contains("abandoned"))
  }

  test("quantized base: generations inherit SQ8 storage and probe == quantized flat build") {
    val qParams = params.copy(quantized = true)
    val qBase = VectorIndex.build(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 300)
        .select(col("vec_id").as("id"), col("embedding")),
      qParams, numShards = 4)
    val lsm = LsmVectorIndex(qBase, compactThreshold = 1000000)
      .ingest(slice(300, 360)).ingest(slice(360, 420))
    assert(lsm.generations.forall(_.params.quantized),
      "generations must inherit the base's quantized storage")
    val flat = VectorIndex.build(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < 420)
        .select(col("vec_id").as("id"), col("embedding")),
      qParams, numShards = 4)
    val viaLsm = resultSet(lsm.query(queries, 10, searchWidth = 0))
    assert(viaLsm == resultSet(flat.query(queries, 10, searchWidth = 0)))
    // and across compaction (append re-quantizes identically)
    assert(resultSet(lsm.compact().query(queries, 10, searchWidth = 0)) == viaLsm)
  }

  test("driverless routing (batch over maxBatch) equals the broadcast probe") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350)).ingest(slice(350, 400))
    val viaBroadcast = resultSet(lsm.query(queries, 10, searchWidth = 0))
    // maxBatch=2 forces the driverless probe over the fused member layout
    val viaShuffle = resultSet(lsm.query(queries, 10, searchWidth = 0, maxBatch = 2))
    assert(viaShuffle == viaBroadcast)
  }

  test("beam probe across generations reaches exact recall at full width") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 400))
    val exact = resultSet(lsm.query(queries, 10, searchWidth = 0))
      .map(t => (t._1, t._3))
    val beam = resultSet(lsm.query(queries, 10, searchWidth = 64))
      .map(t => (t._1, t._3))
    val recall = (exact intersect beam).size.toDouble / exact.size
    assert(recall >= 0.9, s"beam recall across generations = $recall")
  }

  /** Ground truth over [10, hi) minus a deleted id set. */
  private def flatExactMinus(hi: Int, deleted: Set[Long]): Set[(Long, Int, Long)] = {
    val flat = VectorIndex.build(
      emb.filter(col("vec_id") >= 10 && col("vec_id") < hi &&
          !col("vec_id").isInCollection(deleted))
        .select(col("vec_id").as("id"), col("embedding")),
      params, numShards = 4)
    resultSet(flat.query(queries, 10, searchWidth = 0))
  }

  test("delete: tombstoned ids vanish from probes immediately and exactly") {
    val deleted = ((20L to 29L) ++ (310L to 314L)).toSet
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 400))
      .delete(deleted)
    val got = resultSet(lsm.query(queries, 10, searchWidth = 0))
    assert(got == flatExactMinus(400, deleted))
    assert(!got.exists(t => deleted(t._3)), "a deleted id surfaced in a probe")
  }

  test("delete: compaction purges physically and preserves probe results") {
    val deleted = ((20L to 29L) ++ (310L to 314L)).toSet
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 400))
      .delete(deleted)
    val before = resultSet(lsm.query(queries, 10, searchWidth = 0))
    val compacted = lsm.compact()
    assert(compacted.tombstones.isEmpty, "compaction must clear tombstones")
    assert(compacted.generations.isEmpty)
    // physically gone: the folded base holds exactly the live vectors
    assert(compacted.vectorCount == 390 - deleted.size)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == before)
  }

  test("compaction is one fused rewrite: rows and meta equal a build over the live set") {
    // base ids 10..299 over 4 shards (id % 4). Shard 0 loses base ids
    // only, shard 1 gains fresh ids only, shard 2 does both, and shard 3
    // loses every base id while all its fresh ids are tombstoned too, so
    // it ends empty and must drop out of meta.
    val fresh1 = slice(300, 360).filter(col("id") % 4 =!= 0)
    val fresh2 = slice(360, 400).filter(col("id") % 4 =!= 0)
    val removedBase = Set(20L, 24L, 28L, 22L, 26L) ++ (11L until 300L by 4)
    val freshShard3 = (303L until 400L by 4).toSet
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(fresh1)
      .delete(removedBase ++ freshShard3.filter(_ < 360) + 302L)
      .ingest(fresh2)
      .delete(freshShard3.filter(_ >= 360) + 361L) // ingested, deleted before the fold
    val dead = lsm.tombstones
    val compacted = lsm.compact()
    val live = emb.filter(col("vec_id") >= 10 && col("vec_id") < 400)
      .filter(col("vec_id") < 300 || col("vec_id") % 4 =!= 0)
      .filter(!col("vec_id").isin(dead.toSeq: _*))
      .select(col("vec_id").as("id"), col("embedding"))
    val full = VectorIndex.build(live, params, numShards = 4)
    assert(compacted.generations.isEmpty && compacted.tombstones.isEmpty)
    assert(compacted.base.meta.map(_.sub_index_id).toSeq == Seq(0, 1, 2),
      "the emptied shard must drop out of meta")
    assert(compacted.base.meta.toSeq == full.meta.toSeq)
    assert(canon(compacted.base.rows) == canon(full.rows))
  }

  test("compaction work does not grow with the tombstone count, and no id list is planned") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{In, InSet}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // synthetic 8-d corpus large enough for 2,000 PRESENT tombstones
    val rnd = new scala.util.Random(20261017)
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(8)(rnd.nextFloat()))).toDF("id", "embedding")
    val p = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16, step = 2)
    val base = VectorIndex.build(vecs(0 until 2400), p, numShards = 4)
    val gen1 = vecs(2400 until 2500).cache()
    val gen2 = vecs(2500 until 2600).cache()
    // every id-keyed In/InSet reachable from an executed plan, cached
    // plans and adaptive query stages included
    def idLists(plan: SparkPlan): Seq[String] = {
      val own = plan.expressions.flatMap(_.collect {
        case e @ (_: In | _: InSet)
            if e.references.exists(a => a.name == "id" || a.name == "global_id") =>
          e.getClass.getSimpleName
      })
      val inner = plan match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
        case _ => Nil
      }
      own ++ (plan.children ++ plan.subqueries ++ inner).flatMap(idLists)
    }
    def compactWork(tombstones: Seq[Long]): (Int, Seq[String]) = {
      val lsm = LsmVectorIndex(base, compactThreshold = 1000000)
        .ingest(gen1).ingest(gen2).delete(tombstones)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val lists = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val jobListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
          idLists(qe.executedPlan).foreach(lists.add)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
      try {
        lsm.compact()
        org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
      } finally {
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
      }
      import scala.jdk.CollectionConverters._
      (jobs.get, lists.asScala.toSeq)
    }
    // the base reads its dimension once per handle (a job); read it up
    // front so both compactions start from the same handle state
    base.dimension
    val few = (0L until 10L).map(_ * 7)
    val many = few ++ (400L until 2390L)
    assert(many.distinct.size == 2000 && many.forall(_ < 2400))
    val (fewJobs, fewLists) = compactWork(few)
    val (manyJobs, manyLists) = compactWork(many)
    assert(fewLists.isEmpty && manyLists.isEmpty,
      s"tombstones were planned as literal id lists: ${fewLists ++ manyLists}")
    assert(fewJobs > 0 && fewJobs == manyJobs,
      s"compact() ran $fewJobs jobs with 10 tombstones, $manyJobs with 2000")
    gen1.unpersist(); gen2.unpersist(); base.unpersist()
  }

  test("work counter: a warm fused probe with tombstones runs exactly one Spark job") {
    import spark.implicits._
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
      .ingest(slice(300, 350)).ingest(slice(350, 400)).delete(Seq(20L, 310L, 360L))
    assert(lsm.generations.size == 2)
    val q = emb.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .toDF("query_id", "embedding")
    val warm = lsm.query(q, 10, 32).collect()
    val (res, jobs) = jobsDuring(lsm.query(q, 10, 32).collect())
    assert(jobs == 1, s"warm fused query ran $jobs jobs")
    assert(res.length == 1000 && res.toSeq == warm.toSeq)
    assert(!res.exists(r => lsm.tombstones.contains(r.getLong(2))))
    lsm.unpersist()
  }

  test("delete: idempotent, unknown ids are no-ops, auto-purge at threshold") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000,
      deleteThreshold = 8)
    val l2 = lsm.delete(Seq(20L, 21L)).delete(Seq(20L, 21L)) // re-delete: no-op
    assert(l2.tombstones == Set(20L, 21L))
    val l3 = l2.delete(Seq(999999L)) // never inserted: harmless
    val probe = resultSet(l3.query(queries, 10, searchWidth = 0))
    assert(probe == flatExactMinus(300, Set(20L, 21L)))
    // crossing deleteThreshold auto-compacts: tombstones purge physically
    val l4 = l3.delete(30L to 36L)
    assert(l4.tombstones.isEmpty, "auto-purge must fire at deleteThreshold")
    assert(l4.vectorCount == 290 - 9) // 999999 was never there
  }

  test("interleaved ingest+delete across micro-batches probes like brute force over the live corpus") {
    import spark.implicits._
    // a CDC-shaped feed: appends and deletes interleave, auto-compaction
    // fires mid-stream (threshold 120 crossed by the second append, so
    // the outstanding tombstones purge physically there), and more
    // deletes land AFTER the fold. The invariance a real feed needs:
    // the final probe equals brute force over the live corpus no matter
    // where the compaction boundary fell.
    val deleted = ((20L to 24L) ++ Seq(310L, 311L, 355L, 30L)).toSet
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 120)
      .ingest(slice(300, 350))      // gen1: 50 fresh
      .delete(20L to 24L)           // base ids
      .delete(Seq(310L, 311L))      // fresh-generation ids
      .ingest(slice(350, 420))      // freshCount 120 -> auto-compacts, purges
      .delete(Seq(355L, 30L))       // post-compaction deletes (one ex-fresh, one base)
      .ingest(slice(420, 440))      // gen after the fold
    assert(lsm.tombstones == Set(355L, 30L),
      "pre-compaction tombstones must have purged in the auto-fold")
    val got = resultSet(lsm.query(queries, 10, searchWidth = 0))
    assert(got == flatExactMinus(440, deleted))
    // a final compact preserves the probe and goes fully physical
    val compacted = lsm.compact()
    assert(compacted.tombstones.isEmpty && compacted.generations.isEmpty)
    assert(resultSet(compacted.query(queries, 10, searchWidth = 0)) == got)
    assert(compacted.vectorCount == 430 - deleted.size)
  }

  test("remove: ids absent from the index rebuild NOTHING (shard-scope economics)") {
    import spark.implicits._
    val idx = baseIdx
    // every requested id is absent -> the index is returned untouched,
    // not a rebuilt copy (before round 13, absent ids still forced full
    // graph rebuilds of the shards their HASHES landed on)
    assert(idx.remove(Seq(999999L, 123456L).toDF("id")) eq idx,
      "removing only absent ids must be the identity")
    // mixed present+absent: result equals removing just the present ones
    val a = resultSet(idx.remove(Seq(20L, 999999L).toDF("id"))
      .query(queries, 10, searchWidth = 0))
    assert(a == flatExactMinus(300, Set(20L)))
  }

  test("delete: save/load round-trips tombstones") {
    withTempDir("lsm_del_save_") { dir =>
      val deleted = (20L to 24L).toSet
      val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
        .ingest(slice(300, 350)).delete(deleted)
      lsm.save(dir)
      val back = LsmVectorIndex.load(spark, dir)
      assert(back.tombstones == deleted)
      assert(resultSet(back.query(queries, 10, searchWidth = 0)) ==
        resultSet(lsm.query(queries, 10, searchWidth = 0)))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("compaction of a normalizeForCosine base preserves probes bit-for-bit") {
    // regression: compact() folds RECOVERED generation rows back through
    // append — re-normalizing them (already unit-norm; quantized:
    // dequantized midpoints) would drift bits and change exact probes.
    // appendRecovered must keep compaction probe-invariant for both the
    // float and the SQ8 cosine index.
    for (quant <- Seq(false, true)) {
      val corpus = emb.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding"))
      val base = corpus.filter(col("id") % 3 =!= 0)
      val fresh = corpus.filter(col("id") % 3 === 0)
      val params0 = IndexParams(minimumConnect = 8, relaxedMonotonicity = 32,
        step = 2, normalizeForCosine = true)
      val baseIdx =
        if (quant) VectorIndex.buildAutoQuantized(base, params0, numShards = 2)
        else VectorIndex.build(base, params0, numShards = 2)
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val lsm = LsmVectorIndex(baseIdx, compactThreshold = Long.MaxValue)
        .ingest(fresh)
      def snap(df: DataFrame) = df
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("distance"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val before = snap(lsm.query(queries, 10, searchWidth = 0))
      val after = snap(lsm.compact().query(queries, 10, searchWidth = 0))
      assert(before === after, s"compaction changed probes (quant=$quant)")
    }
  }

  test("streaming kNN-graph maintenance is invariant to batching (s22)") {
    // exact-by-induction edge state: 1-slice (one big batch) and 4-slice
    // (incremental) streams must land on the identical reciprocal-pair
    // set — the invariance that lets v48's batch oracle gate s22
    def run(slices: Int) = graft.streaming.StreamingOps.streamKnnGraph(
      spark, s"$sfDir/embeddings.parquet",
      baseCorpusPred = col("vec_id") >= 10 && col("vec_id") < 200,
      newVectorsPred = col("vec_id") >= 200,
      kEdges = 3, sourceSlices = slices, statePartitions = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val one = run(1)
    val four = run(4)
    assert(one === four, s"1-slice ${one.size} pairs != 4-slice ${four.size}")
    assert(one.nonEmpty)
  }

  test("generational beam state is invariant to the compaction schedule") {
    // the LSM generation discipline over the edge list: per-batch writes
    // are delta frames, latest frame per src wins, frames fold back into
    // one when their count crosses the stateFrames bound. The sweep runs
    // 16 micro-batches at three bounds so every fold path is EXERCISED,
    // not just designed: frames=1 folds every batch (the monolithic
    // shape), frames=3 triggers the mid-stream generational fold ~5
    // times, frames=16 never folds (pure frame accumulation). All three
    // must land on the bit-identical final edge set.
    def run(framesBound: Int) = graft.streaming.StreamingOps.streamKnnGraph(
      spark, s"$sfDir/embeddings.parquet",
      baseCorpusPred = col("vec_id") >= 10 && col("vec_id") < 200,
      newVectorsPred = col("vec_id") >= 200,
      kEdges = 3, sourceSlices = 16, statePartitions = 4, searchWidth = 8,
      stateFrames = framesBound)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val eager = run(1)
    val mid = run(3)
    val lazily = run(16)
    assert(eager === mid,
      s"frames=1 gave ${eager.size} pairs, frames=3 gave ${mid.size}")
    assert(eager === lazily,
      s"frames=1 gave ${eager.size} pairs, frames=16 gave ${lazily.size}")
    assert(eager.nonEmpty)
  }

  test("beam-face streaming kNN-graph maintenance tracks the exact face (s24)") {
    // production face: per-batch cost is one beam probe (no corpus-so-far
    // scan); its final reciprocal-pair set must stay close to the exact
    // face's, and every distance it reports must be a TRUE squared-L2
    // (the beam may miss pairs but can never invent or misprice one)
    def run(sw: Int) = graft.streaming.StreamingOps.streamKnnGraph(
      spark, s"$sfDir/embeddings.parquet",
      baseCorpusPred = col("vec_id") >= 10 && col("vec_id") < 200,
      newVectorsPred = col("vec_id") >= 200,
      kEdges = 3, sourceSlices = 4, statePartitions = 4, searchWidth = sw)
    val exact = run(0).select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val beamRows = run(8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val beam = beamRows.map(t => (t._1, t._2)).toSet
    val recall = (exact intersect beam).size.toDouble / exact.size
    assert(recall >= 0.85, s"beam-face edge recall $recall < 0.85 (exact=${exact.size})")
    // distances are genuine: re-derive each reported pair's squared L2
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") >= 10)
      .select(col("vec_id").cast("long"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    beamRows.foreach { case (a, b, d) =>
      val (va, vb) = (emb(a), emb(b))
      var acc = 0.0
      var i = 0
      while (i < va.length) {
        val diff = va(i).toDouble - vb(i).toDouble; acc += diff * diff; i += 1
      }
      assert(math.abs(d - (math.rint(acc * 1e6) / 1e6)) < 1e-6,
        s"pair ($a,$b) distance $d != true $acc")
    }
  }

  test("tombstones below and above Int.MaxValue round-trip lsm.json; earlier manifests load") {
    withTempDir("lsm_ts_save_") { dir =>
      val ts = Set(20L, Int.MaxValue.toLong, Int.MaxValue + 1L, 5000000000L,
        Long.MaxValue - 1)
      LsmVectorIndex(baseIdx, compactThreshold = 1000000, deleteThreshold = 777L)
        .delete(ts).save(dir)
      val back = LsmVectorIndex.load(spark, dir)
      assert(back.tombstones === ts && back.deleteThreshold === 777L)
      // verbatim output of the pre-codec writer, and a manifest from
      // before delete support (no deleteThreshold, no tombstones)
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/lsm.json",
        """{"generations":0,"compactThreshold":1000,"genShardSize":65536,"deleteThreshold":777,"tombstones":[3,2147483647,2147483648,5000000000,9223372036854775806]}""")
      val fixture = LsmVectorIndex.load(spark, dir)
      assert(fixture.tombstones === Set(3L, 2147483647L, 2147483648L,
        5000000000L, 9223372036854775806L))
      assert(fixture.compactThreshold === 1000L && fixture.genShardSize === 65536L)
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/lsm.json",
        """{"generations":0,"compactThreshold":1000,"genShardSize":65536}""")
      val preDelete = LsmVectorIndex.load(spark, dir)
      assert(preDelete.tombstones.isEmpty &&
        preDelete.deleteThreshold === Long.MaxValue)
    }
  }

  /** (id, embedding) rows of vec_id in [from, until) as a local relation. */
  private def localRows(from: Int, until: Int): Array[(Long, Array[Float])] =
    slice(from, until).collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("ingest rejects a non-finite or wrongly-sized embedding on both paths, naming the id") {
    import spark.implicits._
    val rows = localRows(300, 310)
    val d = rows.head._2.length
    def batchWith(id: Long, v: Array[Float]): DataFrame =
      rows.map { case (i, x) => (i, if (i == id) v else x) }.toSeq.toDF("id", "embedding")
    def vec(id: Long) = rows.find(_._1 == id).get._2
    val bad = Seq(
      303L -> vec(303).updated(1, Float.NaN),
      305L -> vec(305).updated(0, Float.PositiveInfinity),
      307L -> vec(307).updated(d - 1, Float.NegativeInfinity),
      304L -> (vec(304) :+ 0.5f),
      306L -> vec(306).take(d - 1))
    val base = baseIdx
    val emptyBase = VectorIndex.build(slice(0, 0), params, numShards = 4)
    // the default bound takes the driver path; 4 forces the distributed one
    for (shardSize <- Seq(65536L, 4L)) {
      val lsm = LsmVectorIndex(base, compactThreshold = 1000000, genShardSize = shardSize)
      for ((id, v) <- bad) {
        val e = intercept[IllegalArgumentException](lsm.ingest(batchWith(id, v)))
        assert(e.getMessage.contains(s"ingested id $id "), s"genShardSize $shardSize: ${e.getMessage}")
      }
      // an empty base takes its dimension from the first generation
      val grown = LsmVectorIndex(emptyBase, compactThreshold = 1000000, genShardSize = shardSize)
        .ingest(slice(10, 20))
      val e = intercept[IllegalArgumentException](grown.ingest(batchWith(306L, vec(306).take(d - 1))))
      assert(e.getMessage.contains(s"ingested id 306 has ${d - 1} components, the index dimension is $d"),
        e.getMessage)
      // and an empty index, a ragged batch
      val e2 = intercept[IllegalArgumentException](
        LsmVectorIndex(emptyBase, 1000000, genShardSize = shardSize)
          .ingest(batchWith(306L, vec(306).take(d - 1))))
      assert(e2.getMessage.contains("id 306 has"), e2.getMessage)
    }
  }

  test("a batch rejected on the distributed path leaves nothing cached") {
    import spark.implicits._
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000, genShardSize = 4)
    val nan = localRows(300, 310).map { case (i, v) => (i, if (i == 302) v.updated(0, Float.NaN) else v) }
      .toSeq.toDF("id", "embedding")
    for (batch <- Seq(slice(300, 310).union(slice(300, 302)), nan)) {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      intercept[IllegalArgumentException](lsm.ingest(batch))
      assert(batch.select(col("id").cast("long"), col("embedding")).storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE, "the rejected batch is still cached")
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
        "a rejected batch left a persisted RDD")
    }
  }

  test("a driver-built generation equals VectorIndex.build over the batch, rows and meta") {
    import spark.implicits._
    import graft.index.ParamStep
    // unsorted ids with a gap: 300..339 and 400..429, shuffled
    val batchRows = new scala.util.Random(20261017)
      .shuffle((localRows(300, 340) ++ localRows(400, 430)).toSeq)
    val batch = batchRows.toDF("id", "embedding")
    val variants = Seq(
      "float L2" -> params,
      "SQ8" -> params.copy(quantized = true),
      "cosine" -> params.copy(normalizeForCosine = true),
      "MIPS" -> params.copy(augmentForMips = true,
        mipsMaxNorm = VectorIndex.calibrateMipsNorm(slice(10, 430))),
      "schedule" -> params.copy(schedule = Seq(ParamStep(0, 4, 16), ParamStep(25, 8, 32))))
    for ((name, p) <- variants) {
      val base = VectorIndex.build(slice(10, 60), p, numShards = 1)
      val gen = LsmVectorIndex(base, compactThreshold = 1000000).ingest(batch).generations.last
      assert(sameIndex(gen, VectorIndex.build(batch, p, numShards = 1)), s"$name generation differs")
      base.unpersist()
    }
  }

  test("a batch over genShardSize still builds a multi-shard generation equal to build") {
    val lsm = LsmVectorIndex(baseIdx, compactThreshold = 1000000, genShardSize = 30)
      .ingest(slice(300, 400))
    val gen = lsm.generations.last
    assert(gen.numShards == 4)
    assert(sameIndex(gen, VectorIndex.build(slice(300, 400), params, numShards = 4)))
    lsm.unpersist()
  }

  test("work counter: a small ingest of a 4-partition batch runs 1 job and no exchange") {
    import spark.implicits._
    // the first ingest reads the base dimension once
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 1000000).ingest(slice(300, 350))
    val batch = spark.sparkContext.parallelize(localRows(350, 400).toSeq, 4).toDF("id", "embedding")
    val (lsm1, ingest) = workDuring(lsm0.ingest(batch))
    assert(ingest.jobs == 1 && ingest.stages == 1 && ingest.shuffleWriteBytes == 0,
      s"small ingest ran $ingest")
    assert(lsm1.freshCount == 100)
    lsm1.unpersist()
  }

  test("work counter: the first probe of a new generation is 1 job of 1 stage") {
    import spark.implicits._
    val q = localRows(0, 10).toSeq.toDF("query_id", "embedding")
    val lsm0 = LsmVectorIndex(baseIdx, compactThreshold = 1000000)
    lsm0.query(q, 10, 32).collect() // lays out the base
    val lsm1 = lsm0.ingest(slice(300, 350))
    val (res, probe) = workDuring(lsm1.query(q, 10, 32).collect())
    assert(probe.jobs == 1 && probe.stages == 1 && probe.shuffleWriteBytes == 0,
      s"first probe of the new generation ran $probe")
    assert(res.length == 100)
    lsm1.unpersist()
  }

  test("compaction, compactAsync and save/load over driver-built generations equal a build over the live set") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val base = baseIdx
    def stream() = LsmVectorIndex(base, compactThreshold = 1000000)
      .ingest(slice(300, 350)).delete(Seq(20L, 310L)).ingest(slice(350, 400))
    val full = VectorIndex.build(slice(10, 400).filter(!col("id").isin(20L, 310L)),
      params, numShards = 4)
    assert(stream().generations.forall(_.numShards == 1))
    assert(sameIndex(stream().compact().base, full), "compact")
    withTempDir("lsm_driver_gen_") { dir =>
      stream().save(dir)
      assert(sameIndex(LsmVectorIndex.load(spark, dir).compact().base, full), "save/load + compact")
    }
    val lsm = stream()
    val swap = scala.concurrent.Await.result(
      lsm.compactAsync(), scala.concurrent.duration.Duration(180, "seconds"))
    // the async fold keeps the tombstones for the next compact
    assert(sameIndex(swap(lsm).compact().base, full), "compactAsync + compact")
  }

  test("compaction releases the driver-held rows of every generation it folds") {
    import org.apache.spark.graft.DriverBlocks
    // destroying a broadcast is asynchronous: wait up to 10 s
    def released(ids: Seq[Long]): Boolean = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (ids.exists(DriverBlocks.holdsBroadcast) && System.nanoTime() < deadline)
        Thread.sleep(50)
      !ids.exists(DriverBlocks.holdsBroadcast)
    }
    var lsm = LsmVectorIndex(baseIdx, compactThreshold = 60)
    for (cycle <- 0 until 3) {
      val from = 300 + 60 * cycle
      lsm = lsm.ingest(slice(from, from + 20)).ingest(slice(from + 20, from + 40))
      val held = lsm.generations.flatMap(_.driverGraphBroadcastId)
      assert(held.size == 2 && held.forall(DriverBlocks.holdsBroadcast),
        s"cycle $cycle: the live generations' rows must be on the driver")
      lsm = lsm.ingest(slice(from + 40, from + 60)) // 60 fresh: compacts
      assert(lsm.generations.isEmpty, s"cycle $cycle did not compact")
      assert(released(held), s"cycle $cycle: a folded generation still holds driver blocks")
    }
    // the compacted base never reads the released rows again
    assert(resultSet(lsm.query(queries, 10, searchWidth = 0)) == flatExact(480))
  }

  test("a batch over DriverBuildRows is built distributed, one at the bound on the driver") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261017)
    val rows = (0 to LsmVectorIndex.DriverBuildRows)
      .map(i => (1000000L + i, Array.fill(8)(rnd.nextFloat())))
    val empty = VectorIndex.build(slice(0, 0), params, numShards = 4)
    def genOf(n: Int) = LsmVectorIndex(empty, compactThreshold = Long.MaxValue)
      .ingest(rows.take(n).toDF("id", "embedding")).generations.last
    val atBound = genOf(LsmVectorIndex.DriverBuildRows)
    assert(atBound.driverGraphBroadcastId.nonEmpty, "a batch at the bound is built on the driver")
    val over = genOf(rows.length)
    assert(over.driverGraphBroadcastId.isEmpty && over.numShards == 1)
    assert(sameIndex(over, VectorIndex.build(rows.toDF("id", "embedding"), params, numShards = 1)))
    atBound.unpersist(); over.unpersist()
  }

  test("work counter: a batch over DriverBuildRows runs a count job and the build job, no query or cache") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261022)
    val batch = (0 to LsmVectorIndex.DriverBuildRows)
      .map(i => (1000000L + i, Array.fill(8)(rnd.nextFloat()))).toDF("id", "embedding")
    val lsm = LsmVectorIndex(VectorIndex.build(slice(0, 0), params, numShards = 4),
      compactThreshold = Long.MaxValue)
    val (_, read) = workDuring(VectorIndex.takeVectors(batch, "id", LsmVectorIndex.DriverBuildRows + 1))
    // every RDD a stage of the ingest persists
    val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => persisted.add(r.id))
    }
    spark.sparkContext.addSparkListener(l)
    val (grown, ingest) = try workDuring(lsm.ingest(batch)) finally spark.sparkContext.removeSparkListener(l)
    val gen = grown.generations.last
    assert(ingest.sqlExecutions == read.sqlExecutions && ingest.jobs == read.jobs + 2,
      s"the bounded read ran $read, the ingest $ingest")
    assert(persisted.toArray.toSet == Set(gen.probeLayout.id), "the ingest persisted more than its graphs")
    assert(gen.meta.map(_.n_vectors).sum == LsmVectorIndex.DriverBuildRows + 1)
    grown.unpersist()
  }
}
