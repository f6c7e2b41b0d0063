package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** LSM-style generational vector index — the scale-safe streaming-ingest
  * form of the shard contract (reference: source/dehnsw.h:601-609, where a
  * full shard opens a new one; generational shards are that contract's
  * natural streaming shape).
  *
  * [[VectorIndex.append]] rebuilds every shard a batch touches, so with
  * `id % numShards` assignment a high-frequency stream rebuilds EVERY
  * shard EVERY micro-batch — per-event cost grows with shard size, the one
  * probe path whose work was O(index), not O(batch). Here instead:
  *
  *  - '''ingest''' builds a small FRESH index (its own generation) from
  *    just the batch — work is O(batch) and the sealed base is untouched
  *    (object-identity guaranteed, spec-gated). A batch that fits one
  *    generation shard (`genShardSize`) and at most
  *    [[LsmVectorIndex.DriverBuildRows]] rows is read once and its
  *    graph built on the DRIVER and broadcast as one driver-held
  *    partition, the probe layout; a larger batch is built by
  *    [[VectorIndex.build]], one generation shard per `genShardSize`
  *    vectors. Both yield the graphs and meta of [[VectorIndex.build]];
  *  - '''query''' probes the base and every generation and merges their
  *    per-shard top-k into one top-k per query, as the multi-shard probe
  *    does (top-k of a union == top-k of the per-member top-k union, so
  *    exact-mode results equal one flat index — oracle-gated);
  *  - '''compact''' folds all generations into the base and purges
  *    every tombstone in ONE shard-scoped rewrite once their total size
  *    crosses `compactThreshold`, bounding the generation count a probe
  *    pays for. The compacted base equals a full build over the live set,
  *    so exact-mode probes are invariant across compaction (spec-gated).
  *
  * Each batch is checked as its build runs ([[VectorIndex.checkIngest]]):
  * unique ids, and finite embeddings of the index's dimension. Cross-
  * generation or base clashes would need an O(index) lookup per batch —
  * exactly the cost this structure avoids — so the rewrite's
  * disjointness check catches them at compaction time.
  *
  * Memory: a driver-built generation's graph stays on the driver until
  * compaction folds the generation, which releases it, so
  * `compactThreshold` (plus one batch) bounds that footprint (SCALE.md).
  *
  * Instances are immutable: ingest/compact return a new handle; superseded
  * generations (and compacted bases this class itself created) have their
  * caches dropped automatically — a driver-built generation has no other
  * source, so a handle superseded by a compaction must not be probed. The
  * caller-supplied base is never unpersisted.
  */
final class LsmVectorIndex private (
    val base: VectorIndex,
    val generations: Vector[VectorIndex],
    val compactThreshold: Long,
    val genShardSize: Long,
    ownsBase: Boolean,
    // logically-deleted ids (LSM tombstones): probes pass a kernel-level
    // liveness filter (one broadcast sorted primitive array, binary
    // search per candidate pop — dead rows never enter any shard's
    // top-k, so results are the exact live top-k with no overfetch);
    // compaction physically removes them in its one shard-scoped
    // rewrite. Bounded by deleteThreshold auto-purge and 2^20.
    val tombstones: Set[Long] = Set.empty,
    val deleteThreshold: Long = Long.MaxValue,
    // Shared across every handle descended from the same lineage: true
    // while a compactAsync fold is in flight. Ingest must not auto-run the
    // SYNCHRONOUS compact() then — it would unpersist the very snapshot
    // generations (and possibly the base) the background rewrite is still
    // reading, and the eventual swap would fail its base-identity require.
    asyncPending: java.util.concurrent.atomic.AtomicBoolean =
      new java.util.concurrent.atomic.AtomicBoolean(false),
    // the broadcast of `tombstones`, shared with the handles ingest
    // derives (the set is the same)
    private val tombstoneCopy: LsmVectorIndex.TombstoneCopy = new LsmVectorIndex.TombstoneCopy)
    extends Serializable with AnnProbe {

  override def probeId: String =
    (base +: generations).map(_.indexId).mkString("lsm:", "+", "") +
      // tombstones change probe RESULTS without changing any member, so
      // they must change the identity too (rewrite/catalog cache safety)
      (if (tombstones.isEmpty) ""
       // md5 of the sorted id list, not hashCode: probeId exists so
       // rewrite/catalog caches never serve results for the WRONG deleted
       // set, and a 32-bit hash of two same-size sets can collide
       else {
         val md = java.security.MessageDigest.getInstance("MD5")
         val bb = java.nio.ByteBuffer.allocate(8)
         tombstones.toSeq.sorted.foreach { id =>
           bb.clear(); bb.putLong(id); md.update(bb.array())
         }
         s":t${tombstones.size}:${md.digest().map("%02x".format(_)).mkString}"
       })
  override def probeMetric: graft.functions.DistanceMetric = base.params.metric
  override def probeNormalized: Boolean = base.params.transformsInput
  override def probeSemanticMetric: graft.functions.DistanceMetric =
    if (base.params.normalizeForCosine) graft.functions.DistanceMetric.Cosine
    else if (base.params.augmentForMips) graft.functions.DistanceMetric.InnerProduct
    else base.params.metric
  override def probeSession: org.apache.spark.sql.SparkSession = base.probeSession
  override def probeDescription: String =
    s"lsm base shards=${base.numShards} + ${generations.size} generations"

  /** Vectors living in fresh generations (not yet compacted). */
  val freshCount: Long = generations.map(_.meta.map(_.n_vectors).sum).sum

  /** Fold one micro-batch (columns: id LONG, embedding ARRAY<FLOAT>) into
    * a new generation; auto-compacts when the fresh total crosses the
    * threshold. O(batch) work — the base and prior generations are reused
    * as-is.
    *
    * One bounded read that keeps at most `bound + 1` rows, `bound` the
    * smaller of `genShardSize` and [[LsmVectorIndex.DriverBuildRows]],
    * through the plan `batch` already holds ([[VectorIndex.takeVectors]]:
    * no query is planned for it; one job when `batch` has at most 4
    * partitions and `bound` rows, none for a local relation) picks the
    * path:
    *  - a batch of at most `bound` rows is built ON THE DRIVER
    *    ([[VectorIndex.buildOnDriver]]): the same check and kernel loop a
    *    one-shard build task runs, so no parallelism is lost, and no
    *    further job — the generation's graph is one driver-held
    *    partition that its first probe reads without an exchange;
    *  - a larger batch is built by [[VectorIndex.build]], `genShardSize`
    *    vectors per shard, after one job that counts its rows and a
    *    wasted read that moves at most `bound + 1` rows plus one per
    *    task to the driver ([[GraftSqlBridge.take]] states the one
    *    exception). Nothing is cached but the built graphs.
    * Either way a batch with an id missing or repeated, or an embedding
    * missing, non-finite or of another dimension than the index's, is
    * rejected naming the smallest offending id. */
  def ingest(batch: DataFrame): LsmVectorIndex = {
    val bound = math.min(genShardSize, LsmVectorIndex.DriverBuildRows.toLong).toInt
    val head = VectorIndex.takeVectors(batch, "id", bound + 1)
    if (head.isEmpty) return this
    // read once per member and carried across rewrites: no job
    val dim = (base +: generations).find(_.meta.nonEmpty).fold(-1)(_.dimension)
    val gen =
      if (head.length <= bound) VectorIndex.buildOnDriver(batch.sparkSession, head, base.params, dim)
      else {
        val n = batch.queryExecution.toRdd.count()
        VectorIndex.build(batch, base.params, ((n + genShardSize - 1) / genShardSize).toInt, dim)
      }
    val next = new LsmVectorIndex(
      base, generations :+ gen, compactThreshold, genShardSize, ownsBase,
      tombstones, deleteThreshold, asyncPending, tombstoneCopy)
    // Auto-compaction is suppressed while an async fold is outstanding —
    // the swap returned by compactAsync absorbs those generations instead.
    if (next.freshCount >= compactThreshold && !asyncPending.get()) next.compact()
    else next
  }

  /** Fold every generation into the base and purge every tombstone in
    * ONE shard-scoped rewrite: a shard gaining a live fresh id or holding
    * a tombstoned id is rebuilt once from its survivors plus its live
    * fresh ids; the rest keep graphs and meta verbatim. One Spark job
    * that plans no query ([[VectorIndex.rewriteShards]]): the fresh rows,
    * read off the generations' graphs, and the tombstone ids are the
    * only data shuffled, and each base shard's task finds out itself
    * whether it changes. The rebuilt shards are the only graphs built:
    * the new base's cached graphs are its probe layout, so its first
    * probe runs no exchange. Exact-mode probe results are unchanged (the
    * result equals a build over the live set) and probes stop paying the
    * liveness filter. Generations this index built are unpersisted, the
    * graph of a driver-built one released for good; so is a base a
    * previous compaction created, once it is replaced, and the tombstone
    * broadcast. */
  def compact(): LsmVectorIndex = {
    require(!asyncPending.get(),
      "compact() while a compactAsync fold is outstanding would unpersist " +
        "the snapshot generations (and owned base) the background rewrite " +
        "is reading — apply the returned swap instead, or let it fail first")
    if (generations.isEmpty && tombstones.isEmpty) return this
    val dead = if (tombstones.isEmpty) null
      else probeSession.sparkContext.parallelize(tombstones.toSeq, base.numShards)
    val newBase = base.rewrite(dead, LsmVectorIndex.rowsOf(generations)) // materializes before we unpersist
    val replaced = newBase ne base
    generations.foreach(_.unpersist())
    if (ownsBase && replaced) base.unpersist()
    tombstoneCopy.release()
    new LsmVectorIndex(newBase, Vector.empty, compactThreshold, genShardSize,
      ownsBase || replaced, Set.empty, deleteThreshold, asyncPending)
  }

  /** Logical DELETE (tombstoning) — the index-lifecycle face the
    * reference has no answer to: ids stop appearing in any probe result
    * immediately (exactness via the kernel liveness filter — see the
    * tombstone field note), and the NEXT compaction removes them
    * physically in its one shard-scoped rewrite.
    * Deleting an id that was never inserted is a harmless no-op
    * (idempotent), so callers can replay delete feeds. Auto-purges
    * (compacts) when the tombstone set reaches `deleteThreshold` — the
    * knob that bounds the driver-side set and the filter broadcast. */
  def delete(ids: Iterable[Long]): LsmVectorIndex = {
    val ts = tombstones ++ ids
    if (ts.size == tombstones.size) return this
    require(ts.size <= (1 << 20),
      s"${ts.size} tombstones exceed the 2^20 liveness-filter bound " +
        "(driver set + ~8 MB broadcast sizing) — " +
        "compact() (or lower deleteThreshold) to purge physically")
    tombstoneCopy.release() // this handle is superseded; free its copy
    val next = new LsmVectorIndex(base, generations, compactThreshold,
      genShardSize, ownsBase, ts, deleteThreshold, asyncPending)
    if (ts.size >= deleteThreshold && !asyncPending.get()) next.compact()
    else next
  }

  /** Begin folding the CURRENT generations into the base on another
    * thread (Spark runs concurrent jobs from separate driver threads), so
    * ingest keeps accepting batches while the fold runs — the
    * background-compaction shape a live stream needs (a synchronous
    * [[compact]] blocks the batch that crosses the threshold for the
    * whole rebuild). The fold is the same shard-scoped rewrite as
    * [[compact]], over the snapshot generations only; tombstones stay on
    * the handle the swap is applied to, for the next [[compact]].
    *
    * Returns a future SWAP function: apply it to any LATER handle
    * descended from this one (same leading generations — validated by
    * identity) to obtain the compacted equivalent, whose generations are
    * exactly the ones ingested since this call. Exact-mode probes are
    * unaffected by WHEN the swap is applied (same vectors either way —
    * the [[compact]] invariance, spec-gated). The snapshot generations
    * and this base (when owned) are unpersisted as part of the swap.
    * Applying the swap to an INVALID handle abandons the fold: its
    * output is dropped, the pending flag clears, and compaction can
    * simply run again. Dropping the swap without ever applying it
    * leaves auto-compaction disabled for the lineage — always apply
    * (or let the future fail, which also clears the flag). */
  def compactAsync()(implicit ec: scala.concurrent.ExecutionContext)
      : scala.concurrent.Future[LsmVectorIndex => LsmVectorIndex] = {
    val snapshot = generations
    if (snapshot.isEmpty) return scala.concurrent.Future.successful(identity)
    val freshVecs = LsmVectorIndex.rowsOf(snapshot)
    val oldBase = base
    val owned = ownsBase
    val pending = asyncPending
    require(pending.compareAndSet(false, true),
      "a compactAsync fold is already outstanding on this lineage")
    scala.concurrent.Future {
      val newBase =
        try oldBase.rewrite(null, freshVecs) // materializes before any unpersist
        catch { case e: Throwable => pending.set(false); throw e }
      // 0 = fresh, 1 = applied, 2 = abandoned: a FIRST misapply abandons
      // the fold (drop its output, re-enable compaction) instead of
      // leaking asyncPending=true forever with auto-compaction silently
      // disabled; a misapply AFTER a successful apply must not touch
      // newBase — it is a live base by then. Both outcomes CLAIM the fold
      // by CAS from 0, so the validity checks and the state transition
      // are effectively one atomic step: a concurrent misapply that loses
      // the CAS race to a valid apply cannot unpersist the just-installed
      // base (or clear pending twice), and a valid apply that loses to a
      // misapply fails loudly instead of returning an index whose base
      // was unpersisted under it.
      val state = new java.util.concurrent.atomic.AtomicInteger(0)
      (later: LsmVectorIndex) => {
        require(state.get() != 2,
          "compaction swap was abandoned by an earlier misapply — compact again")
        try {
          require(later.base eq oldBase,
            "compaction swap applied to a handle with a different base " +
              "(compacted concurrently elsewhere?)")
          require(later.generations.length >= snapshot.length &&
            later.generations.take(snapshot.length).zip(snapshot).forall {
              case (a, b) => a eq b
            },
            "compaction swap applied to a handle that does not extend the snapshot")
        } catch {
          case e: Throwable =>
            if (state.compareAndSet(0, 2)) {
              newBase.unpersist()
              pending.set(false)
            }
            throw e
        }
        require(state.compareAndSet(0, 1),
          if (state.get() == 1) "compaction swap already applied"
          else "compaction swap was abandoned by a concurrent misapply — compact again")
        snapshot.foreach(_.unpersist())
        if (owned) oldBase.unpersist()
        pending.set(false)
        new LsmVectorIndex(newBase, later.generations.drop(snapshot.length),
          later.compactThreshold, later.genShardSize, ownsBase = true,
          later.tombstones, later.deleteThreshold, pending, later.tombstoneCopy)
      }
    }
  }

  /** Batch kNN probe across base + generations — same contract, output
    * schema and routing as [[VectorIndex.query]] (searchWidth 0 = exact).
    * A batch of at most `maxBatch` queries is validated and answered
    * EAGERLY, in one Spark job over the fused member layout (see
    * [[queryBatch]]) with the top-k merged on the driver: the driver
    * holds at most `maxBatch` query vectors and `maxBatch × k` result
    * rows. A larger batch is probed without the driver, over the same
    * fused layout, and merged by one shuffle. Deleted ids are dropped
    * inside the kernel (the liveness filter), so every member returns its
    * exact live top-k and no tombstone post-filter is needed. */
  def query(queries: DataFrame, k: Int, searchWidth: Int,
      maxBatch: Int = 100000): DataFrame = {
    val members = probeMembers
    if (members.isEmpty) VectorIndex.resultFrame(probeSession, Nil)
    else VectorIndex.probeRouted(members, queries, k, searchWidth, maxBatch, liveFilter)
  }

  /** Probe with an already-materialized query batch, LAZILY — the
    * [[AnnProbe]] face the SQL rewrite splices in.
    *
    * FUSED across members: the cached probe layouts of the base and every
    * generation are unioned (a narrow concatenation — no recompute, no
    * shuffle) and probed in ONE job; each task maps its union partition
    * back to (member, local shard). One job chain + one merge instead of
    * one per member — the per-probe fixed cost no longer grows with the
    * generation count. */
  def queryBatch(batch: Array[(Long, Array[Float])], k: Int, searchWidth: Int,
      maxBatch: Int = 100000): DataFrame = {
    val members = probeMembers
    if (members.isEmpty) VectorIndex.resultFrame(probeSession, Nil)
    else VectorIndex.probeLazy(members, batch, k, Array(searchWidth), maxBatch, liveFilter)
  }

  override def probeBatch(
      batch: Array[(Long, Array[Float])], k: Int, searchWidth: Int): DataFrame =
    queryBatch(batch, k, searchWidth)

  /** The base and every generation that holds a shard. */
  private def probeMembers: Seq[VectorIndex] = (base +: generations).filter(_.meta.nonEmpty)

  /** Kernel liveness filter from the tombstone set: null (no filtering
    * overhead anywhere in the kernel loop) when nothing is deleted;
    * otherwise a primitive-sorted-array binary search behind the
    * set's one broadcast ([[LsmVectorIndex.TombstoneCopy]]) — O(log t)
    * per candidate with zero boxing, every probe task sharing the one
    * executor-resident copy instead of each closure dragging a Set[Long]
    * through task serialization. */
  private def liveFilter: Long => Boolean = {
    if (tombstones.isEmpty) return null
    val bc = tombstoneCopy.get(probeSession.sparkContext, tombstones)
    gid => java.util.Arrays.binarySearch(bc.value, gid) < 0
  }

  /** Total vectors across base + generations. */
  def vectorCount: Long = base.meta.map(_.n_vectors).sum + freshCount

  /** Drop caches of every member this handle references, and release the
    * graphs of its driver-built generations: the handle must not be probed
    * afterwards. The base is only dropped when this class created it (a
    * compaction product). */
  def unpersist(): Unit = {
    generations.foreach(_.unpersist())
    if (ownsBase) base.unpersist()
    tombstoneCopy.release()
  }

  /** Persist the whole generational state: base + each generation through
    * [[VectorIndex.save]] (parquet rows + sidecars) plus one manifest.
    * Loading restores an equivalent handle mid-stream — ingest, probe and
    * compaction pick up exactly where the saved state left off. The
    * manifest, deleted first and written last, is the commit point; a
    * member loaded from a directory the save writes is refused first. */
  def save(path: String): Unit = {
    val members = (base -> s"$path/base") +:
      generations.zipWithIndex.map { case (g, i) => g -> s"$path/gen-$i" }
    val hconf = probeSession.sessionState.newHadoopConf()
    for ((m, _) <- members if m.stored != null; (_, target) <- members)
      VectorIndex.requireDistinctPaths(hconf, m.stored.path, target, "LsmVectorIndex.save")
    val manifest = new org.apache.hadoop.fs.Path(s"$path/lsm.json")
    manifest.getFileSystem(hconf).delete(manifest, false)
    members.foreach { case (m, target) => m.save(target) }
    Sidecar.write(probeSession, s"$path/lsm.json",
      Sidecar.LsmFile(generations.length, compactThreshold, genShardSize,
        deleteThreshold, tombstones.toArray.sorted))
  }
}

object LsmVectorIndex {
  /** The most rows [[LsmVectorIndex.ingest]] builds on the driver; a
    * smaller `genShardSize` bounds it further. A batch over it is built
    * distributed, after a read that moves at most this many rows plus
    * one, and one more per task: about 2 MB of 64-d vectors, 25 MB of
    * 768-d ones. */
  private[graft] val DriverBuildRows: Int = 8192

  /** The (id, embedding) rows of `gens` (null if none), read off their
    * graphs: the fresh rows a compaction folds in. */
  private def rowsOf(gens: Vector[VectorIndex]): org.apache.spark.rdd.RDD[(Long, Array[Float])] =
    if (gens.isEmpty) null
    else gens.head.probeSession.sparkContext.union(gens.map(_.probeLayout))
      .flatMap(VectorIndex.vectorsOf)

  /** The tombstone set as ONE broadcast sorted primitive array, made on
    * the first probe and shared by every later probe of the handles that
    * hold the set, those [[LsmVectorIndex.ingest]] derives included: a
    * serving loop reuses one resident copy instead of accumulating one
    * per call or per batch. [[release]] destroys it when a delete or
    * compaction supersedes the set, so a loop holds ONE live tombstone
    * broadcast; a superseded handle probed again broadcasts its set anew,
    * and a lazy probe result of it must be consumed before that call. */
  private[index] final class TombstoneCopy extends Serializable {
    @transient private var bc: org.apache.spark.broadcast.Broadcast[Array[Long]] = null

    def get(sc: org.apache.spark.SparkContext, ids: Set[Long])
        : org.apache.spark.broadcast.Broadcast[Array[Long]] = synchronized {
      if (bc == null) {
        val sorted = ids.toArray
        java.util.Arrays.sort(sorted)
        bc = sc.broadcast(sorted)
      }
      bc
    }

    def release(): Unit = synchronized {
      if (bc != null) { bc.destroy(); bc = null }
    }
  }

  /** Wrap a sealed base index for generational ingest.
    *
    * @param compactThreshold fold generations into the base once their
    *                         total vector count reaches this
    * @param genShardSize     max vectors per generation shard (a
    *                         micro-batch usually fits one shard, and is
    *                         then built on the driver when it also fits
    *                         [[DriverBuildRows]]) */
  def apply(base: VectorIndex, compactThreshold: Long,
      genShardSize: Long = 65536L,
      deleteThreshold: Long = Long.MaxValue): LsmVectorIndex = {
    require(compactThreshold > 0, "compactThreshold must be positive")
    require(genShardSize > 0, "genShardSize must be positive")
    require(deleteThreshold > 0, "deleteThreshold must be positive")
    new LsmVectorIndex(base, Vector.empty, compactThreshold, genShardSize,
      ownsBase = false, Set.empty, deleteThreshold)
  }

  /** Restore a [[LsmVectorIndex.save]]d generational index. The loaded
    * handle owns its members (unpersist/compaction may drop their
    * caches). */
  def load(spark: SparkSession, path: String): LsmVectorIndex = {
    val m = Sidecar.readRequired[Sidecar.LsmFile](spark, s"$path/lsm.json")
    val base = VectorIndex.load(spark, s"$path/base")
    val gens = (0 until m.generations).map(i => VectorIndex.load(spark, s"$path/gen-$i")).toVector
    new LsmVectorIndex(base, gens, m.compactThreshold, m.genShardSize,
      ownsBase = true, m.tombstones.toSet, m.deleteThreshold)
  }
}
