package graft.index

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlBridge

import graft.functions.DistanceMetric
import graft.operators.{TopK, TopKBuffer}

/** Where an index's shard graphs are resident: the blocks of its probe
  * layout ([[VectorIndex!.probeLayout]], partition s = shard s's graph),
  * held by Spark's block manager and bounded by its storage memory. This
  * driver-side registry maps an index id to that layout, so callers can
  * see which graphs are resident and retire an index's graphs. Graphs
  * carry mutable search scratch, so probes synchronize on the instance
  * (two concurrent jobs may probe the same shard). */
object ShardGraphCache {
  private val layouts = new java.util.concurrent.ConcurrentHashMap[
    String, java.lang.ref.WeakReference[RDD[SubIndexGraph]]]()

  /** Record `layout` as the graphs of index `indexId`; an index no longer
    * referenced drops out. */
  private[index] def register(indexId: String, layout: RDD[SubIndexGraph]): Unit = {
    layouts.values().removeIf(_.get == null)
    layouts.put(indexId, new java.lang.ref.WeakReference(layout))
  }

  private def layoutOf(indexId: String): Option[RDD[SubIndexGraph]] =
    Option(layouts.get(indexId)).flatMap(r => Option(r.get))

  /** Shard `shardId`'s graph of index `indexId` when this JVM holds it
    * in memory, else null. */
  def peek(indexId: String, shardId: Int): SubIndexGraph = layoutOf(indexId).flatMap {
    case d: VectorIndex.DriverGraphRDD => d.resident
    case l => org.apache.spark.sql.graft.GraftSqlBridge.residentValue(l.id, shardId)
      .map(_.asInstanceOf[SubIndexGraph])
  }.orNull

  /** Drop every resident graph of index `indexId` from the block stores
    * of the whole cluster: the heap half of RETIRING a snapshot
    * (deleting its files frees storage; this frees its graphs). The
    * index stays valid: its next probe re-reads a loaded snapshot's
    * shards, or rebuilds an in-memory index's from its lineage, and
    * caches them again. A driver-built generation's graph lives in its
    * broadcast until [[VectorIndex!.unpersist]]. Returns the number of
    * shards dropped. */
  def evict(indexId: String): Int =
    layoutOf(indexId).fold(0)(l => org.apache.spark.sql.graft.GraftSqlBridge.dropRddBlocks(l.id))
}

/** One index row as [[VectorIndex!.rows]] shows it: a vector plus its
  * per-layer adjacency (arrays-of-structs instead of maps for encoder
  * friendliness). A snapshot stores every column but `edges`, which
  * loading derives from `out` (FIXTURES.md §4). */
case class IndexRow(
    sub_index_id: Int,
    offset: Int,
    global_id: Long,
    layer: Int,
    embedding: Array[Float],
    out: Seq[Seq[OutEdge]],
    edges: Seq[Seq[EdgeRef]])

case class OutEdge(dist: Double, nbr: Int)
case class EdgeRef(nbr: Int, rc: Int)

/** Per-shard metadata (entry point etc. — reference: dehnsw.h:54-70). */
case class ShardMeta(sub_index_id: Int, n_vectors: Long, layer_count: Int, entry_offset: Int)

/** The MACHINE-READABLE half of a face's provenance: the artifact `path`
  * a serve of this face must open (the IVF-PQ codes snapshot, the
  * full-precision base store) plus small string `knobs` (pool size,
  * fetch mode, nprobe…). [[FacePoint.artifact]] stays free text for
  * measurement context (JVM co-residency, corpus notes) — this is the
  * part [[FaceServer]] dispatches on, so it must survive a JSON
  * round-trip structurally, not as prose. */
case class FaceArtifact(path: String, knobs: Map[String, String] = Map.empty) {
  /** Compact JSON object (knob keys sorted for deterministic bytes). */
  def toJson: String = Sidecar.encode(this)
}

object FaceArtifact {
  /** Parse [[FaceArtifact.toJson]] output; None on anything else. */
  def fromJson(json: String): Option[FaceArtifact] =
    scala.util.Try(Sidecar.decode[FaceArtifact](json)).toOption
}

/** One measured serving FACE of a published index pair: `face` names the
  * serving path ("exact" = the index's own width-0 scan, "beam" = the
  * graph walk at searchWidth `param`, "refine" = an SQ8 pool at
  * searchWidth `param` exact-float-reranked against the base relation,
  * "ivfpq" = an ADC+rerank serve at nprobe `param` from a codes snapshot
  * published beside the graph), with its measured sample recall and warm
  * ms/query. The deployment decision SCALE.md documents is multi-way
  * (exact vs beam vs refined vs IVF-PQ, each a different
  * recall/latency/memory point) — persisting the measured table lets a
  * serving deployment pick a FACE, not just a width, from evidence.
  *
  * `artifact` records WHICH artifact and measurement conditions back the
  * point (codes-snapshot path + knobs, pool size, JVM co-residency…) —
  * empty for faces served by the snapshot the sidecar itself lives in.
  * `ref` is the structured counterpart ([[FaceArtifact]]: path + knobs)
  * that [[FaceServer.serve]] dispatches on — free text stays free text.
  * Pre-artifact (4-element) and pre-ref (5-element) sidecar entries
  * parse unchanged (both fields default empty). */
case class FacePoint(face: String, param: Int, recall: Double,
    msPerQuery: Double, artifact: String = "",
    ref: Option[FaceArtifact] = None)

/** A persisted width-calibration operating point (`calibration.json`
  * beside a snapshot's params.json): the production searchWidth chosen
  * by [[VectorIndex.calibrateWidthTo]], the target it met, k, the chosen
  * width's sample recall, and the full (width, recall) curve for the
  * record. `faces` (optional — empty on width-only calibrations and on
  * every pre-face sidecar, which parse unchanged) is the measured
  * cross-face table ([[FacePoint]]). */
case class WidthCalibration(searchWidth: Int, targetRecall: Double, k: Int,
    sampleRecall: Double, curve: Seq[(Int, Double)],
    faces: Seq[FacePoint] = Nil) {

  /** The cheapest measured face meeting `target` (min ms/query, ties by
    * face name then param for determinism); None when no face qualifies
    * or no face table was persisted — callers fall back to the
    * width-based operating point. */
  def bestFace(target: Double): Option[FacePoint] =
    faces.filter(_.recall >= target)
      .sortBy(f => (f.msPerQuery, f.face, f.param)).headOption
}

/** Distributed dehnsw index: shard == Spark partition (SURVEY §1.3).
  *
  * Build: an append onto empty shards. Deterministic shard assignment
  * (`global_id % numShards` — unlike the reference's insertion-order
  * chunking, dehnsw.h:601, but equally deterministic and
  * shuffle-friendly), graph built partition-locally in insertion order
  * of ascending id. Parallel across shards — better than
  * the reference, which builds shards sequentially.
  *
  * Query: broadcast the query batch, probe every shard (the *intended*
  * multi-shard semantics of the commented `query_with_sub_index`,
  * dehnsw.h:532-587), then one top-k merge of the per-shard top-k instead
  * of the reference's sequential distance-bound (deliberate divergence,
  * SURVEY §2.1 O7 — a shared bound would serialize shard visits). The
  * merge runs on the driver for small batches and as a shuffle for large
  * ones.
  *
  * Scale notes: each task holds one shard's graph, about n / numShards
  * rows (no build reads `subIndexBound`) — pick numShards from executor
  * memory; candidates merged are O(queries x shards x k), never O(rows).
  */
class VectorIndex private (
    val params: IndexParams,
    val numShards: Int,
    val meta: Array[ShardMeta],
    /** The identity of this index's graphs ([[ShardGraphCache]]): fresh
      * per build and per load. */
    val indexId: String,
    @transient private val spark: SparkSession,
    /** An in-memory index's graphs, persisted and filled by its build
      * ([[VectorIndex.inMemory]], [[VectorIndex.buildOnDriver]]); None for
      * a loaded snapshot. */
    @transient private val built: Option[RDD[SubIndexGraph]],
    /** A loaded snapshot's rows; null for an in-memory index. */
    @transient private[index] val stored: VectorIndex.StoredRows) extends Serializable with AnnProbe {

  override def probeId: String = indexId
  override def probeMetric: graft.functions.DistanceMetric = params.metric
  override def probeNormalized: Boolean = params.transformsInput
  override def probeSemanticMetric: graft.functions.DistanceMetric =
    if (params.normalizeForCosine) DistanceMetric.Cosine
    else if (params.augmentForMips) DistanceMetric.InnerProduct
    else params.metric
  override def probeSession: SparkSession = spark
  override def probeBatch(
      batch: Array[(Long, Array[Float])], k: Int, searchWidth: Int): DataFrame =
    queryBatch(batch, k, searchWidth)
  override def probeDescription: String = s"shards=$numShards"

  /** Stored vector dimension, reused by every append. An in-memory index
    * reads it in its build, a rewrite of an index that knew it starts out
    * knowing it, and a loaded snapshot takes it from `params.json`; a
    * snapshot written without that key reads it once from one row of one
    * shard's file ([[VectorIndex.storedDimension]], one job). Only valid
    * when the index is non-empty — callers guard on meta.nonEmpty. */
  def dimension: Int = {
    if (knownDim <= 0) knownDim = VectorIndex.storedDimension(spark, stored, meta, numShards)
    knownDim
  }
  // <= 0 = not read yet (a deserialized handle holds 0)
  @transient @volatile private var knownDim: Int = -1

  /** Batch kNN probe. searchWidth (= the reference's query-RM,
    * dehnsw.h:300-307): 0 = exact (per-shard brute-force scan — guaranteed
    * exhaustive, a strict strengthening of the reference's
    * connected-component walk); > 0 = ANN beam with early termination.
    * Returns (query_id, rank, neighbor_id, distance).
    *
    * Routing: one bounded read of the plan `queries` already holds
    * ([[VectorIndex.takeVectors]]) keeps every query row when there are
    * at most `maxBatch`, so a call plans no query of its own: no job for
    * a local relation, one for a relation of at most 4 partitions, and
    * at most `maxBatch + 1` rows plus one per task moved to the driver
    * ([[GraftSqlBridge.take]] states the bound and its one exception).
    * `query_id` and `embedding` resolve as `col` resolves them, and
    * `query_id` is cast as `cast("long")` casts it. The read takes every
    * column of `queries` as its plan produces them: pass only the two
    * columns when others are wide. A batch of at most `maxBatch`
    * queries is answered
    * EAGERLY, before this returns: one Spark job probes every shard,
    * each task ships at most k candidates per query, and the driver
    * merges them into the final top-k ([[VectorIndex.probeNow]]). The
    * result is a local relation, so collecting it runs no further job.
    * The driver then holds at most `maxBatch` query vectors and
    * `maxBatch × k` result rows. The batch is validated there first: a
    * null query_id, or a missing, ragged or non-finite query vector,
    * throws an IllegalArgumentException (naming the query id where there
    * is one). A larger batch never transits the driver beyond that read
    * and is answered lazily by the driverless shuffled probe
    * ([[VectorIndex.probeDistributed]]), whose tasks reject such a vector
    * by id. */
  def query(queries: DataFrame, k: Int, searchWidth: Int, maxBatch: Int = 100000): DataFrame =
    VectorIndex.probeRouted(Seq(this), queries, k, searchWidth, maxBatch, null)

  /** Two-stage REFINED probe — the quantization-ceiling breaker: stage 1
    * pulls a per-query pool of `pool` candidates from this index
    * ([[query]] at `searchWidth`; width 0 = the exact SQ8 scan), stage 2
    * re-scores only the pool with FULL-PRECISION vectors from `base`
    * (the raw (id, embedding) relation this index was built from) and
    * keeps the top k ([[graft.operators.RefineKnn.refine]], scored with
    * the index's SEMANTIC metric on raw vectors). An SQ8 index's beam
    * or exact scan is capped by its code resolution (the 100M decade
    * ceiling: 0.959 recall@10 — SCALE.md); refinement only needs the
    * true neighbors inside the top-`pool`, so the ceiling lifts to
    * ~P(true k-NN ⊆ SQ8 top-pool) — near 1 for pool >> k.
    *
    * Cost at scale: one bounded broadcast (|queries| × pool ids) + one
    * column-pruned pass over `base` per query BATCH — amortized, and
    * cheaper per row than a distance eval (hash probe vs 2·dim FLOPs).
    *
    * CONTRACT: `base` must be the relation this index was built from
    * (or a superset) — a pool id missing from `base` is silently
    * dropped by the rerank's inner join ([[graft.operators.RefineKnn
    * .refine]]), degrading to fewer-than-k rows or shifted ranks with
    * no error. Pass `requireCoverage = true` when the base comes from
    * an external store whose freshness is not guaranteed by
    * construction: coverage is then asserted (one extra count over the
    * bounded scored pool) and a stale base throws instead. */
  def queryRefined(queries: DataFrame, base: DataFrame, k: Int, pool: Int,
      searchWidth: Int, maxBatch: Int = 100000,
      requireCoverage: Boolean = false): DataFrame = {
    require(pool >= k, s"refine pool $pool must be >= k=$k")
    graft.operators.RefineKnn.refine(
      query(queries, pool, searchWidth, maxBatch)
        .select(col("query_id"), col("neighbor_id")),
      queries, base, k, probeSemanticMetric, requireCoverage)
  }

  /** [[queryRefined]] with the rerank base read from a PUBLISHED
    * [[graft.sources.BaseStore]] — the deployment shape, where the
    * build corpus is not a live relation. `fetch` picks the store read:
    *  - "point": pin the bounded stage-1 pool, collect its distinct ids
    *    (≤ |queries| × pool longs) and page-pruned-read only those rows
    *    ([[graft.sources.BaseStore.fetch]]) — rerank I/O scales with
    *    the POOL, the serving default;
    *  - "scan": stream the whole store once, column-pruned, semi-joined
    *    against the broadcast pool — wins only when the batch is so
    *    large the pool touches most pages anyway.
    * Coverage is always asserted (a store that has drifted from the
    * index must throw, not silently return fewer neighbors). */
  def queryRefinedFromStore(queries: DataFrame, storePath: String, k: Int,
      pool: Int, searchWidth: Int, fetch: String = "auto",
      maxBatch: Int = 100000): DataFrame = {
    require(pool >= k, s"refine pool $pool must be >= k=$k")
    // "auto": the measured crossover ([[graft.sources.BaseStore
    // .pointWins]]) — point fetch for small pools, the batch-amortized
    // full-store scan once the pool id set would touch enough vector
    // pages that per-hit page decodes cost more than one pass
    val mode =
      if (fetch != "auto") fetch
      else {
        // |Q|×pool bounds the distinct pool ids without running stage 1
        val nIds = queries.count() * pool
        if (graft.sources.BaseStore.pointWins(spark, storePath, nIds))
          "point"
        else "scan"
      }
    mode match {
      case "scan" =>
        queryRefined(queries,
          graft.sources.BaseStore.relation(spark, storePath), k, pool,
          searchWidth, maxBatch, requireCoverage = true)
      case "point" =>
        // pin the pool so the probe runs once, not once per consumer
        // (ids collect + rerank join)
        val stage1 = query(queries, pool, searchWidth, maxBatch)
          .select(col("query_id"), col("neighbor_id")).localCheckpoint(true)
        val ids = stage1.select(col("neighbor_id")).distinct()
          .collect().map(_.getLong(0)).toSeq
        graft.operators.RefineKnn.refine(stage1, queries,
          graft.sources.BaseStore.fetch(spark, storePath, ids), k,
          probeSemanticMetric, requireCoverage = true)
      case other => sys.error(
        s"queryRefinedFromStore: unknown fetch mode '$other' (auto|point|scan)")
    }
  }

  /** Probe with an already-materialized query batch, LAZILY (no job
    * runs until the result is consumed) — the [[AnnProbe.probeBatch]]
    * face the optimizer rewrite splices in. Batches over `maxBatch` are
    * broadcast in chunks, with all chunks merged in one final top-k. */
  def queryBatch(
      queryBatch: Array[(Long, Array[Float])], k: Int, searchWidth: Int,
      maxBatch: Int = 100000): DataFrame =
    VectorIndex.probeLazy(Seq(this), queryBatch, k, Array(searchWidth), maxBatch, null)

  /** Probe the same query batch at SEVERAL beam widths in one pass —
    * the recall-sweep shape (v8 oracle, [[graft.Sweep]]): per shard the
    * graph is locked once and every (query, width) pair probes the
    * resident graph back to back, so a W-width sweep costs one job and
    * one shard-cache pass instead of W full probe jobs. Output adds a
    * leading `search_width` column to the [[query]] schema. Widths <= 0
    * mean exact (same contract as [[query]]). */
  def queryBatchMultiWidth(
      batch: Array[(Long, Array[Float])], k: Int, widths: Seq[Int],
      maxBatch: Int = 100000): DataFrame = {
    import spark.implicits._
    val w = widths.length
    require(w >= 1, "need at least one width")
    // the largest id whose merge key id × w + (w - 1) fits a long
    val maxId = (Long.MaxValue - (w - 1)) / w
    batch.foreach { case (id, _) =>
      require(id >= 0 && id <= maxId,
        s"query $id is outside [0, $maxId], the query ids a $w-width probe can merge")
    }
    if (batch.isEmpty) {
      return spark.emptyDataset[(Int, Long, Int, Long, Double)]
        .toDF("search_width", "query_id", "rank", "neighbor_id", "distance")
    }
    val widthArr = widths.toArray
    // the merge runs per (query, width): the width index rides in the low
    // digits of the synthetic query id the probe emits (query_id * w + wi),
    // decoded in exact integer arithmetic
    VectorIndex.probeLazy(Seq(this), batch, k, widthArr, maxBatch, null)
      .select(
        element_at(typedLit(widthArr), (col("query_id") % w).cast("int") + 1)
          .as("search_width"),
        expr(s"query_id div $w").as("query_id"),
        col("rank"), col("neighbor_id"), col("distance"))
  }

  /** Width AUTO-calibration — the reference's manual parameter sweep
    * (example/dehnsw_example.cpp:96-130) made self-driving: probe a
    * bounded sample of queries at every candidate width AND width 0 (the
    * index's own exact scan — for a quantized index that is the
    * quantization ceiling, i.e. the best any beam can do) in ONE
    * [[queryBatchMultiWidth]] pass, score each width with the reference's
    * tie-tolerant rank-wise distance compare (E2 semantics —
    * [[graft.operators.RecallEval.recallByQuery]]), and return the
    * SMALLEST width whose sample recall meets `targetRecall`, plus the
    * full (width, recall) curve for the record.
    *
    * Returns width 0 — "serve exact" ([[query]]'s `searchWidth <= 0`
    * contract) — when no candidate width meets the target: the honest
    * fallback, since exact scan trivially meets any target the index
    * can meet at all.
    *
    * 100 TB shape: the sample is bounded by contract (|sample| × k ×
    * |widths| result rows transit the driver — nothing corpus-sized),
    * the sweep costs one shard-rehydration cycle, and exact ground
    * truth is exactly one more width in the same pass (measured at the
    * decade: brute force over 100M×64d for 100 queries is 29 s —
    * brute force IS cheap as a calibrator, SCALE.md). */
  def calibrateWidth(sample: Array[(Long, Array[Float])], k: Int,
      targetRecall: Double,
      widths: Seq[Int] = Seq(2, 4, 8, 16, 32, 64, 128, 256, 512))
      : (Int, Seq[(Int, Double)]) = {
    require(sample.nonEmpty, "calibrateWidth needs a non-empty sample")
    require(targetRecall >= 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in [0, 1], got $targetRecall")
    val ws = widths.filter(_ > 0).distinct.sorted
    require(ws.nonEmpty, "calibrateWidth needs at least one positive width")
    val probe = queryBatchMultiWidth(sample, k, 0 +: ws)
      .select(col("search_width"), col("query_id"), col("rank"), col("distance"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val (hits, denom) = VectorIndex.tieTolerantWidthHits(probe)
    // an empty/probeless index yields no width-0 ground-truth rows; a
    // silent all-NaN curve would "choose" width 0 for a meaningless
    // calibration — surface it instead
    require(denom > 0,
      "calibrateWidth: the exact (width 0) probe returned no rows — " +
        "empty index or unprobeable sample")
    val curve = ws.map(w => w -> hits(w).toDouble / denom)
    (curve.find(_._2 >= targetRecall).map(_._1).getOrElse(0), curve)
  }

  /** [[calibrateWidth]] + persist the chosen operating point INTO the
    * snapshot at `path` (a `calibration.json` sidecar beside
    * params.json): the width, target, k, the chosen width's sample
    * recall, and the full curve — so a serving deployment
    * ([[graft.ProbeBench]] width `auto`, [[graft.operators
    * .HybridRetrieval.serveFromSnapshots]] with
    * `searchWidth = VectorIndex.CalibratedWidth`) defaults to the
    * calibrated width instead of re-deriving or hard-coding it. Width 0
    * (the exact-scan fallback) records sample recall 1.0 by
    * construction. */
  def calibrateWidthTo(path: String, sample: Array[(Long, Array[Float])],
      k: Int, targetRecall: Double,
      widths: Seq[Int] = Seq(2, 4, 8, 16, 32, 64, 128, 256, 512))
      : (Int, Seq[(Int, Double)]) = {
    val (w, curve) = calibrateWidth(sample, k, targetRecall, widths)
    val sampleRecall = curve.find(_._1 == w).map(_._2).getOrElse(1.0)
    VectorIndex.writeCalibration(spark, path,
      WidthCalibration(w, targetRecall, k, sampleRecall, curve))
    (w, curve)
  }

  /** The index rows (vectors and adjacency) as an uncached view, for
    * statistics and benches: the graphs dehydrated on every read, a
    * loaded snapshot's read as a probe reads them
    * ([[VectorIndex.StoredGraphs]]) but not cached. No probe reads it. */
  @transient lazy val rows: Dataset[IndexRow] = {
    import spark.implicits._
    spark.createDataset(built.getOrElse(new VectorIndex.StoredGraphs(spark, stored, params, meta, numShards))
      .flatMap(VectorIndex.dehydrate))
  }

  /** Set once a loaded index has made its [[probeLayout]]. */
  @transient @volatile private var layoutMade = false

  /** The id of the broadcast that holds a driver-built index's graph. */
  private[graft] def driverGraphBroadcastId: Option[Long] =
    built.collect { case d: VectorIndex.DriverGraphRDD => d.broadcastId }

  /** The layout every probe reads ([[VectorIndex.shardCandidates]]):
    * partition s holds shard s's graph, or nothing for an empty shard.
    * It is the index's one resident copy, persisted one graph per
    * partition at a level its source sets. An in-memory index's build
    * filled it at memory and disk, and a lost block is rebuilt from its
    * lineage. A LOADED snapshot makes it on first probe, not once per
    * query call, at memory only: partition s reads shard s's file
    * ([[VectorIndex.StoredGraphs]]) straight into the graph, and a block
    * that did not fit, or was lost, is read the same way again by the
    * next probe. A flat snapshot, as written before the shard
    * directories, is refused here, on the driver. */
  @transient private[graft] lazy val probeLayout: RDD[SubIndexGraph] = built.getOrElse {
    val graphs = new VectorIndex.StoredGraphs(spark, stored, params, meta, numShards)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    layoutMade = true
    ShardGraphCache.register(indexId, graphs)
    graphs
  }

  /** [[query]]'s driverless probe ([[VectorIndex.probeDistributed]]),
    * whatever the batch size. Prefer [[query]] for small batches: one
    * broadcast beats a |Q| x shards shuffle when |Q| is tiny. */
  def queryDistributed(queries: DataFrame, k: Int, searchWidth: Int): DataFrame =
    VectorIndex.probeDistributed(Seq(this), queries, k, searchWidth, null)

  /** Batch append: rebuild only the shards that receive new vectors
    * (SURVEY §1.3 — online single-vector insert is out of scope; batch
    * append = partition rebuild). Because shard assignment is id % shards
    * and the kernel is deterministic in ascending-id insertion order, the
    * result is IDENTICAL to rebuilding the whole index from the union of
    * old and new vectors — untouched shards' graphs are reused as-is.
    *
    * The batch is checked in the rewrite ([[VectorIndex.IngestCheck]]), a
    * rejection leaving nothing cached. Returns a new index with a fresh
    * cache identity — EXCEPT for an empty batch, which returns this index
    * unchanged (no copy). The old index stays valid and keeps its caches;
    * drop them with [[unpersist]] when a superseded generation is no
    * longer needed. */
  def append(newVectors: DataFrame): VectorIndex = {
    val check = ingestCheck
    rewrite(null, VectorIndex.inputRows(newVectors, params, check), check)
  }

  /** Shard-scoped physical DELETE (the reference's API stops at
    * insert/query/optimize/save): [[append]]'s economics in reverse —
    * only shards holding a removed id are rebuilt, and a shard emptied by
    * removal drops out of meta. Absent ids are no-ops; removing only
    * absent ids returns this index itself (deletes are idempotent, the
    * LSM contract upstream relies on it). Input: one `id LONG` column. */
  def remove(removeIds: DataFrame): VectorIndex =
    rewrite(VectorIndex.inputIds(removeIds), null)

  /** The one shard-scoped rewrite behind [[VectorIndex.build]],
    * [[append]], [[remove]] and LSM compaction: drop `removed` ids
    * (null = none) and add `added` rows (null = none), both already
    * transformed, in ONE job
    * ([[VectorIndex.rewriteShards]] over this [[probeLayout]]). Each
    * affected shard (it gains a surviving added id, or holds a removed
    * id) is rebuilt once; the others keep their graphs and meta. The
    * result equals [[VectorIndex.build]] over the live set bit for bit,
    * and its one cached copy is its probe layout. No affected shard
    * returns this index. The added rows are checked in the tasks that
    * rebuild their shards, by `check` or one of this index's dimension
    * ([[VectorIndex.IngestCheck]]). */
  private[index] def rewrite(removed: RDD[Long], added: RDD[(Long, Array[Float])],
      given: VectorIndex.IngestCheck = null): VectorIndex = {
    val sc = spark.sparkContext
    val check = if (added == null) null else Option(given).getOrElse(ingestCheck)
    val rebuilt = sc.longAccumulator
    val next = VectorIndex.inMemory(spark, params, numShards, VectorIndex.rewriteShards(
      Left(probeLayout), Option(added).getOrElse(sc.emptyRDD), Option(removed).getOrElse(sc.emptyRDD),
      params, numShards, check, rebuilt))
    // unchanged: nothing rebuilt, and no shard emptied out of meta
    val unchanged = try {
      if (check != null) check.verify()
      rebuilt.value == 0 && next.meta.length == meta.length
    } catch { case t: Throwable => next.unpersist(); throw t }
    if (unchanged) { next.unpersist(); this }
    else {
      // a rewrite never changes the dimension
      if (next.knownDim <= 0) next.knownDim = knownDim
      next
    }
  }

  /** A check of rows added to this index ([[VectorIndex.IngestCheck]]). */
  private[index] def ingestCheck: VectorIndex.IngestCheck =
    new VectorIndex.IngestCheck(spark, if (meta.nonEmpty) dimension else -1, params)

  /** Drop this index's graphs, its one cached copy ([[probeLayout]]).
    * Call on a superseded generation after [[append]] — each generation
    * caches every shard, so long ingest loops must release old ones. A
    * driver-built index ([[VectorIndex.buildOnDriver]]) has no source to
    * recompute from: its graph is released and it must not be probed
    * again; nor may an index whose layout reads it, such as a compacted
    * LSM base, once its own copy is dropped. */
  def unpersist(): Unit =
    // a loaded layout never probed is not made just to be dropped
    if (built.nonEmpty || layoutMade) probeLayout.unpersist(false)

  /** Materialize the index — the engine-side A5 `optimize` (reference:
    * python_binding/dehnswpy.cpp:18-21, a deep-copy compaction no-op that
    * exists to settle memory after build): makes every shard's graph
    * resident so later probes pay no build or read cost. One job: a
    * loaded snapshot reads each shard's file once, straight into its
    * graph; an in-memory index was materialized by its build, so this
    * reads its cache. Returns this index, mirroring the reference's
    * returned copy. */
  def optimize(): VectorIndex = {
    probeLayout.count()
    this
  }

  /** Persist the index (reference save/load round trip, one shard at a
    * time: dehnsw.h:666-844, exercised at dehnsw_example.cpp:208-228):
    * one job whose task s writes shard s's [[probeLayout]] graph to one
    * file in `rows/sub_index_id=s/` ([[VectorIndex.writeShards]]), then
    * the sidecars, `meta.json` last ([[VectorIndex.publish]]). A loaded
    * index refuses its own snapshot as the target before anything is
    * deleted: the publish would delete the rows it reads. */
  def save(path: String): Unit = {
    Option(stored).foreach(s => VectorIndex.requireDistinctPaths(
      spark.sessionState.newHadoopConf(), s.path, path, "save"))
    VectorIndex.publish(spark, path, params, numShards, indexId) { rows =>
      VectorIndex.writeShards(spark, probeLayout, rows)
    }
  }
}

object VectorIndex {

  /** Tie-tolerant rank-wise width scoring shared by [[VectorIndex
    * .calibrateWidth]], the v59 gate, and CalibrateWidthSpec — ONE
    * implementation of the E2 hit rule so the production operator, the
    * pinned oracle, and the spec cannot silently diverge. `probe` is
    * the collected rows of one [[VectorIndex.queryBatchMultiWidth]]
    * pass that INCLUDED width 0 (the exact leg): a width-w row hits
    * when its distance is <= the width-0 distance at the same
    * (query, rank). Returns (per-width hit counts, ground-truth row
    * count). */
  private[graft] def tieTolerantWidthHits(
      probe: Array[(Int, Long, Int, Double)]): (Map[Int, Int], Int) = {
    val gt = probe.collect { case (0, q, r, d) => (q, r) -> d }.toMap
    val hits = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    probe.foreach { case (w, q, r, d) =>
      if (w != 0 && gt.get((q, r)).exists(d <= _)) hits(w) += 1
    }
    (hits.toMap.withDefaultValue(0), gt.size)
  }

  /** A local (query_id, rank, neighbor_id, distance) relation over
    * rows of (Long, Int, Long, Double), wrapped as they are. */
  private[index] def resultFrame(spark: SparkSession,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame = {
    import org.apache.spark.sql.types._
    GraftSqlBridge.dataFrame(spark, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(StructType(Seq(
        StructField("query_id", LongType, nullable = false),
        StructField("rank", IntegerType, nullable = false),
        StructField("neighbor_id", LongType, nullable = false),
        StructField("distance", DoubleType, nullable = false)))), rows))
  }

  /** Read at most `maxBatch + 1` queries ([[takeVectors]]; at most
    * `Int.MaxValue`): the batch, validated and sorted by id, when it
    * holds at most `maxBatch` queries; None when it is larger (the
    * caller then probes without the driver). A query without a query_id
    * is rejected. */
  private[index] def routeBatch(queries: DataFrame, maxBatch: Int)
      : Option[Array[(Long, Array[Float])]] = {
    val head = takeVectors(queries, "query_id", math.min(maxBatch + 1L, Int.MaxValue).toInt)
    if (head.length > maxBatch) None
    else {
      val unnamed = head.count(_._1 == null)
      require(unnamed == 0, s"queries must carry a query_id ($unnamed without)")
      val batch = head.map { case (id, v) => (id.longValue, v) }.sortBy(_._1)
      validateQueries(batch)
      Some(batch)
    }
  }

  /** Every row of `df` when it holds fewer than `n`, otherwise `n` rows
    * (which ones unspecified; both callers then discard them), as (id,
    * embedding) pairs. They are read through the plan its Dataset already
    * holds ([[GraftSqlBridge.take]]), so no query is planned per call.
    * `idColumn` and `embedding` resolve as `col` resolves them; the id
    * is cast as `cast("long")` casts it, and a null id or embedding
    * stays null. An embedding that is not array<float> is rejected
    * before any row is read. The one trade-off: the read takes `df`'s
    * columns as its plan produces them, with no pruning of extra
    * columns. */
  private[graft] def takeVectors(df: DataFrame, idColumn: String, n: Int)
      : Array[(java.lang.Long, Array[Float])] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode}
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType}
    val conf = df.sparkSession.sessionState.conf
    val id = Cast(GraftSqlBridge.boundColumn(df, idColumn), LongType,
      Some(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf))
    require(id.checkInputDataTypes().isSuccess,
      s"$idColumn of type ${id.child.dataType.simpleString} cannot be cast to bigint")
    val emb = GraftSqlBridge.boundColumn(df, "embedding")
    emb.dataType match {
      case ArrayType(FloatType, _) =>
      case t => throw new IllegalArgumentException(s"embedding must be array<float>, not ${t.simpleString}")
    }
    val j = emb.ordinal
    GraftSqlBridge.take(df, n).map { r =>
      (id.eval(r).asInstanceOf[java.lang.Long], if (r.isNullAt(j)) null else r.getArray(j).toFloatArray())
    }
  }

  /** Reject a driver-held batch holding a query vector [[checkQuery]]
    * rejects, or one whose length differs from the batch's first. */
  private[index] def validateQueries(batch: Array[(Long, Array[Float])]): Unit =
    batch.foreach { case (id, v) =>
      checkQuery(id, v)
      val (firstId, first) = batch(0) // checked on the first pass
      require(v.length == first.length,
        s"ragged query batch: query $id has ${v.length} components, " +
          s"query $firstId has ${first.length}")
    }

  /** Reject a query vector the kernel would answer wrongly: a missing
    * embedding, or a NaN/infinite component — which would poison every
    * shard's distance order. The message names the query id. */
  private[index] def checkQuery(id: Long, v: Array[Float]): Unit = {
    require(v != null, s"query $id has no embedding")
    val bad = firstNonFinite(v)
    require(bad < 0, s"query $id has a non-finite component ${v(bad)} at index $bad")
  }

  /** The position of `v`'s first NaN or infinite component, or -1. */
  private[index] def firstNonFinite(v: Array[Float]): Int = {
    var i = 0
    while (i < v.length && java.lang.Float.isFinite(v(i))) i += 1
    if (i < v.length) i else -1
  }

  /** One task's candidates for one query group, as parallel primitive
    * arrays; `slots(j)` = query position in `group` × |widths| + width
    * position. At most k candidates per slot. `group` stays in the task:
    * it does not travel with a task result. */
  private[index] final case class ShardCandidates(
      slots: Array[Int], dists: Array[Double], ids: Array[Long])(
      @transient val group: Array[(Long, Array[Float])])

  /** The per-shard candidate core of every probe. The probe layouts of
    * `members` are concatenated (a single index is its own layout), and
    * each task maps its partition back to (member, shard), takes that
    * shard's graph (resident, or read or rebuilt into its block) and
    * probes each query group at every width, `live` dropping deleted ids
    * inside the kernel: one [[ShardCandidates]] per group. The queries
    * are either a broadcast chunk, one group for every partition
    * (`Left`), or keyed by the partition they were shuffled to
    * (`Right`), in groups of 2048; a partition without queries then
    * probes nothing. The graph carries reusable search scratch, so a
    * group's probes run inside its lock. A query of another dimension
    * than the shard's is rejected by id. */
  private[index] def shardCandidates(members: Seq[VectorIndex],
      queries: Either[Broadcast[Array[(Long, Array[Float])]], RDD[(Int, (Long, Array[Float]))]],
      k: Int, widths: Array[Int], live: Long => Boolean): RDD[ShardCandidates] = {
    val offsets = members.map(_.numShards).scanLeft(0)(_ + _).toArray
    val aug = members.map(m => if (m.params.augmentForMips) 1 else 0).toArray
    def probe(pid: Int, git: Iterator[SubIndexGraph], groups: Iterator[Array[(Long, Array[Float])]]) = {
      var m = 0
      while (offsets(m + 1) <= pid) m += 1
      val g = if (git.hasNext) git.next() else null
      groups.map { group =>
        val slots = new mutable.ArrayBuilder.ofInt
        val dists = new mutable.ArrayBuilder.ofDouble
        val ids = new mutable.ArrayBuilder.ofLong
        if (g != null) g.synchronized {
          for (((id, q), i) <- group.iterator.zipWithIndex) {
            require(q.length == g.dim,
              s"query $id has ${q.length - aug(m)} components, the index takes ${g.dim - aug(m)}")
            for ((w, wi) <- widths.iterator.zipWithIndex; (d, gid) <- g.topK(q, k, w, live)) {
              slots += i * widths.length + wi; dists += d; ids += gid
            }
          }
        }
        ShardCandidates(slots.result(), dists.result(), ids.result())(group)
      }
    }
    val layout = concat(members.map(_.probeLayout))
    queries match {
      // the partition index of the layout union itself — not the task's
      // partition id, which counts from the start of any union of chunks
      case Left(chunk) =>
        layout.mapPartitionsWithIndex((pid, git) => probe(pid, git, Iterator.single(chunk.value)))
      case Right(replicated) => layout.zipPartitions(replicated) { (git, qit) =>
        val qs = qit.buffered
        if (!qs.hasNext) Iterator.empty
        else probe(qs.head._1, git, qs.map(_._2).grouped(2048).map(_.toArray))
      }
    }
  }

  /** The layouts' partitions one after another. `RDD.union` would instead
    * zip them partition by partition when every layout declares the same
    * partitioner, as loaded snapshots of equal shard count do. */
  private def concat(layouts: Seq[RDD[SubIndexGraph]]): RDD[SubIndexGraph] =
    if (layouts.size == 1) layouts.head
    else new org.apache.spark.rdd.UnionRDD(layouts.head.context, layouts)

  /** Route a query relation once ([[routeBatch]]) and probe `members`:
    * a batch of at most `maxBatch` now ([[probeNow]]), a larger one
    * without the driver ([[probeDistributed]]). */
  private[index] def probeRouted(members: Seq[VectorIndex], queries: DataFrame, k: Int,
      searchWidth: Int, maxBatch: Int, live: Long => Boolean): DataFrame =
    routeBatch(queries, maxBatch) match {
      case Some(batch) => probeNow(members, batch, k, searchWidth, maxBatch, live)
      case None => probeDistributed(members, queries, k, searchWidth, live)
    }

  /** Answer a driver-held query batch NOW: for each chunk, ONE Spark job
    * over the members' shards, whose task results (at most k candidates
    * per query) are merged into one [[TopKBuffer]] per query id as each
    * task finishes — the same (distance, id) order as the SQL merge.
    * Returns a local relation: consuming it runs no job.
    * A chunk holds at most `maxChunk` queries, and few enough that one
    * job's task results (queries × k × partitions × ~24 B) stay within a
    * quarter of `spark.driver.maxResultSize`. */
  private[graft] def probeNow(
      members: Seq[VectorIndex], batch: Array[(Long, Array[Float])], k: Int,
      searchWidth: Int, maxChunk: Int, live: Long => Boolean): DataFrame = {
    val spark = members.head.spark
    val sc = spark.sparkContext
    val params = members.head.params
    val qids = batch.map(_._1).distinct.sorted
    val bufs = qids.map(_ => new TopKBuffer(k))
    val resultLimit = sc.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    val perQuery = 24L * math.max(1, k * members.map(_.numShards).sum)
    val chunkSize = math.max(1L, math.min(maxChunk.toLong,
      if (resultLimit <= 0) Long.MaxValue else resultLimit / 4 / perQuery)).toInt
    batch.grouped(chunkSize).foreach { raw =>
      val chunk = raw.map { case (id, v) => (id, params.transformQueryVector(v)) }
      val slot = chunk.map(q => java.util.Arrays.binarySearch(qids, q._1))
      val rdd = shardCandidates(members, Left(sc.broadcast(chunk)), k, Array(searchWidth), live)
      sc.runJob(rdd, (it: Iterator[ShardCandidates]) => it.next(),
        (_: Int, c: ShardCandidates) => c.slots.indices.foreach { j =>
          bufs(slot(c.slots(j))).insert(c.dists(j), c.ids(j))
        })
    }
    resultFrame(spark, qids.indices.flatMap { i =>
      bufs(i).sortedPairs.iterator.zipWithIndex.map {
        case ((d, id), r) => org.apache.spark.sql.catalyst.InternalRow(qids(i), r + 1, id, d)
      }
    })
  }

  /** The LAZY form of [[probeNow]]: the same candidate core, merged by
    * the SQL top-k ([[TopK.topKMerge]]), and no job runs until the result
    * is consumed. The batch is validated first ([[validateQueries]]), so a
    * bad query vector is rejected by id before any job. Candidates carry
    * the synthetic id query_id × |widths| + width position, so the merge
    * is per (query, width). Batches over `maxBatch` are broadcast in
    * chunks. */
  private[index] def probeLazy(
      members: Seq[VectorIndex], batch: Array[(Long, Array[Float])], k: Int,
      widths: Array[Int], maxBatch: Int, live: Long => Boolean): DataFrame = {
    val spark = members.head.spark
    import spark.implicits._
    if (batch.isEmpty) return resultFrame(spark, Nil)
    validateQueries(batch)
    val params = members.head.params
    val w = widths.length
    val candidateChunks = batch.grouped(math.max(maxBatch, 1)).map { raw =>
      val bc = spark.sparkContext.broadcast(
        raw.map { case (id, v) => (id, params.transformQueryVector(v)) })
      val rdd = shardCandidates(members, Left(bc), k, widths, live).flatMap { c =>
        c.slots.indices.iterator.map { j =>
          val s = c.slots(j)
          (c.group(s / w)._1 * w + s % w, c.dists(j), c.ids(j))
        }
      }
      spark.createDataset(rdd).toDF("query_id", "distance", "neighbor_id")
    }.toSeq
    TopK.topKMerge(candidateChunks.reduce(_ union _), k)
  }

  /** Answer a query relation without the driver, lazily: ONE shuffle
    * replicates each query — checked once ([[checkQuery]]) and
    * transformed — to every partition of the members' concatenated
    * layouts, [[shardCandidates]] probes each partition's queries in
    * bounded groups, and one shuffle merges the top-k per query id. No
    * collect, broadcast or `toLocalIterator` transit, so the batch may be
    * arbitrarily large: a task holds one shard's graph plus one group's
    * results. Each query ships to every shard, the same volume a
    * broadcast ships to every executor. */
  private[index] def probeDistributed(members: Seq[VectorIndex], queries: DataFrame,
      k: Int, searchWidth: Int, live: Long => Boolean): DataFrame = {
    val spark = members.head.spark
    import spark.implicits._
    val params = members.head.params
    val n = members.map(_.numShards).sum
    val replicated = queries
      .select(col("query_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])].rdd
      .flatMap { case (id, v) =>
        checkQuery(id, v)
        val q = (id, params.transformQueryVector(v))
        Iterator.range(0, n).map(s => (s, q))
      }
      .partitionBy(new ShardPartitioner(n))
    val candidates = shardCandidates(members, Right(replicated), k, Array(searchWidth), live)
      .flatMap(c => c.slots.indices.iterator.map(j =>
        (c.group(c.slots(j))._1, (c.dists(j), c.ids(j)))))
    // Reduce-side-only top-k merge: a task emits at most k candidates per
    // (query, shard), so a map-side partial top-k shrinks nothing, and its
    // per-query state OOM'd the 10^6-query soak. The reduce side holds one
    // bounded buffer per query: O(queries per reduce task × k).
    val mergeParts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions", n.toString).toInt, n)
    candidates
      .combineByKeyWithClassTag[TopKBuffer](
        v => { val b = new TopKBuffer(k); b.insert(v._1, v._2); b },
        (b, v) => { b.insert(v._1, v._2); b },
        (a, b) => { a.merge(b); a },
        new org.apache.spark.HashPartitioner(mergeParts), mapSideCombine = false)
      .flatMap { case (qid, buf) =>
        buf.sortedPairs.iterator.zipWithIndex.map { case ((d, gid), i) => (qid, i + 1, gid, d) }
      }
      .toDF("query_id", "rank", "neighbor_id", "distance")
  }

  /** Small-file IO through the Hadoop FS API so index metadata lands on
    * the SAME filesystem as the parquet rows (hdfs://, s3a://, file:...) —
    * java.nio would silently write a driver-local path for remote URIs.
    * The bytes go to a `_` temp sibling (skipped by parquet readers and
    * [[linkOrCopyTree]]) renamed over `path`, so a failed
    * write leaves the previous file whole. Locally that is one POSIX
    * rename (FileContext's local rename deletes the target first, via
    * forked shell calls), after dropping the old checksum file so no
    * reader pairs it with the new bytes. */
  private[graft] def writeSmallFile(
      spark: SparkSession, path: String, content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(conf)
    val p = fs.makeQualified(p0)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent,
      s"_${p.getName}.${java.util.UUID.randomUUID()}.tmp")
    try {
      val out = fs.create(tmp, false)
      try out.write(content.getBytes("UTF-8")) finally out.close()
      if (p.toUri.getScheme == "file") {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        def nio(q: org.apache.hadoop.fs.Path) = Paths.get(q.toUri)
        def crc(q: org.apache.hadoop.fs.Path) =
          Paths.get(q.getParent.toUri).resolve(s".${q.getName}.crc")
        Files.deleteIfExists(crc(p))
        Files.move(nio(tmp), nio(p), StandardCopyOption.ATOMIC_MOVE)
        if (Files.exists(crc(tmp))) Files.move(crc(tmp), crc(p), StandardCopyOption.ATOMIC_MOVE)
      } else org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Hardlink (both ends local) or copy every data file under `srcDir`
    * into `dstDir`, preserving the partition-directory structure: zero
    * bytes moved on a local store; on an object store the copy is the
    * server-side-copy fast path: how
    * [[graft.operators.HybridRetrieval.appendBm25]] keeps files. */
  private[graft] def linkOrCopyTree(conf: org.apache.hadoop.conf.Configuration,
      srcDir: String, dstDir: String): Unit = {
    val src = new org.apache.hadoop.fs.Path(srcDir)
    val fs = src.getFileSystem(conf)
    // relative paths computed against the QUALIFIED source: listFiles
    // returns qualified paths, so stripping an unqualified (relative /
    // "./"-spelled) srcDir would silently nest the whole source layout
    // under the destination
    val srcPrefix = fs.makeQualified(src).toUri.getPath
    val it = fs.listFiles(src, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val rel = f.getPath.toUri.getPath.stripPrefix(srcPrefix)
          .stripPrefix("/")
        linkOrCopyFile(conf, f.getPath, new org.apache.hadoop.fs.Path(dstDir, rel))
      }
    }
  }

  /** Hardlink `src` to `dst`, making `dst`'s directory, when both ends
    * are local filesystems (zero bytes moved), else a FileSystem copy.
    * A hardlinked file takes its `.crc` checksum sibling along, when it
    * has one, so reads of `dst` stay verified; a copy writes its own. */
  private def linkOrCopyFile(conf: org.apache.hadoop.conf.Configuration,
      src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit = {
    val (fs, dstFs) = (src.getFileSystem(conf), dst.getFileSystem(conf))
    dstFs.mkdirs(dst.getParent)
    def local(p: org.apache.hadoop.fs.Path) = java.nio.file.Paths.get(p.toUri.getPath)
    val linked = fs.getScheme == "file" && dstFs.getScheme == "file" && (try {
      java.nio.file.Files.createLink(local(dst), local(src)); true
    } catch { case _: Exception => false })
    if (!linked) org.apache.hadoop.fs.FileUtil.copy(fs, src, dstFs, dst, false, conf)
    else {
      val crc = local(src).resolveSibling(s".${src.getName}.crc")
      if (java.nio.file.Files.exists(crc))
        java.nio.file.Files.createLink(local(dst).resolveSibling(s".${dst.getName}.crc"), crc)
    }
  }

  /** Reject two path strings that alias the SAME location (relative vs
    * absolute, ".", scheme-default spellings): publishing a "new"
    * snapshot over its own source would destroy the rows mid-read. Same
    * string on two different stores is legal. Shared by the append
    * publishers and by `save`. */
  private[graft] def requireDistinctPaths(
      hconf: org.apache.hadoop.conf.Configuration, oldPath: String,
      newPath: String, op: String): Unit = {
    def qualified(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).makeQualified(hp)
    }
    require(qualified(oldPath) != qualified(newPath),
      s"$op publishes a NEW snapshot: $newPath is its own source $oldPath")
  }

  /** Sentinel searchWidth for "use the snapshot's persisted calibration"
    * ([[WidthCalibration]]) — consumed by [[graft.operators
    * .HybridRetrieval.serveFromSnapshots]] and graft.ProbeBench. */
  val CalibratedWidth: Int = Int.MinValue

  /** Persist a [[WidthCalibration]] beside a snapshot's params.json
    * ([[Sidecar.CalibrationFile]]). */
  def writeCalibration(spark: SparkSession, path: String,
      cal: WidthCalibration): Unit =
    Sidecar.write(spark, s"$path/calibration.json", Sidecar.CalibrationFile(
      cal.searchWidth, cal.targetRecall, cal.k, cal.sampleRecall,
      cal.curve.map { case (w, r) => Sidecar.CurvePoint(w, r) },
      cal.faces.map(f => Sidecar.FaceEntry(f.face, f.param, f.recall,
        f.msPerQuery, f.artifact, f.ref.map(_.toJson).getOrElse("")))))

  /** Read a snapshot's persisted calibration; None when never calibrated
    * OR when the sidecar is truncated/corrupt (a half-written file must
    * degrade to the exact-scan fallback the absent-file path already
    * models, never crash a serving process). */
  def readCalibration(spark: SparkSession, path: String)
      : Option[WidthCalibration] = {
    // the READ is outside the catch: a transient store error must stay a
    // visible, retryable failure — only a PRESENT-but-unparseable sidecar
    // degrades to None (else a network blip silently downgrades a
    // calibrated serve to a corpus-wide exact scan)
    val json = readSmallFile(spark, s"$path/calibration.json")
    if (json == null) return None
    scala.util.Try(Sidecar.decode[Sidecar.CalibrationFile](json)).toOption
      .map { c =>
        WidthCalibration(c.search_width, c.target_recall, c.k,
          c.sample_recall, c.curve.map(p => (p.w, p.r)),
          c.faces.map(f => FacePoint(f.face, f.param, f.recall, f.msPerQuery,
            f.artifact, Some(f.ref).filter(_.nonEmpty)
              .flatMap(FaceArtifact.fromJson))))
      }
  }

  /** Read a small file via the Hadoop FS; null when absent. */
  private[graft] def readSmallFile(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return null
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Identity partitioner over shard ids (keys are already 0..n-1):
    * partition index == shard id, which the driverless probe relies on.
    * Equality by partition count so `partitionBy` can skip redundant
    * shuffles on already-partitioned RDDs. */
  private[index] class ShardPartitioner(n: Int) extends org.apache.spark.Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case s: ShardPartitioner => s.numPartitions == n
      case _ => false
    }
    override def hashCode: Int = n
  }

  /** The shard column of a bucketed corpus ([[writeBucketedCorpus]]),
    * which the table is bucketed and sorted by: it decides only which
    * rows share a bucket (all of a shard's rows share one), since a build
    * routes each row by `Math.floorMod(id, numShards)` itself
    * ([[rewriteShards]]). */
  private[index] def shardOf(id: org.apache.spark.sql.Column, numShards: Int) =
    pmod(id, lit(numShards)).cast("int")

  /** One change routed to its shard by [[rewriteShards]]: an added row,
    * or a removed id (`vec` null). */
  private final case class Change(id: Long, vec: Array[Float], removed: Boolean)

  /** The one shard rewrite core, under [[VectorIndex!.rewrite]] (every
    * in-memory build, append, remove and LSM compaction), [[buildTo]] and
    * [[appendTo]]; a build is the rewrite of `numShards` empty shards. The
    * `added` rows and `removed` ids, tagged, move through ONE shuffle
    * keyed by shard (`id % numShards`, [[ShardPartitioner]]), zipped with
    * `base`, whose partition s holds shard s: its graph (`Left`: an
    * in-memory layout) or its stored (id, embedding) rows (`Right`: a
    * snapshot's shard file, read only if the shard changes; such a
    * base takes no removals). Nothing is planned, and no
    * survivor moves. Partition s finds out itself whether shard s
    * changes ([[rewriteShard]]); partition s of the result holds shard
    * s's graph, or nothing for an empty shard or unchanged stored rows.
    * `check`, when given, checks every changed shard's rows, and
    * `rebuilt`, when given, counts the rebuilt shards. */
  private[index] def rewriteShards(
      base: Either[RDD[SubIndexGraph], RDD[(Long, Array[Float])]],
      added: RDD[(Long, Array[Float])], removed: RDD[Long], params: IndexParams,
      numShards: Int, check: IngestCheck,
      rebuilt: org.apache.spark.util.LongAccumulator): RDD[SubIndexGraph] = {
    val (p, n) = (params, numShards)
    val changes = added.map { case (id, v) => (Math.floorMod(id, n), Change(id, v, removed = false)) }
      .union(removed.map(id => (Math.floorMod(id, n), Change(id, null, removed = true))))
      .partitionBy(new ShardPartitioner(n))
    base match {
      case Left(graphs) => graphs.zipPartitions(changes) { (git, cs) =>
        val g = if (git.hasNext) git.next() else null
        rewriteShard(g, if (g == null) Iterator.empty else vectorsOf(g), cs, p, check, rebuilt)
      }
      case Right(rows) => rows.zipPartitions(changes)(rewriteShard(null, _, _, p, check, rebuilt))
    }
  }

  /** One partition of [[rewriteShards]]: shard s's graph `g` (or null),
    * its stored rows `stored` and its changes. With no change, `g` is
    * passed through and `stored` is never read. A shard changes when it
    * gains an added id not also removed, or `g` holds a removed id; it is
    * then rebuilt from its surviving and live added rows, id-ascending —
    * or emits nothing when none is left or `check` rejects them. */
  private def rewriteShard(g: SubIndexGraph, stored: Iterator[(Long, Array[Float])],
      changes: Iterator[(Int, Change)], p: IndexParams, check: IngestCheck,
      rebuilt: org.apache.spark.util.LongAccumulator): Iterator[SubIndexGraph] = {
    val cs = changes.buffered
    if (!cs.hasNext) return Option(g).iterator
    val shardId = cs.head._1
    val gone = mutable.HashSet.empty[Long]
    val live = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    cs.foreach { case (_, c) => if (c.removed) gone += c.id else live += ((c.id, c.vec)) }
    live.filterInPlace(r => !gone(r._1))
    if (live.isEmpty && (g == null ||
        !gone.exists(id => java.util.Arrays.binarySearch(g.globalIds, 0, g.count, id) >= 0)))
      return Option(g).iterator
    val vecs = mutable.ArrayBuffer.from(stored.filterNot(r => gone(r._1))) ++= live
    vecs.sortInPlaceBy(_._1)
    if (vecs.isEmpty || (check != null && check.rejects(vecs))) Iterator.empty
    else {
      if (rebuilt != null) rebuilt.add(1)
      Iterator.single(buildShard(shardId, vecs, p))
    }
  }

  /** A graph's (id, embedding) pairs in offset order, which is ascending
    * id: what [[dehydrate]] stores of them. */
  private[index] def vectorsOf(g: SubIndexGraph): Iterator[(Long, Array[Float])] =
    Iterator.range(0, g.count).map(o => (g.globalIds(o), g.vecAt(o)))

  /** A caller's (id, embedding) rows, a build's corpus or an append's
    * batch, read once by one select ([[plannedRows]]). */
  private def inputRows(df: DataFrame, params: IndexParams, check: IngestCheck): RDD[(Long, Array[Float])] =
    plannedRows(df.select(col("id").cast("long"), col("embedding").cast("array<float>")), params, check)

  /** The (id: long, embedding: array<float>) pairs in the first two
    * columns of `input`, through the API-boundary transform
    * ([[transformed]]): the one place a corpus is transformed on its way
    * into a distributed build or append. A row without an id has no
    * shard: `check` counts it. The rows are taken off `input`'s planned
    * query, as planned, not through `Dataset.rdd`, which Spark reports as
    * an SQL execution of its own. */
  private def plannedRows(input: DataFrame, params: IndexParams,
      check: IngestCheck): RDD[(Long, Array[Float])] = {
    val (p, noId) = (params, check.noId)
    input.queryExecution.toRdd.flatMap { r =>
      if (r.isNullAt(0)) { noId.add(1); None }
      else Some((r.getLong(0), transformed(p, if (r.isNullAt(1)) null else r.getArray(1).toFloatArray())))
    }
  }

  /** `v` through the API-boundary transform
    * ([[IndexParams.transformCorpusVector]]), unless it is missing or
    * non-finite: [[checkIngest]] rejects it as it came. */
  private[index] def transformed(p: IndexParams, v: Array[Float]): Array[Float] =
    if (v == null || !p.transformsInput || firstNonFinite(v) >= 0) v else p.transformCorpusVector(v)

  /** The ids of a caller's `id` column, read as [[inputRows]] reads rows;
    * a null id removes nothing. */
  private def inputIds(df: DataFrame): RDD[Long] =
    df.select(col("id").cast("long")).queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

  /** `n` rows, `minId` the smallest id among them. */
  private[index] final case class Rows(n: Long, minId: Long) {
    def ++(o: Rows): Rows = Rows(n + o.n, math.min(minId, o.minId))
  }

  /** The keys of a [[checkIngest]] report: these faults, or an embedding
    * length (>= 0). */
  private final val NoEmbedding = -1
  private final val NonFinite = -2
  private final val Clash = -3

  /** The one check of the vectors an index takes in, over one shard's
    * id-ascending, transformed rows, its survivors included, or one
    * driver-held batch's: the rows that lack an embedding, hold a
    * non-finite component (a NaN is never evicted from a top-k) or repeat
    * the id before them, and each other row's embedding length. */
  private[index] def checkIngest(rows: collection.IndexedSeq[(Long, Array[Float])]): Map[Int, Rows] = {
    val found = mutable.Map.empty[Int, Rows]
    def add(kind: Int, id: Long): Unit = found(kind) = found.get(kind).fold(Rows(1, id))(_ ++ Rows(1, id))
    for (i <- rows.indices) {
      val (id, v) = rows(i)
      if (i > 0 && rows(i - 1)._1 == id) add(Clash, id)
      add(if (v == null) NoEmbedding else if (firstNonFinite(v) >= 0) NonFinite else v.length, id)
    }
    found.toMap
  }

  /** The one length `report`'s rows may have: the index dimension `dim`,
    * or while the index is empty (-1) that of the smallest id. */
  private def expected(report: Map[Int, Rows], dim: Int): Int =
    if (dim > 0) dim else report.filter(_._1 >= 0).minByOption(_._2.minId).fold(-1)(_._1)

  /** Throw, as an IllegalArgumentException, the first fault of `report`
    * and `noId` rows without an id, in this order, naming its smallest id
    * and its row count; lengths are shown as the caller gave them, less
    * MIPS's added component. */
  private def verify(report: Map[Int, Rows], noId: Long, dim: Int, params: IndexParams): Unit = {
    def reject(kind: Int)(msg: Rows => String): Unit =
      report.get(kind).foreach(r => throw new IllegalArgumentException(msg(r)))
    if (noId > 0) throw new IllegalArgumentException(s"ingested rows must carry an id ($noId without)")
    reject(NoEmbedding)(r => s"ingested id ${r.minId} has no embedding (${r.n} rows)")
    val (want, aug) = (expected(report, dim), if (params.augmentForMips) 1 else 0)
    val wrong = report.filter(k => k._1 >= 0 && k._1 != want)
    wrong.minByOption(_._2.minId).foreach { case (len, r) =>
      val against = if (dim > 0) s"the index dimension is ${dim - aug}"
        else s"id ${report(want).minId} has ${want - aug}"
      throw new IllegalArgumentException(s"ingested id ${r.minId} has ${len - aug} components, " +
        s"$against (${wrong.values.map(_.n).sum} rows)")
    }
    reject(NonFinite)(r => s"ingested id ${r.minId} has a non-finite component (${r.n} rows)")
    reject(Clash)(r => "ingested ids must be unique within the batch and disjoint from the " +
      s"index: id ${r.minId} (${r.n} clashes)")
  }

  /** [[checkIngest]] in the tasks of one rewrite job, for an index of
    * dimension `dim` (-1 while empty): `noId` counts rows read without an
    * id, a changed shard with a fault is not built ([[rejects]]), and
    * [[verify]] throws the first fault of the shards' summed reports on
    * the driver, after the job, shards of different dimensions included. */
  private[index] final class IngestCheck(@transient spark: SparkSession, val dim: Int,
      params: IndexParams) extends Serializable {
    val noId: org.apache.spark.util.LongAccumulator = spark.sparkContext.longAccumulator
    private val shards = spark.sparkContext.collectionAccumulator[Map[Int, Rows]]

    def rejects(rows: collection.IndexedSeq[(Long, Array[Float])]): Boolean = {
      val r = checkIngest(rows)
      shards.add(r)
      r.keys.exists(k => k < 0 || k != expected(r, dim))
    }

    def verify(): Unit = {
      import scala.jdk.CollectionConverters._
      VectorIndex.verify(shards.value.asScala.foldLeft(Map.empty[Int, Rows]) { (a, b) =>
        b.foldLeft(a) { case (m, (k, r)) => m.updated(k, m.get(k).fold(r)(_ ++ r)) }
      }, noId.value, dim, params)
    }
  }

  /** An in-memory index over `layout`, whose partition s must hold
    * shard s's graph or nothing: the layout is its one cached copy,
    * persisted at memory and disk (its lineage is a rebuild, and it may
    * read graphs that are released once it is filled, see
    * [[DriverGraphRDD]]). ONE pass fills the cache, checks that each
    * partition holds at most the graph of its own shard and reads the
    * shard meta off the graphs; a failed pass drops what it cached. */
  private def inMemory(spark: SparkSession, params: IndexParams, numShards: Int,
      layout: RDD[SubIndexGraph]): VectorIndex = {
    require(layout.partitions.length == numShards,
      s"shard layout has ${layout.partitions.length} partitions for $numShards shards")
    layout.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shards = try layout.mapPartitionsWithIndex((s, it) =>
        Iterator(graphOf(s, it).map(g => (metaOf(g), g.dim)))).collect()
      catch { case t: Throwable => layout.unpersist(false); throw t }
    fromGraphs(spark, params, numShards, layout, shards.flatten)
  }

  /** An index over the graphs `layout` holds, whose meta and dimensions
    * are `shards`. */
  private def fromGraphs(spark: SparkSession, params: IndexParams, numShards: Int,
      layout: RDD[SubIndexGraph], shards: Array[(ShardMeta, Int)]): VectorIndex = {
    val idx = new VectorIndex(params, numShards, shards.map(_._1),
      java.util.UUID.randomUUID().toString, spark, Some(layout), null)
    idx.knownDim = shards.map(_._2).maxOption.getOrElse(-1)
    ShardGraphCache.register(idx.indexId, layout)
    idx
  }

  /** The graph in shard `shard`'s partition, if any: at most one, and
    * of that shard. */
  private def graphOf(shard: Int, graphs: Iterator[SubIndexGraph]): Option[SubIndexGraph] = {
    val gs = graphs.toArray
    require(gs.length <= 1, s"shard $shard was built ${gs.length} times (corpus mis-partitioned?)")
    gs.headOption.map { g =>
      require(g.shardId == shard, s"the graph of shard ${g.shardId} sits in the partition " +
        s"of shard $shard: the layout is not shard-aligned")
      g
    }
  }

  /** A graph's shard meta. The entry is the lowest offset on the top
    * layer, as the kernel records it at promotion (dehnsw.h:495-499). */
  private[index] def metaOf(g: SubIndexGraph): ShardMeta =
    ShardMeta(g.shardId, g.count, g.layerCount, g.entryOffset)

  /** Build ONE shard's graph: the kernel loop of the rewrite core
    * ([[rewriteShard]], under every build from a DataFrame or a bucketed
    * table and every append) and of the driver build of a small LSM
    * generation ([[buildOnDriver]]). `vecs` must be id-ascending, the
    * order the kernel is deterministic in, and accepted by
    * [[checkIngest]]. */
  private[index] def buildShard(shardId: Int,
      vecs: collection.IndexedSeq[(Long, Array[Float])], params: IndexParams): SubIndexGraph = {
    var prevId = Long.MinValue
    vecs.foreach { case (id, _) =>
      require(id > prevId, s"ids not ascending within shard $shardId: $id after $prevId")
      prevId = id
    }
    val g = new SubIndexGraph(params, vecs.length, shardId)
    vecs.foreach { case (id, v) => g.insert(id, v) }
    g
  }

  /** Build a ONE-shard index on the driver from [[takeVectors]]' rows,
    * checked as a rewrite task checks its shard's ([[checkIngest]]) for
    * an index of dimension `dim` (-1: any): the small-LSM-generation
    * path. The graph is built here by [[buildShard]], the meta is read
    * off it, and the graph is broadcast as a [[DriverGraphRDD]] of
    * exactly one partition, the probe layout. Building runs no job, and
    * the first probe runs no exchange. The graph stays on the driver
    * until [[unpersist]] releases it, which compaction does for every
    * generation it folds. */
  private[index] def buildOnDriver(spark: SparkSession, rows: Array[(java.lang.Long, Array[Float])],
      params: IndexParams, dim: Int): VectorIndex = {
    val vecs = rows.collect { case (id, v) if id != null => (id.longValue, transformed(params, v)) }
      .sortBy(_._1).toIndexedSeq
    verify(checkIngest(vecs), rows.length - vecs.length, dim, params)
    val g = buildShard(0, vecs, params)
    fromGraphs(spark, params, 1,
      new DriverGraphRDD(spark.sparkContext, spark.sparkContext.broadcast(g)),
      Array((metaOf(g), g.dim)))
  }

  /** Derive the SQ8 quantization range from the corpus itself: the global
    * element-wise min/max in ONE map-only aggregation (array_min/array_max
    * per row, then a scalar agg — no explode, no shuffle of vector data).
    * A hardcoded range silently saturates any corpus with a different
    * spread to bytes 0/255 and collapses quantized recall; min/max never
    * saturates. A constant corpus (hi == lo) widens the range by 0.5 each
    * way so the encode stays well-defined. */
  def calibrateQuantRange(df: DataFrame, embCol: String = "embedding"): (Float, Float) = {
    val r = df.agg(
      min(array_min(col(embCol))).as("lo"),
      max(array_max(col(embCol))).as("hi")).head
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "cannot calibrate a quantization range from an empty corpus")
    val (lo, hi) = (r.getFloat(0), r.getFloat(1))
    if (hi > lo) (lo, hi) else (lo - 0.5f, hi + 0.5f)
  }

  /** Quantized bulk build with auto-calibrated range: one calibration pass
    * ([[calibrateQuantRange]]) fixes quantLo/quantHi from the data, then
    * the normal build runs with SQ8 storage. The calibrated range persists
    * through save/load via the params.json sidecar, so appends and loaded
    * probes quantize identically. */
  def buildAutoQuantized(
      df: DataFrame, params: IndexParams, numShards: Int): VectorIndex = {
    // calibrate over what the index will STORE: for a cosine index that
    // is the normalized vectors (range ⊆ [-1, 1], usually much tighter —
    // calibrating raw values would waste quantization resolution)
    val (lo, hi) = calibrateQuantRange(normalizeInput(df, params))
    build(df, params.copy(quantized = true, quantLo = lo, quantHi = hi), numShards)
  }

  /** Calibrate the MIPS norm bound M from the corpus itself: the max
    * corpus L2 norm in ONE map-only aggregation (per-row norm via a
    * higher-order `aggregate`, then a scalar max — no explode, no vector
    * shuffle), widened by a relative slack so float round-trips of the
    * extreme vector never trip the [[graft.functions.VectorFunctions
    * .mipsAugmentArray]] bound check. M parameterizes the
    * augmented-dimension transform x -> [x, sqrt(M² − |x|²)] that
    * expresses inner-product top-k through the Euclidean2 index
    * (Bachrach et al., RecSys'14). */
  def calibrateMipsNorm(df: DataFrame, embCol: String = "embedding",
      slack: Float = 1e-4f): Float = {
    val norm = sqrt(aggregate(col(embCol), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    val r = df.agg(max(norm).as("m")).head
    require(!r.isNullAt(0), "cannot calibrate a MIPS norm bound from an empty corpus")
    val m = r.getDouble(0)
    require(m > 0.0, "cannot calibrate a MIPS norm bound from an all-zero corpus")
    (m * (1.0 + slack)).toFloat
  }

  /** Inner-product (MIPS) index build with auto-calibrated norm bound:
    * one calibration pass ([[calibrateMipsNorm]]) fixes mipsMaxNorm, then
    * the normal build runs with the augmented-dimension transform at the
    * API boundary. The bound persists through save/load via params.json,
    * so appends and loaded probes augment identically. Probe results rank
    * by DESCENDING inner product (augmented-L2² = M² + |q|² − 2⟨q,x⟩ is
    * monotone in −⟨q,x⟩ for a fixed query). */
  def buildMips(df: DataFrame, params: IndexParams, numShards: Int): VectorIndex = {
    val m = calibrateMipsNorm(df)
    build(df, params.copy(metric = graft.functions.DistanceMetric.Euclidean2,
      augmentForMips = true, mipsMaxNorm = m), numShards)
  }

  /** User-supplied vectors transformed iff the params ask for an
    * API-boundary transform (cosine normalization / MIPS augmentation),
    * as [[inputRows]] transforms a build's corpus: what
    * [[buildAutoQuantized]] calibrates over. Only fresh API input is
    * transformed, never internally recovered rows: re-applying a float
    * transform drifts its last bits, which would break the
    * append-rebuild == full-rebuild and save/load bit invariants. A
    * narrow typed map — adds no exchange anywhere. */
  private def normalizeInput(df: DataFrame, params: IndexParams): DataFrame =
    if (!params.transformsInput) df
    else {
      val spark = df.sparkSession
      import spark.implicits._
      val p = params
      df.select(col("id").cast("long"), col("embedding"))
        .as[(Long, Array[Float])]
        .map { case (id, v) => (id, p.transformCorpusVector(v)) }
        .toDF("id", "embedding")
    }

  /** Bulk build (reference O1 insert loop, parallelized across shards:
    * one task per shard). Input df must have columns (id LONG, embedding
    * ARRAY<FLOAT>). A build is an append onto `numShards` empty shards
    * ([[VectorIndex!.rewrite]]): one job of one shuffle
    * ([[rewriteShards]]), no query planned. Shard s is built in
    * partition s, and its graph stays there, cached once at memory and
    * disk as the probe layout. The corpus is checked as an append's batch
    * is ([[IngestCheck]]), a rejection leaving nothing cached. */
  def build(df: DataFrame, params: IndexParams, numShards: Int): VectorIndex =
    build(df, params, numShards, -1)

  /** [[build]] whose rows must have the dimension `dim` (-1: any one):
    * an LSM generation's, over a batch too large for the driver. */
  private[index] def build(df: DataFrame, params: IndexParams, numShards: Int, dim: Int): VectorIndex = {
    val check = new IngestCheck(df.sparkSession, dim, params)
    buildRows(df.sparkSession, inputRows(df, params, check), check, params, numShards)
  }

  /** [[build]] over rows already read and transformed: the rewrite of
    * `numShards` empty shards. */
  private def buildRows(spark: SparkSession, rows: RDD[(Long, Array[Float])], check: IngestCheck,
      params: IndexParams, numShards: Int): VectorIndex =
    fromGraphs(spark, params, numShards, emptyLayout(spark, numShards), Array.empty)
      .rewrite(null, rows, check)

  /** `numShards` empty shards: the base a build rewrites. */
  private def emptyLayout(spark: SparkSession, numShards: Int): RDD[SubIndexGraph] =
    spark.sparkContext.parallelize(Seq.empty[SubIndexGraph], numShards)

  /** Build STRAIGHT TO STORAGE: index rows stream from the build tasks
    * (one per shard) directly into compressed parquet, one file per shard
    * in `rows/sub_index_id=s/` ([[writeShards]]) — no cluster-wide
    * cache, no serialized eviction spill; exactly one on-disk copy.
    * ONE job, no query planned: its tasks build the shards as [[build]]
    * does ([[rewriteShards]] over empty shards), write them and return
    * their meta and files, so nothing is read back. The sidecars follow,
    * `meta.json` last ([[publish]]), so a corpus rejected as [[build]]
    * rejects it, after the write, leaves no snapshot. No write task puts
    * a block into the block store.
    * Returns the LOADED index over that parquet, whose first probe (or
    * [[VectorIndex!.optimize]]) reads each shard's file once, straight
    * into its resident graph.
    *
    * This is the decade-scale disk mitigation measured in SCALE.md: at
    * 100M x 64d the MEMORY_AND_DISK cache spill of a cached build
    * (serialized rows evicted wholesale) was several times the
    * compressed parquet footprint and can exhaust a single node's local
    * disk before the first probe runs. On a cluster the same call is
    * simply "build and publish the index snapshot" — the handle every
    * OTHER job probes. */
  def buildTo(df: DataFrame, params: IndexParams, numShards: Int,
      path: String): VectorIndex = {
    val spark = df.sparkSession
    val check = new IngestCheck(spark, -1, params)
    publish(spark, path, params, numShards, java.util.UUID.randomUUID().toString) { rows =>
      val written = writeShards(spark, rewriteShards(Left(emptyLayout(spark, numShards)),
        inputRows(df, params, check), spark.sparkContext.emptyRDD, params, numShards, check, null), rows)
      check.verify()
      written
    }
    load(spark, path)
  }

  /** Shard-scoped append PUBLISHING a new snapshot — the incremental-
    * corpus face of [[buildTo]]: load `oldPath`, rebuild ONLY the shards
    * the new ids hash into (the [[VectorIndex.append]] semantics, so the
    * result is bit-identical to one full rebuild over the union), and
    * land the result at `newPath` while moving as few untouched bytes
    * as possible. Untouched work is skipped at two levels:
    *
    *  - COMPUTE: only affected shards re-insert ([[rewriteShards]]);
    *    every other shard's graph is reused verbatim, meta included.
    *  - I/O: a shard that receives no row reads nothing, and its one
    *    file is HARDLINKED into the new snapshot under its name — zero
    *    bytes moved; on a store without links (or cross-device) it falls
    *    back to a byte copy, which on object stores is the
    *    server-side-copy fast path. An affected shard reads only the
    *    (id, embedding) columns of its file. No directory is listed
    *    ([[shardFiles]]).
    *
    * One job, no query planned, whose tasks find their shard's changes,
    * rebuild it and write it; it reads nothing back. The added vectors
    * are checked as [[VectorIndex!.append]] checks them and the rebuilt
    * shards' meta and files are the job's results ([[writeShards]]); the
    * index dimension comes from the old `params.json` (a snapshot written
    * without that key pays one one-row read). Rows are written before the
    * check passes, so `meta.json` is the commit point ([[publish]]): a
    * rejected batch — an empty one included, which rebuilds no shard —
    * deletes the rows it wrote and throws an IllegalArgumentException,
    * and `newPath` is left without `meta.json`, which [[load]] refuses.
    *
    * The old snapshot is left untouched (still servable — snapshots are
    * immutable generations; retire it when traffic drains). Returns the
    * loaded handle over `newPath`, as [[buildTo]] does.
    *
    * Reference contract: the ref's `add` path (dehnsw.h:558-608) grows
    * one in-memory index; at 100 TB the index is a published artifact,
    * so "add" must mean "publish the next snapshot without rebuilding
    * or re-copying the untouched 99%". */
  def appendTo(spark: SparkSession, oldPath: String,
      newVectors: DataFrame, newPath: String): VectorIndex = {
    val hconf = spark.sessionState.newHadoopConf()
    requireDistinctPaths(hconf, oldPath, newPath, "appendTo")
    val old = load(spark, oldPath)
    val (params, numShards) = (old.params, old.numShards)
    publish(spark, newPath, params, numShards, java.util.UUID.randomUUID().toString) { newRows =>
      val files = shardFiles(spark, old.stored, old.meta, numShards)
      val base = scanShards(spark, files, storedSchema.filter(f => f.name == "global_id" ||
        f.name == "embedding")).map(r => (r.getLong(0), r.getArray(1).toFloatArray()))
      // a clashing id hashes into an affected shard, so checking the
      // rebuilt shards covers old-vs-new AND new-vs-new clashes
      val check = old.ingestCheck
      val rebuilt = writeShards(spark, rewriteShards(Right(base), inputRows(newVectors, params, check),
        spark.sparkContext.emptyRDD, params, numShards, check, null), newRows)
      check.verify()
      if (rebuilt.isEmpty) throw new IllegalArgumentException("appendTo over an empty batch")
      val ids = rebuilt.map(_.meta.sub_index_id).toSet
      // kept shards: their one file hardlinked under its name
      val kept = old.meta.filterNot(m => ids(m.sub_index_id)).map { m =>
        val s = m.sub_index_id
        require(files(s).length == 1, s"shard $s of $oldPath has ${files(s).length} files, not one: " +
          "migrate it with load(old).save(new)")
        val f = files(s).head.getPath
        linkOrCopyFile(hconf, f, new org.apache.hadoop.fs.Path(s"$newRows/sub_index_id=$s/${f.getName}"))
        ShardWrite(m, check.dim, f.getName, files(s).head.getLen)
      }
      (kept ++ rebuilt).sortBy(_.meta.sub_index_id)
    }
    load(spark, newPath)
  }

  /** One written shard: its meta and dimension, and the name and length
    * of its one file in `rows/sub_index_id=s/`. */
  private[index] final case class ShardWrite(meta: ShardMeta, dim: Int, file: String, bytes: Long)

  /** Publish the snapshot at `path` with `meta.json` as its commit
    * point: any `meta.json` there is deleted first, then `rows/` with any
    * file an earlier publish left; `write` writes the shards into the
    * `rows/` it is given and returns them, and the new `meta.json`,
    * naming their files, is written last, after `params.json`. [[load]]
    * refuses a directory without `meta.json`, so a publish that fails or
    * is rejected at any step never pairs a stale `meta.json` with new
    * rows; short of a crash, its rows are deleted too. */
  private[index] def publish(spark: SparkSession, path: String, params: IndexParams,
      numShards: Int, indexId: String)(write: String => Array[ShardWrite]): Unit = {
    val rows = new org.apache.hadoop.fs.Path(s"$path/rows")
    val fs = rows.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/meta.json"), false)
    fs.delete(rows, true)
    try {
      val shards = write(rows.toString)
      writeMetaAndParams(spark, path, shards.map(_.meta), params, numShards, indexId,
        shards.map(_.dim).maxOption.filter(_ > 0),
        shards.map(w => w.meta.sub_index_id -> (w.file, w.bytes)).toMap)
    } catch { case t: Throwable =>
      fs.delete(rows, true)
      throw t
    }
  }

  /** Params + meta sidecars next to an already-written `rows/`,
    * `meta.json` last: the commit point of [[publish]]. A meta line names
    * its shard's file and length in `files` (shard id -> both), if any.
    * meta is numShards tiny records — one small file write through the
    * Hadoop FS API (works for hdfs://, s3a://, file:, ...), not a Spark
    * job. */
  private[graft] def writeMetaAndParams(
      spark: SparkSession, path: String, meta: Array[ShardMeta],
      p: IndexParams, numShards: Int, indexId: String,
      dimension: Option[Int] = None, files: Map[Int, (String, Long)] = Map.empty): Unit = {
    // schedule as from:M:RM triples — build provenance AND an append
    // contract (append rebuilds shards with the same schedule)
    val sched = p.schedule
      .map(s => s"${s.fromCount}:${s.minimumConnect}:${s.relaxedMonotonicity}")
      .mkString(";")
    Sidecar.write(spark, s"$path/params.json", Sidecar.IndexParamsFile(
      p.metric.name, p.minimumConnect, p.relaxedMonotonicity, p.step,
      p.subIndexBound, numShards, sched, p.quantized, p.quantLo, p.quantHi,
      p.normalizeForCosine, p.augmentForMips, p.mipsMaxNorm, indexId, dimension))
    Sidecar.writeLines(spark, s"$path/meta.json", meta.toSeq.map(m => Sidecar.MetaLine(m.sub_index_id,
      m.n_vectors, m.layer_count, m.entry_offset, files.get(m.sub_index_id).map(_._1),
      files.get(m.sub_index_id).map(_._2))))
  }

  /** One shard's driver-built graph as a one-partition RDD read from a
    * broadcast. A task carries the broadcast handle and an executor
    * fetches the graph once; a parallelized collection would instead ship
    * it with every task of every probe, and could never free it while a
    * plan refers to it.
    *
    * The graph has no other source, so [[unpersist]] releases it for
    * good: the broadcast is destroyed and dropped, and what is left is
    * an empty shell. A compacted base keeps that shell in its lineage,
    * which its cached graphs (memory and disk, see `rewrite`) never
    * recompute. */
  private[index] class DriverGraphRDD(sc: org.apache.spark.SparkContext,
      @volatile private var shard: org.apache.spark.broadcast.Broadcast[SubIndexGraph])
    extends RDD[SubIndexGraph](sc, Nil) {
    val broadcastId: Long = shard.id
    /** The graph, until it is released. */
    def resident: Option[SubIndexGraph] = Option(shard).map(_.value)
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      Array(new ShardZero)
    override def compute(split: org.apache.spark.Partition,
        ctx: org.apache.spark.TaskContext): Iterator[SubIndexGraph] = {
      val g = shard
      if (g == null) throw new IllegalStateException(
        s"the driver-built graph of RDD $id was released (its generation was compacted or unpersisted)")
      Iterator.single(g.value)
    }
    override def unpersist(blocking: Boolean = false): this.type = synchronized {
      if (shard != null) { shard.destroy(); shard = null }
      super.unpersist(blocking)
    }
  }

  private class ShardZero extends org.apache.spark.Partition { override def index: Int = 0 }

  /** Write a shard-aligned layout (partition s holds shard s's graph or
    * nothing) to `dir` in ONE job that plans no query: the task of
    * partition s writes shard s's graph, if any, to one new file
    * `sub_index_id=s/part-<s>-<unique per task attempt>.parquet` with
    * Spark's parquet writer ([[GraftSqlBridge.parquetWriter]]), and
    * returns its [[ShardWrite]]. A job has one result per partition, so
    * no shard reports twice, and a file a failed attempt left is in no
    * result. */
  private[index] def writeShards(spark: SparkSession,
      layout: RDD[SubIndexGraph], dir: String): Array[ShardWrite] = {
    val write = GraftSqlBridge.parquetWriter(spark, storedSchema)
    spark.sparkContext.runJob(layout, (task: org.apache.spark.TaskContext, it: Iterator[SubIndexGraph]) =>
      graphOf(task.partitionId(), it).map { g =>
        val file = f"part-${g.shardId}%05d-${java.util.UUID.randomUUID()}.parquet"
        ShardWrite(metaOf(g), g.dim, file, write(s"$dir/sub_index_id=${g.shardId}/$file", storedRows(g)))
      }).flatten
  }

  /** The columns of a shard's file: an [[IndexRow]]'s but `sub_index_id`,
    * which the directory name carries, and `edges`, which loading derives
    * ([[rehydrateStreaming]]); files written before hold it, unread. */
  private lazy val storedSchema = org.apache.spark.sql.types.StructType(
    org.apache.spark.sql.Encoders.product[IndexRow].schema
      .filterNot(f => f.name == "sub_index_id" || f.name == "edges"))

  /** Graph `g`'s rows in [[storedSchema]], by offset, made by hand: the
    * mirror of how [[rehydrateStreaming]] reads them. */
  private def storedRows(g: SubIndexGraph): Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    Iterator.range(0, g.count).map(o => InternalRow(o, g.globalIds(o), g.layerOf(o),
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(g.vecAt(o)),
      new GenericArrayData(g.out(o).map(el => new GenericArrayData(
        Array.tabulate[Any](el.size)(i => InternalRow(el.ds(i), el.ns(i))))).toArray[Any])))
  }

  /** A loaded snapshot at `path`, and the file `meta.json` names for each
    * shard (shard id -> name and length); None when it names none, as
    * written before the files were named. */
  private[index] final case class StoredRows(path: String, named: Option[Map[Int, (String, Long)]])

  /** The stored dimension of a non-empty loaded snapshot, read from one
    * row of one shard's file: one job of one task. */
  private def storedDimension(spark: SparkSession, stored: StoredRows,
      meta: Array[ShardMeta], numShards: Int): Int = {
    require(stored != null && meta.nonEmpty, "the dimension of an empty index is unknown")
    val first = shardFiles(spark, stored, meta, numShards).find(_.nonEmpty).toSeq.map(_.take(1))
    scanShards(spark, first, storedSchema.filter(_.name == "embedding"))
      .map(_.getArray(0).numElements()).take(1).head
  }

  /** Each shard's files, shard s at position s (none without meta). A
    * snapshot whose `meta.json` names its files is read from exactly
    * those, a file status made from each name and length: nothing is
    * listed, and a file a retried or late task attempt wrote is never
    * read. One that names none, written before the files were named,
    * is found by one listing of `rows/` (`load(old).save(new)` migrates
    * it), which refuses a data file directly under `rows/`, the flat
    * layout written before the shard directories, naming the snapshot
    * and its migration. */
  private def shardFiles(spark: SparkSession, stored: StoredRows, meta: Array[ShardMeta],
      numShards: Int): IndexedSeq[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val withMeta = meta.map(_.sub_index_id).toSet
    val files: Int => Seq[org.apache.hadoop.fs.FileStatus] = stored.named match {
      case Some(named) => s => named.get(s).toSeq.map { case (name, bytes) =>
        new org.apache.hadoop.fs.FileStatus(bytes, false, 0, 0, 0,
          new org.apache.hadoop.fs.Path(s"${stored.path}/rows/sub_index_id=$s/$name"))
      }
      case None =>
        val root = new org.apache.hadoop.fs.Path(s"${stored.path}/rows")
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val top = fs.makeQualified(root)
        val listed = mutable.Map.empty[String, Seq[org.apache.hadoop.fs.FileStatus]].withDefaultValue(Nil)
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (!name.startsWith("_") && !name.startsWith(".")) {
            require(f.getPath.getParent != top, s"snapshot ${root.getParent} is flat (part files " +
              "directly under rows/), a layout no longer read: migrate it with load(old).save(new) " +
              "on a version that reads it (commit 6adea2e or earlier)")
            listed(f.getPath.getParent.getName) :+= f
          }
        }
        s => listed(s"sub_index_id=$s")
    }
    (0 until numShards).map(s => if (withMeta(s)) files(s) else Nil)
  }

  /** The `schema` columns of the file groups `files`, partition s reading
    * `files(s)` once its rows are asked for: one file scan, no query
    * planned, so neither the driver's work nor a task's lineage grows
    * with the shard count (a scan planned per shard costs ~65 ms of
    * driver time and ~30 KB of lineage per shard). */
  private def scanShards(spark: SparkSession, files: Seq[Seq[org.apache.hadoop.fs.FileStatus]],
      schema: Seq[org.apache.spark.sql.types.StructField]): RDD[org.apache.spark.sql.catalyst.InternalRow] =
    // classic stream reads, NOT Hadoop vectored IO: a probe task drains
    // its shard over minutes while it rehydrates the graph, and the
    // vectored path bounds each prefetched range at 300 s (measured at
    // the 100M decade: the probe died on a read timeout)
    GraftSqlBridge.readParquetGroups(spark, org.apache.spark.sql.types.StructType(schema), files,
      Map("parquet.hadoop.vectored.io.enabled" -> "false"))

  /** One-time write of a shard-bucketed corpus table: rows land in
    * `numShards` buckets keyed by `sub_index_id` ([[shardOf]]: the same
    * `id % numShards` assignment [[build]] makes), each bucket one file
    * sorted by (sub_index_id, id). A build from this table
    * ([[buildFromBucketed]]) reads it with no exchange or sort planned,
    * then routes its rows through the one shuffle [[build]] runs. The
    * pre-write repartition matches the bucket hash, so each task emits
    * exactly one bucket file (no tasks x buckets small-file explosion). */
  def writeBucketedCorpus(df: DataFrame, table: String, numShards: Int): Unit = {
    df.select(col("id").cast("long"), col("embedding"))
      .withColumn("sub_index_id", shardOf(col("id"), numShards))
      .repartition(numShards, col("sub_index_id"))
      .write.mode("overwrite")
      .bucketBy(numShards, "sub_index_id").sortBy("sub_index_id", "id")
      .saveAsTable(table)
  }

  /** Bulk build from a [[writeBucketedCorpus]] table, with as many shards
    * as it has buckets: [[build]] over the rows of the table's bucketed scan
    * ([[bucketedInput]], whose plan, a scan and a projection with no
    * Exchange and no Sort, PlanShapeSpec guards). Like [[build]] it runs
    * one job of one shuffle ([[rewriteShards]]), which routes each row to
    * its shard, and checks the corpus as [[build]] does, a rejection
    * leaving nothing cached. */
  def buildFromBucketed(
      spark: SparkSession, table: String, params: IndexParams): VectorIndex = {
    val (input, numShards) = bucketedInput(spark, table)
    val check = new IngestCheck(spark, -1, params)
    buildRows(spark, plannedRows(input, params, check), check, params, numShards)
  }

  /** A [[writeBucketedCorpus]] table as [[buildFromBucketed]] reads it:
    * the planned (id, embedding, sub_index_id) scan, whose (id,
    * embedding) rows the build reads off that plan as planned
    * ([[plannedRows]]), and its bucket count. The plan is made here, with
    * the bucketed scan kept: a scan and a projection, no Exchange and no
    * Sort. (DisableUnnecessaryBucketedScan would demote the scan to
    * ordinary file splits, as nothing above it "needs" bucketing; the
    * scan stays bucketed only while it outputs the bucket column.) */
  private[graft] def bucketedInput(spark: SparkSession, table: String): (DataFrame, Int) = {
    val cat = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = cat.bucketSpec.getOrElse(
      sys.error(s"$table is not bucketed — write it with writeBucketedCorpus"))
    require(spec.bucketColumnNames == Seq("sub_index_id") &&
      spec.sortColumnNames.take(2) == Seq("sub_index_id", "id"),
      s"$table bucket spec ${spec} does not match writeBucketedCorpus layout")
    val key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val input = spark.table(table).select(col("id").cast("long"),
        col("embedding").cast("array<float>"), col("sub_index_id"))
      input.queryExecution.executedPlan
      (input, spec.numBuckets)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Load a saved index (reference O10). The sidecars are read first: a
    * missing `meta.json`, the commit point of every publish, is an
    * IllegalArgumentException naming it. The index dimension is preset
    * from `params.json` when it records one. Nothing else is read, and
    * no directory is listed: the rows, one file per shard named in
    * `meta.json` ([[VectorIndex!.save]], [[buildTo]], [[appendTo]]), are
    * read in place, straight into the graphs, by the first probe
    * ([[VectorIndex!.probeLayout]]); an older `meta.json` that names no
    * files leaves them to one listing there ([[shardFiles]]).
    * @param cache kept for source compatibility; it selects nothing. The
    *              graphs are the one cached copy, held at memory only and
    *              re-read when Spark's storage memory cannot hold them. */
  def load(spark: SparkSession, path: String, cache: Boolean = true): VectorIndex = {
    val lines = Sidecar.readLines[Sidecar.MetaLine](spark, s"$path/meta.json")
      .getOrElse(throw new IllegalArgumentException(s"missing $path/meta.json"))
      .sortBy(_.sub_index_id)
    val pf = Sidecar.readRequired[Sidecar.IndexParamsFile](spark, s"$path/params.json")
    val metric = DistanceMetric.all.find(_.name == pf.metric).getOrElse(
      sys.error(s"$path/params.json: unknown metric '${pf.metric}'"))
    val schedule = pf.schedule.split(";").toSeq.filter(_.nonEmpty)
      .map { t =>
        val Array(f, m, rm) = t.split(":")
        ParamStep(f.toInt, m.toInt, rm.toInt)
      }
    val params = IndexParams(metric, pf.minimumConnect, pf.relaxedMonotonicity,
      pf.step, pf.subIndexBound, schedule, pf.quantized, pf.quantLo, pf.quantHi,
      pf.normalizeForCosine, pf.augmentForMips, pf.mipsMaxNorm)
    val named = Option.when(lines.forall(l => l.file.nonEmpty && l.bytes.nonEmpty))(
      lines.map(l => l.sub_index_id -> (l.file.get, l.bytes.get)).toMap)
    // a fresh identity per load: the graphs of each load are its own, not
    // those of the index that wrote the snapshot nor of another load
    val idx = new VectorIndex(params, pf.numShards, lines.map(_.meta).toArray,
      pf.indexId + "#load-" + java.util.UUID.randomUUID().toString, spark, None,
      StoredRows(new org.apache.hadoop.fs.Path(path).toString, named))
    pf.dimension.foreach(idx.knownDim = _)
    idx
  }

  /** Shard `g.shardId`'s rows, read off its graph: what
    * [[VectorIndex!.rows]] shows. `edges` is normalized to ascending
    * `nbr`, the order a loaded graph holds it in. */
  private[graft] def dehydrate(g: SubIndexGraph): Iterator[IndexRow] =
    (0 until g.count).iterator.map { o =>
      IndexRow(
        g.shardId, o, g.globalIds(o), g.layerOf(o), g.vecAt(o),
        g.out(o).map(el => (0 until el.size).map(i => OutEdge(el.ds(i), el.ns(i))).toSeq).toSeq,
        // adjacency arrays use swap-removal, so normalize to nbr order for
        // a canonical (rebuild-stable) form
        g.edges(o).map(al => (0 until al.size).map(i => EdgeRef(al.nbrs(i), al.rcs(i)))
          .sortBy(_.nbr).toSeq).toSeq)
    }

  /** A loaded snapshot's graphs, not cached: partition s reads shard s's
    * files ([[shardFiles]]; none for a shard without meta) straight into
    * its graph ([[rehydrateStreaming]]), whose row count must be the one
    * its meta records, so a missing file, read as empty, fails. Declared
    * laid out by [[ShardPartitioner]]: partition index == shard id, the
    * property the probe core relies on ([[shardCandidates]]). */
  private class StoredGraphs(spark: SparkSession, stored: StoredRows, params: IndexParams,
      meta: Array[ShardMeta], numShards: Int) extends RDD[SubIndexGraph](
      GraftSqlBridge.withConfOverrides(spark, "spark.sql.files.ignoreMissingFiles" -> "true")(
        scanShards(spark, shardFiles(spark, stored, meta, numShards), storedSchema))) {
    private val byShard = meta.map(m => m.sub_index_id -> m).toMap
    override val partitioner: Option[org.apache.spark.Partitioner] = Some(new ShardPartitioner(numShards))
    override protected def getPartitions: Array[org.apache.spark.Partition] =
      firstParent[org.apache.spark.sql.catalyst.InternalRow].partitions
    override def compute(split: org.apache.spark.Partition,
        ctx: org.apache.spark.TaskContext): Iterator[SubIndexGraph] = {
      val rows = firstParent[org.apache.spark.sql.catalyst.InternalRow].iterator(split, ctx)
      byShard.get(split.index).iterator.map { m =>
        require(rows.hasNext, s"shard ${split.index}: empty partition, meta says ${m.n_vectors} rows")
        rehydrateStreaming(params, m, rows)
      }
    }
  }

  /** Single-pass rehydration of shard `m`'s stored rows: each row is
    * copied straight into the graph's primitive structures as it is read,
    * so a task holds ONE graph plus one row (a buffer of object rows
    * beside the graph costs >1 GB per task at 780k-row shards, and OOM'd
    * the 100M probe JVM, SCALE.md). The rows must number the meta's
    * count. The undirected adjacency is then derived from the out-lists:
    * a pair's refcount is the number of directed out-edges between the
    * two, the build's invariant (KernelInvariantSpec), and each list is
    * ascending by neighbor, as snapshots stored it, so the search walks
    * a loaded graph as it walked a stored one. */
  private def rehydrateStreaming(params: IndexParams, m: ShardMeta,
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow]): SubIndexGraph = {
    val n = m.n_vectors.toInt
    val g = new SubIndexGraph(params, n, m.sub_index_id)
    g.count = n
    g.layerCount = m.layer_count
    g.entryOffset = m.entry_offset
    var seen = 0
    for (r <- rows) {
      seen += 1
      val o = r.getInt(0)
      g.globalIds(o) = r.getLong(1)
      g.layerOf(o) = r.getInt(2)
      g.setVec(o, r.getArray(3).toFloatArray())
      val layers = r.getArray(4)
      g.out(o) = mutable.ArrayBuffer.tabulate(layers.numElements()) { l =>
        val es = layers.getArray(l)
        val el = new EdgeList(math.max(es.numElements(), 4))
        (0 until es.numElements()).map(es.getStruct(_, 2)).foreach(e => el.insert(e.getDouble(0), e.getInt(1)))
        el
      }
    }
    require(seen == n, s"shard ${m.sub_index_id}: rehydrated $seen rows, meta says $n")
    // each directed out-edge, seen from both ends
    val ends = Array.tabulate(n)(o => Array.fill(g.out(o).length)(new mutable.ArrayBuilder.ofInt))
    for (o <- 0 until n; l <- g.out(o).indices)
      g.out(o)(l).foreachEntry { (_, nbr) => ends(o)(l) += nbr; ends(nbr)(l) += o }
    for (o <- 0 until n) g.edges(o) = mutable.ArrayBuffer.from(ends(o).map { b =>
      val nbrs = b.result()
      java.util.Arrays.sort(nbrs)
      val al = new AdjList(math.max(nbrs.length, 4))
      for (x <- nbrs) if (al.size > 0 && al.nbrs(al.size - 1) == x) al.rcs(al.size - 1) += 1 else al.add(x, 1)
      al
    })
    g
  }
}
