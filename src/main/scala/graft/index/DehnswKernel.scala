package graft.index

import scala.collection.mutable

import graft.functions.DistanceMetric

/** One step of the adaptive build schedule: once a shard holds
  * `fromCount` vectors, subsequent inserts use these M / RM values —
  * the engine-side form of the reference's latent count-switched
  * parameter mutation (dehnsw.h:610-656, commented out there; it steps
  * M=RM from 10 to 20 every 100k inserts). Deterministic: the switch
  * depends only on shard-local count, so rebuilds reproduce bit-for-bit
  * and append's affected-shard rebuild stays equal to a full rebuild. */
case class ParamStep(fromCount: Int, minimumConnect: Int, relaxedMonotonicity: Int)

object ParamStep {
  /** The reference's own (commented-out) schedule: M=RM=10+count/100k,
    * stepping at each 100k up to 20 (dehnsw.h:611-656). */
  val referenceLatent: Seq[ParamStep] =
    (0 to 10).map(i => ParamStep(i * 100000, 10 + i, 10 + i))
}

/** Index build/search parameters — the engine-side `Index_Parameters`
  * (reference: source/dehnsw.h:72-95).
  *
  * @param metric distance metric (all three enabled, unlike the reference's
  *               Euclidean2-only dispatch, source/distance.h:178-186)
  * @param minimumConnect       target out-degree M per node (dehnsw.h:86)
  * @param relaxedMonotonicity  build-time early-termination window (dehnsw.h:84)
  * @param step                 BFS radius for deterministic layer promotion (dehnsw.h:76)
  * @param subIndexBound        the reference's max vectors per shard
  *                             (dehnsw.h:80): recorded in params.json,
  *                             read by no build (ROADMAP item 3 decides
  *                             whether it becomes live or goes)
  * @param schedule             optional adaptive M/RM build schedule
  *                             (ascending fromCount; empty = fixed params)
  * @param quantized            SQ8 in-memory storage: shard vectors are
  *                             held as one byte per dimension (4x less
  *                             graph memory than the reference's float
  *                             storage, dehnsw.h:70-78) and ALL build and
  *                             search distances are computed in the exact
  *                             quantized integer domain — deterministic,
  *                             so exact-mode probes are oracle-checkable.
  *                             Persisted rows carry the midpoint
  *                             dequantization (lossy by contract);
  *                             rehydration re-quantizes to the identical
  *                             bytes. Euclidean2 only.
  * @param quantLo / quantHi    quantization range (values are clamped)
  * @param normalizeForCosine   L2-normalize every corpus vector at ingest
  *                             and every query vector at probe time (at
  *                             the INDEX API boundary — internally
  *                             recovered rows are never re-normalized, so
  *                             append/remove rebuilds and save/load stay
  *                             bit-identical to a full rebuild). On unit
  *                             vectors squared L2 = 2·(1 − cos), so an
  *                             Euclidean2 index over normalized vectors
  *                             ranks EXACTLY like cosine — this is how the
  *                             SQ8/quantized index (whose integer kernel
  *                             is Euclidean2-only) serves cosine
  *                             retrieval, the dominant production
  *                             embedding metric. Returned distances are in
  *                             the normalized-L2² domain (cosine distance
  *                             = value / 2 for a float index). Euclidean2
  *                             only: under the native cosine metric
  *                             normalization is a semantic no-op, and
  *                             under inner product it would CHANGE the
  *                             ranking — both are rejected.
  * @param augmentForMips       serve MAXIMUM-INNER-PRODUCT retrieval
  *                             through the Euclidean2 kernel by the
  *                             augmented-dimension reduction (public:
  *                             Bachrach et al., RecSys 2014; Shrivastava
  *                             & Li, NeurIPS 2014): every corpus vector
  *                             x becomes [x, sqrt(M² − |x|²)] at the
  *                             INDEX API boundary (M = [[mipsMaxNorm]],
  *                             the calibrated corpus max norm) and every
  *                             query q becomes [q, 0] at probe time.
  *                             Then L2²(q', x') = M² + |q|² − 2⟨q, x⟩ —
  *                             monotone DECREASING in the inner product,
  *                             so the Euclidean2 beam (float or SQ8
  *                             byte-domain) ranks exactly like MIPS.
  *                             Same recovered-row contract as
  *                             normalizeForCosine: internally recovered
  *                             rows are never re-augmented. Returned
  *                             distances are in the augmented-L2²
  *                             domain. Euclidean2 only; mutually
  *                             exclusive with normalizeForCosine (unit
  *                             vectors make MIPS == cosine — use that).
  * @param mipsMaxNorm          the calibrated corpus norm bound M for
  *                             [[augmentForMips]] (persisted with the
  *                             index; appended vectors must satisfy
  *                             |x| ≤ M or the augmented component is
  *                             undefined — enforced at the boundary)
  */
case class IndexParams(
    metric: DistanceMetric = DistanceMetric.Euclidean2,
    minimumConnect: Int = 4,
    relaxedMonotonicity: Int = 128,
    step: Int = 4,
    subIndexBound: Long = 10000000L,
    schedule: Seq[ParamStep] = Nil,
    quantized: Boolean = false,
    quantLo: Float = -0.5f,
    quantHi: Float = 0.5f,
    normalizeForCosine: Boolean = false,
    augmentForMips: Boolean = false,
    mipsMaxNorm: Float = 0f) {
  require(schedule.sliding(2).forall(w => w.size < 2 || w(0).fromCount < w(1).fromCount),
    "schedule fromCount thresholds must be strictly ascending")
  require(!quantized || metric == DistanceMetric.Euclidean2,
    "quantized (SQ8) storage supports the Euclidean2 metric only")
  require(!quantized || quantHi > quantLo,
    s"quantization range is empty: [$quantLo, $quantHi]")
  require(!normalizeForCosine || metric == DistanceMetric.Euclidean2,
    "normalizeForCosine expresses cosine through the Euclidean2 metric; " +
      s"it cannot combine with ${metric.name}")
  require(!augmentForMips || metric == DistanceMetric.Euclidean2,
    "augmentForMips expresses inner product through the Euclidean2 metric; " +
      s"it cannot combine with ${metric.name}")
  require(!(augmentForMips && normalizeForCosine),
    "augmentForMips and normalizeForCosine are mutually exclusive " +
      "(on normalized vectors MIPS == cosine — use normalizeForCosine)")
  require(!augmentForMips || mipsMaxNorm > 0f,
    "augmentForMips needs a calibrated mipsMaxNorm > 0 " +
      "(use VectorIndex.buildMips / calibrateMipsNorm)")

  /** True when this params transforms vectors at the index API boundary
    * (fresh build/append input and probe queries) — the one switch every
    * ingest/probe path consults so the transform can never be applied to
    * internally recovered rows twice. */
  def transformsInput: Boolean = normalizeForCosine || augmentForMips

  /** Corpus-side API-boundary transform (identity unless cosine/MIPS). */
  def transformCorpusVector(v: Array[Float]): Array[Float] =
    if (normalizeForCosine) graft.functions.VectorFunctions.l2NormalizeArray(v)
    else if (augmentForMips)
      graft.functions.VectorFunctions.mipsAugmentArray(v, mipsMaxNorm)
    else v

  /** Query-side API-boundary transform: cosine normalizes; MIPS appends
    * the zero component ([q, 0] — |q| never matters for the ranking). */
  def transformQueryVector(v: Array[Float]): Array[Float] =
    if (normalizeForCosine) graft.functions.VectorFunctions.l2NormalizeArray(v)
    else if (augmentForMips) java.util.Arrays.copyOf(v, v.length + 1)
    else v
}

/** Ascending (dist, nbr) edge list over primitive parallel arrays — the
  * engine-side `Vector.out` sorted multimap (reference: dehnsw.h:41). Kept
  * sorted so "the M-th best" and "evict farthest" are O(1) index ops; M is
  * small so inserts are a binary search + tiny arraycopy, allocation-free.
  */
final class EdgeList(initialCap: Int) extends Serializable {
  var size: Int = 0
  var ds: Array[Double] = new Array[Double](initialCap)
  var ns: Array[Int] = new Array[Int](initialCap)

  @inline private def lessThan(d: Double, n: Int, i: Int): Boolean =
    d < ds(i) || (d == ds(i) && n < ns(i))

  def insert(d: Double, n: Int): Unit = {
    if (size == ds.length) {
      ds = java.util.Arrays.copyOf(ds, size * 2)
      ns = java.util.Arrays.copyOf(ns, size * 2)
    }
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (lessThan(d, n, mid)) hi = mid else lo = mid + 1
    }
    System.arraycopy(ds, lo, ds, lo + 1, size - lo)
    System.arraycopy(ns, lo, ns, lo + 1, size - lo)
    ds(lo) = d; ns(lo) = n
    size += 1
  }

  def removeLast(): Unit = size -= 1

  /** Remove the entry at index i (shift-down; the list stays sorted) —
    * needed by the prune path, where the evictee is the entry at index M,
    * which is not the physically-last entry when the list had grown past M
    * (possible after connectivity-repair re-insertions). Matches the
    * reference's erase of the advanced iterator (dehnsw.h:441-464). */
  def removeAt(i: Int): Unit = {
    System.arraycopy(ds, i + 1, ds, i, size - i - 1)
    System.arraycopy(ns, i + 1, ns, i, size - i - 1)
    size -= 1
  }

  def foreachEntry(f: (Double, Int) => Unit): Unit = {
    var i = 0
    while (i < size) { f(ds(i), ns(i)); i += 1 }
  }
}

/** Undirected refcounted adjacency over primitive parallel arrays — the
  * engine-side `Vector.edges` (reference: dehnsw.h:43). Degrees are O(M),
  * so linear scans beat hashing. Removal swaps with the last slot (edge
  * iteration order is irrelevant: all traversals are set-semantic).
  */
final class AdjList(initialCap: Int) extends Serializable {
  var size: Int = 0
  var nbrs: Array[Int] = new Array[Int](initialCap)
  var rcs: Array[Int] = new Array[Int](initialCap)

  @inline def indexOf(n: Int): Int = {
    var i = 0
    while (i < size) { if (nbrs(i) == n) return i; i += 1 }
    -1
  }

  def add(n: Int, rc: Int): Unit = {
    if (size == nbrs.length) {
      nbrs = java.util.Arrays.copyOf(nbrs, size * 2)
      rcs = java.util.Arrays.copyOf(rcs, size * 2)
    }
    nbrs(size) = n; rcs(size) = rc
    size += 1
  }

  /** +1 refcount, inserting at 1 if absent. */
  def inc(n: Int): Unit = {
    val i = indexOf(n)
    if (i >= 0) rcs(i) += 1 else add(n, 1)
  }

  /** -1 refcount, removing at 0 (swap-with-last). */
  def dec(n: Int): Unit = {
    val i = indexOf(n)
    if (i >= 0) {
      if (rcs(i) == 1) {
        size -= 1
        nbrs(i) = nbrs(size); rcs(i) = rcs(size)
      } else rcs(i) -= 1
    }
  }
}

/** Min-heap on (dist, id) lexicographic order, primitive arrays — the
  * search frontier (`waiting_vectors`, reference: dehnsw.h:191,251). */
final class MinHeap(initialCap: Int) extends Serializable {
  var size: Int = 0
  private var ds = new Array[Double](initialCap)
  private var is = new Array[Int](initialCap)

  @inline private def less(i: Int, j: Int): Boolean =
    ds(i) < ds(j) || (ds(i) == ds(j) && is(i) < is(j))

  @inline private def swap(i: Int, j: Int): Unit = {
    val td = ds(i); ds(i) = ds(j); ds(j) = td
    val ti = is(i); is(i) = is(j); is(j) = ti
  }

  def headDist: Double = ds(0)
  def headId: Int = is(0)

  def add(d: Double, id: Int): Unit = {
    if (size == ds.length) {
      ds = java.util.Arrays.copyOf(ds, size * 2)
      is = java.util.Arrays.copyOf(is, size * 2)
    }
    ds(size) = d; is(size) = id
    var i = size
    size += 1
    while (i > 0 && less(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
  }

  def removeHead(): Unit = {
    size -= 1
    if (size > 0) {
      ds(0) = ds(size); is(0) = is(size)
      var i = 0
      var go = true
      while (go) {
        val l = 2 * i + 1; val r = 2 * i + 2
        var m = i
        if (l < size && less(l, m)) m = l
        if (r < size && less(r, m)) m = r
        if (m == i) go = false else { swap(i, m); i = m }
      }
    }
  }

  def clear(): Unit = size = 0
}

object SubIndexGraph {
  /** Vector API availability probe — false (scalar fallback) when the JVM
    * lacks --add-modules=jdk.incubator.vector. */
  val simdAvailable: Boolean =
    try { SimdKernels.lanes() > 0 }
    catch { case _: Throwable => false }

  /** Dimension bound for the SIMD byte kernel's int-lane accumulation. */
  val sqL2U8MaxDim: Int =
    if (simdAvailable) SimdKernels.sqL2U8MaxDim() else 0
}

/** One shard's graph — the engine-side `Sub_Index` (reference:
  * source/dehnsw.h:54-70), built partition-locally inside `mapPartitions`.
  * `shardId` names the shard it holds (0 for a graph outside an index).
  *
  * Semantics preserved from the reference build kernel (SURVEY §2.1 O2-O5):
  * M-nearest linking, undirected refcounted edges, degree-cap pruning with
  * farthest eviction, bounded-BFS connectivity repair, and deterministic
  * step-BFS layer promotion (no RNG — rebuilds are reproducible).
  * Deliberate divergences: distances accumulate in Double (not float32),
  * and ties order by (distance, offset) instead of multimap insertion
  * order — both deterministic.
  *
  * All hot-path state is primitive arrays (heaps, sorted edge lists,
  * generation-stamped visited marks) — no per-candidate boxing, matching
  * the reference's mechanical profile (SURVEY §4) on the JVM.
  */
final class SubIndexGraph(params: IndexParams, capacity: Int, val shardId: Int = 0)
    extends Serializable {

  var count: Int = 0
  var layerCount: Int = 0
  /** Entry point — `vector_in_highest_layer` (reference: dehnsw.h:62). */
  var entryOffset: Int = 0

  val globalIds = new Array[Long](capacity)
  /** Flat vector storage: one contiguous dim-strided float array for the
    * whole shard (like the reference's single data block, dehnsw.h:56) —
    * sequential offsets are sequential memory, so the dist-dominated beam
    * and the brute-force scan prefetch instead of pointer-chasing
    * per-vector arrays. Allocated at the first vector (fixes dim). */
  private var flat: Array[Float] = null
  var dim: Int = -1
  val layerOf = new Array[Int](capacity)
  /** Per vector: per-layer directed out-edges (pruning order). */
  val out = new Array[mutable.ArrayBuffer[EdgeList]](capacity)
  /** Per vector: per-layer undirected refcounted adjacency (traversal). */
  val edges = new Array[mutable.ArrayBuffer[AdjList]](capacity)

  // SQ8 storage (params.quantized): one byte per dimension instead of a
  // float — 4x less shard memory; every distance is the exact integer
  // sum of squared byte differences (deterministic, oracle-checkable).
  // All public entry points quantize their incoming query/insert vector
  // into `qScratch` once (safe: builds are single-threaded per shard and
  // probes synchronize on the graph), so the hot loops compare bytes.
  private val quantized: Boolean = params.quantized
  private val qLo: Double = params.quantLo.toDouble
  private val qScale: Double =
    if (quantized) 255.0 / (params.quantHi.toDouble - qLo) else 0.0
  private val qStep: Double =
    if (quantized) (params.quantHi.toDouble - qLo) / 255.0 else 0.0
  private var flatQ: Array[Byte] = null
  private var qScratch: Array[Byte] = null

  private def quantizeInto(v: Array[Float], dst: Array[Byte], base: Int): Unit = {
    var i = 0
    while (i < v.length) {
      val t = Math.floor((v(i).toDouble - qLo) * qScale + 0.5)
      dst(base + i) = Math.max(0.0, Math.min(255.0, t)).toInt.toByte
      i += 1
    }
  }

  @inline private def prepQuery(v: Array[Float]): Unit =
    if (quantized) {
      if (qScratch == null || qScratch.length < v.length)
        qScratch = new Array[Byte](v.length)
      quantizeInto(v, qScratch, 0)
    }

  /** Exact integer-domain squared L2 between the prepared query bytes and
    * the stored vector at `off` (fits a Long until ~2^47 dimensions).
    * Integer sums are associative, so the SIMD path is bit-identical to
    * the scalar loop — no exact/approximate twin needed here. */
  @inline private def intL2(off: Int): Double = {
    val base = off * dim
    if (SubIndexGraph.simdAvailable && dim <= SubIndexGraph.sqL2U8MaxDim)
      return SimdKernels.sqL2U8(qScratch, flatQ, base).toDouble
    val b = flatQ
    val q = qScratch
    var acc = 0L
    var i = 0
    while (i < dim) {
      val d = (q(i) & 0xff) - (b(base + i) & 0xff)
      acc += (d * d).toLong
      i += 1
    }
    acc.toDouble
  }

  /** Store a vector at `offset` (first call fixes the shard dimension). */
  def setVec(offset: Int, v: Array[Float]): Unit = {
    if (quantized) {
      if (flatQ == null) { dim = v.length; flatQ = new Array[Byte](capacity * dim) }
      quantizeInto(v, flatQ, offset * dim)
    } else {
      if (flat == null) { dim = v.length; flat = new Array[Float](capacity * dim) }
      System.arraycopy(v, 0, flat, offset * dim, dim)
    }
  }

  /** Copy a stored vector out (cold path: dehydrate/persist only). For a
    * quantized graph this is the midpoint dequantization `lo + q*step` —
    * lossy by contract; re-quantizing it reproduces the identical bytes,
    * so persisted rows rehydrate to the same graph. */
  def vecAt(offset: Int): Array[Float] =
    if (quantized) {
      val base = offset * dim
      val outV = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        outV(i) = (qLo + (flatQ(base + i) & 0xff) * qStep).toFloat
        i += 1
      }
      outV
    } else java.util.Arrays.copyOfRange(flat, offset * dim, offset * dim + dim)

  // scratch state, reused across inserts/queries (single-threaded per task)
  private var stamp = new Array[Int](capacity)
  private var curStamp = 0
  private val frontier = new MinHeap(64)
  @inline private def freshStamps(): Unit = { curStamp += 1 }
  @inline private def seen(i: Int): Boolean = stamp(i) == curStamp
  @inline private def mark(i: Int): Unit = stamp(i) = curStamp

  private val metricCode: Int = params.metric match {
    case DistanceMetric.Euclidean2   => 0
    case DistanceMetric.InnerProduct => 1
    case DistanceMetric.Cosine       => 2
  }

  /** Build/ANN-search distance: float32 accumulation like the reference's
    * kernels (source/distance.h:17-172) — half the lane width cost of
    * doubles under JIT auto-vectorization, deterministic on the JVM. The
    * oracle-gated exact path ([[bruteForceTopK]]) uses [[distExact]]
    * (Double, bit-matching the Catalyst expressions) instead. */
  /** Build/ANN-search distance: SIMD float32 when the Vector API module is
    * present (see SimdKernels), scalar float fallback otherwise. Float
    * accumulation like the reference (source/distance.h); the oracle-gated
    * exact path uses [[distExact]] (sequential Double). */
  @inline private def dist(a: Array[Float], off: Int): Double = {
    distEvals += 1
    if (quantized) return intL2(off)
    val base = off * dim
    if (SubIndexGraph.simdAvailable) {
      if (metricCode == 0) return SimdKernels.sqL2(a, flat, base).toDouble
      if (metricCode == 1) return (1.0f - SimdKernels.dot(a, flat, base)).toDouble
      val parts = cosineScratch
      SimdKernels.cosineParts(a, flat, base, parts)
      return 1.0 - parts(0) / (math.sqrt(parts(1).toDouble) * math.sqrt(parts(2).toDouble))
    }
    distScalar(a, base)
  }

  /** Diagnostic: build/search distance evaluations since last reset (one
    * plain increment in the hot path — noise next to the kernel call).
    * Settled a real question: float and SQ8 beams explore the SAME number
    * of nodes (ratio 1.00 at 60k x 64d, sw 16/64), so any quantized-beam
    * slowdown is per-call kernel cost, not integer-tie frontier widening. */
  var distEvals: Long = 0L
  private val cosineScratch = new Array[Float](3)

  private def distScalar(a: Array[Float], base: Int): Double = {
    val n = a.length
    val n4 = n - (n & 3)
    val b = flat
    if (metricCode == 0) {
      // 4 independent accumulators break the reduction dependency chain
      // (C2 does not vectorize strict reductions; ILP recovers most of it).
      // Order is fixed -> still fully deterministic.
      var s0 = 0.0f; var s1 = 0.0f; var s2 = 0.0f; var s3 = 0.0f
      var i = 0
      while (i < n4) {
        val d0 = a(i) - b(base + i); s0 += d0 * d0
        val d1 = a(i + 1) - b(base + i + 1); s1 += d1 * d1
        val d2 = a(i + 2) - b(base + i + 2); s2 += d2 * d2
        val d3 = a(i + 3) - b(base + i + 3); s3 += d3 * d3
        i += 4
      }
      while (i < n) { val d = a(i) - b(base + i); s0 += d * d; i += 1 }
      ((s0 + s1) + (s2 + s3)).toDouble
    } else if (metricCode == 1) {
      var s0 = 0.0f; var s1 = 0.0f; var s2 = 0.0f; var s3 = 0.0f
      var i = 0
      while (i < n4) {
        s0 += a(i) * b(base + i); s1 += a(i + 1) * b(base + i + 1)
        s2 += a(i + 2) * b(base + i + 2); s3 += a(i + 3) * b(base + i + 3)
        i += 4
      }
      while (i < n) { s0 += a(i) * b(base + i); i += 1 }
      (1.0f - ((s0 + s1) + (s2 + s3))).toDouble
    } else {
      var dot = 0.0f; var na = 0.0f; var nb = 0.0f; var i = 0
      while (i < n) {
        val x = a(i); val y = b(base + i)
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      (1.0 - dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble)))
    }
  }

  /** Full-precision Double distance vs the stored vector at `off` —
    * identical operation sequence to the Catalyst distance expressions
    * (bit-equal to the SQL oracles). */
  @inline private def distExact(a: Array[Float], off: Int): Double = {
    // quantized graphs: the integer domain IS the exact domain (the float
    // originals are not stored) — deterministic and oracle-reproducible
    if (quantized) return intL2(off)
    val n = a.length
    val base = off * dim
    val b = flat
    if (metricCode == 0) {
      var acc = 0.0; var i = 0
      while (i < n) { val d = a(i).toDouble - b(base + i).toDouble; acc += d * d; i += 1 }
      acc
    } else if (metricCode == 1) {
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i).toDouble * b(base + i).toDouble; i += 1 }
      1.0 - acc
    } else {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(base + i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
    }
  }

  // effective build params — constant unless an adaptive schedule is set
  // (reference's latent count-switched mutation, dehnsw.h:610-656). The
  // switch keys on the PRE-insert shard count, like the reference's check
  // of sub_indexes.back().count before the append.
  private var mEff = params.minimumConnect
  private var rmEff = params.relaxedMonotonicity
  private var schedIdx = 0
  @inline private def advanceSchedule(preCount: Int): Unit = {
    val sch = params.schedule
    while (schedIdx < sch.length && preCount >= sch(schedIdx).fromCount) {
      mEff = sch(schedIdx).minimumConnect
      rmEff = sch(schedIdx).relaxedMonotonicity
      schedIdx += 1
    }
  }

  /** Insert in offset order — `insert` (reference: dehnsw.h:590-663). The
    * first vector of a shard is stored without edges (dehnsw.h:601-609). */
  def insert(globalId: Long, vec: Array[Float]): Unit = {
    val offset = count
    require(dim < 0 || vec.length == dim,
      s"vector dimension ${vec.length} does not match index dimension $dim")
    advanceSchedule(offset)
    globalIds(offset) = globalId
    setVec(offset, vec)
    layerOf(offset) = 0
    out(offset) = mutable.ArrayBuffer(new EdgeList(mEff + 2))
    edges(offset) = mutable.ArrayBuffer(new AdjList(mEff + 2))
    count += 1
    // pass the caller's array through — re-reading via vecAt would copy
    // dim floats out of the flat block on every insert (hot path)
    prepQuery(vec)
    if (offset > 0) add(offset, vec)
  }

  /** Graph insert — `add` (reference: dehnsw.h:403-509). */
  private def add(offset: Int, vec: Array[Float]): Unit = {
    // descend from the entry point, stacking per-layer candidate sets
    // (reference: dehnsw.h:406-417)
    val stack = new Array[EdgeList](layerCount + 2)
    var sp = 0
    stack(sp) = nnInsert(layerCount, vec, entryOffset); sp += 1
    var ln = layerCount - 1
    while (ln >= 0) {
      stack(sp) = nnInsert(ln, vec, stack(sp - 1).ns(0)); sp += 1
      ln -= 1
    }
    var targetLayer = 0
    var continue = true
    while (continue && sp > 0) {
      // evicted-target -> (dist, pruning neighbor) (reference: dehnsw.h:421)
      var deletedEdges: mutable.HashMap[Int, (Double, Int)] = null
      val candidates = stack(sp - 1)
      out(offset)(targetLayer) = candidates
      val myAdj = edges(offset)(targetLayer)
      candidates.foreachEntry((_, nbr) => myAdj.add(nbr, 1))
      var ci = 0
      while (ci < candidates.size) {
        val d = candidates.ds(ci)
        val nbr = candidates.ns(ci)
        val nOut = out(nbr)(targetLayer)
        val nAdj = edges(nbr)(targetLayer)
        if (nAdj.indexOf(offset) < 0) nAdj.add(offset, 1)
        if (nOut.size < mEff) {
          // both directed edges exist -> refcount 2 (reference: dehnsw.h:433-438)
          nOut.insert(d, offset)
          nAdj.inc(offset)
          myAdj.inc(nbr)
        } else if (d < nOut.ds(mEff - 1)) {
          // prune: keep neighbor's M best, evict the (M+1)-th
          // (reference: dehnsw.h:440-464)
          nOut.insert(d, offset)
          nAdj.inc(offset)
          myAdj.inc(nbr)
          val evictDist = nOut.ds(mEff)
          val target = nOut.ns(mEff)
          if (deletedEdges == null) deletedEdges = mutable.HashMap.empty
          if (!deletedEdges.contains(target)) deletedEdges(target) = (evictDist, nbr)
          nAdj.dec(target)
          edges(target)(targetLayer).dec(nbr)
          // remove the SAME entry whose refcounts were just decremented —
          // index M, not the physically-last one (they differ when repair
          // had grown the list past M)
          nOut.removeAt(mEff)
        }
        ci += 1
      }
      // connectivity repair (reference: dehnsw.h:467-489)
      if (deletedEdges != null && deletedEdges.nonEmpty &&
          !connected(targetLayer, offset, deletedEdges)) {
        for ((target, (d, nbr)) <- deletedEdges) {
          out(nbr)(targetLayer).insert(d, target)
          edges(nbr)(targetLayer).inc(target)
          edges(target)(targetLayer).inc(nbr)
        }
      }
      // deterministic promotion (reference: dehnsw.h:491-507)
      if (insertToUpperLayer(targetLayer, offset)) {
        sp -= 1
        targetLayer += 1
        if (layerCount < targetLayer) {
          layerCount = targetLayer
          entryOffset = offset
        }
        layerOf(offset) += 1
        out(offset) += new EdgeList(mEff + 2)
        edges(offset) += new AdjList(mEff + 2)
      } else {
        continue = false
      }
    }
  }

  // reusable BFS frontier scratch (single-threaded per task, like stamps)
  private var bfsLast = new Array[Int](64)
  private var bfsNext = new Array[Int](64)
  @inline private def grown(a: Array[Int], n: Int): Array[Int] =
    if (n < a.length) a else java.util.Arrays.copyOf(a, a.length * 2)

  /** Bounded reachability check — `connected` (reference: dehnsw.h:119-148):
    * BFS <= 4 rounds from `start`; evicted edges whose far endpoint is
    * reached are safe (and removed from the map, so repair re-adds only
    * the unreached ones); returns false if any stay unreached. The target
    * set is tiny (<= prunes per insert), so membership is a linear scan
    * over a local array instead of per-visit HashMap ops. */
  private def connected(
      layer: Int, start: Int, deletedEdges: mutable.HashMap[Int, (Double, Int)]): Boolean = {
    val targets = deletedEdges.keysIterator.toArray
    val found = new Array[Boolean](targets.length)
    var remaining = targets.length
    var last = bfsLast
    var next = bfsNext
    var lastN = 0
    var nextN = 0
    last(0) = start; lastN = 1
    freshStamps()
    mark(start)
    var round = 0
    var result = false
    var break = false
    while (!break && round < 4) {
      var li = 0
      while (li < lastN) {
        val adj = edges(last(li))(layer)
        var ai = 0
        while (ai < adj.size) {
          val nbr = adj.nbrs(ai)
          if (!seen(nbr)) {
            mark(nbr)
            var t = 0
            while (t < targets.length) {
              if (!found(t) && targets(t) == nbr) { found(t) = true; remaining -= 1 }
              t += 1
            }
            next = grown(next, nextN)
            next(nextN) = nbr; nextN += 1
          }
          ai += 1
        }
        li += 1
      }
      if (remaining == 0) { result = true; break = true }
      else {
        val t = last; last = next; next = t
        lastN = nextN; nextN = 0
        round += 1
      }
    }
    bfsLast = last; bfsNext = next
    var t = 0
    while (t < targets.length) {
      if (found(t)) deletedEdges.remove(targets(t))
      t += 1
    }
    result
  }

  /** Deterministic promotion test — `insert_to_upper_layer` (reference:
    * dehnsw.h:150-178): BFS <= step rounds on `layer`; promote only if the
    * ball contains no vector already on a higher layer. */
  private def insertToUpperLayer(layer: Int, offset: Int): Boolean = {
    var last = bfsLast
    var next = bfsNext
    var lastN = 0
    var nextN = 0
    last(0) = offset; lastN = 1
    freshStamps()
    mark(offset)
    var round = 0
    var promote = true
    while (promote && round < params.step) {
      var li = 0
      while (promote && li < lastN) {
        val adj = edges(last(li))(layer)
        var ai = 0
        while (promote && ai < adj.size) {
          val nbr = adj.nbrs(ai)
          if (!seen(nbr)) {
            mark(nbr)
            if (layer < layerOf(nbr)) promote = false
            else {
              next = grown(next, nextN)
              next(nextN) = nbr; nextN += 1
            }
          }
          ai += 1
        }
        li += 1
      }
      val t = last; last = next; next = t
      lastN = nextN; nextN = 0
      round += 1
    }
    bfsLast = last; bfsNext = next
    promote
  }

  /** Build-time beam search — `nearest_neighbors_insert` (reference:
    * dehnsw.h:181-237): best-first over edges(layer), keeps the M best,
    * early-stops after `relaxedMonotonicity` consecutive non-improving
    * pops (RM counter semantics: starts at 1, `==` test, dehnsw.h:215). */
  private def nnInsert(layer: Int, q: Array[Float], start: Int): EdgeList = {
    val result = new EdgeList(mEff + 2)
    freshStamps()
    var outOfBound = 1
    frontier.clear()
    frontier.add(dist(q, start), start)
    var break = false
    while (!break && frontier.size > 0) {
      val d = frontier.headDist
      val v = frontier.headId
      frontier.removeHead()
      mark(v)
      if (result.size < mEff) {
        result.insert(d, v)
      } else if (d <= result.ds(result.size - 1)) {
        outOfBound = 1
        result.insert(d, v)
        result.removeLast()
      } else if (rmEff == outOfBound) {
        break = true
      } else {
        outOfBound += 1
      }
      if (!break) {
        val adj = edges(v)(layer)
        var ai = 0
        while (ai < adj.size) {
          val nbr = adj.nbrs(ai)
          if (!seen(nbr)) {
            mark(nbr)
            frontier.add(dist(q, nbr), nbr)
          }
          ai += 1
        }
      }
    }
    result
  }

  /** The probe kernel: [[bruteForceTopK]] at `searchWidth <= 0` (exact
    * whatever the graph's connectivity), else the [[queryTopK]] beam. */
  def topK(q: Array[Float], k: Int, searchWidth: Int,
      live: Long => Boolean = null): Array[(Double, Long)] =
    if (searchWidth <= 0) bruteForceTopK(q, k, live) else queryTopK(q, k, searchWidth, live)

  /** Exact per-shard top-k by full scan — the searchWidth=0 path. The
    * reference's RM=0 semantics is an exhaustive walk of the layer-0
    * connected component (dehnsw.h:300-307); a full scan is the same cost
    * O(shard size) but guaranteed exact even if pruning ever disconnects
    * the graph, so exact mode is a true brute-force oracle. */
  /** @param live optional LIVENESS filter on global ids (LSM tombstone
    *              probes): dead rows never enter the result, so the
    *              returned top-k is the exact LIVE top-k — no overfetch,
    *              no candidate-stream post-filter. */
  def bruteForceTopK(q: Array[Float], k: Int,
      live: Long => Boolean = null): Array[(Double, Long)] = {
    // flat storage reads offset*dim + i, so a longer query would silently
    // read into the NEXT vector's floats — guard at the kernel entry
    require(count == 0 || q.length == dim,
      s"query dimension ${q.length} does not match index dimension $dim")
    if (count > 0) prepQuery(q)
    // primitive bounded heap — same (dist, id) lexicographic replacement
    // as a sorted set, no per-candidate boxing
    val result = new graft.operators.TopKBuffer(k)
    var i = 0
    while (i < count) {
      if (live == null || live(globalIds(i)))
        result.insert(distExact(q, i), globalIds(i))
      i += 1
    }
    result.sortedPairs
  }

  /** Query kernel — `nearest_neighbors_query` (reference: dehnsw.h:241-323).
    * Phase 1: greedy hill-climb through layers layerCount-1..1; phase 2:
    * best-first beam on layer 0 with a k-bounded worst-first set.
    * `searchWidth` (=query RM): 0 never triggers the early stop (counter
    * starts at 1, dehnsw.h:300-307) => exhaustive over the connected
    * component = exact search. Returns ascending (distance, globalId).
    * `live` (optional, the LSM tombstone filter): a dead node is
    * TRAVERSED like any other (its edges still carry the walk — removing
    * them would disconnect the graph) but never enters the result set
    * and never touches the early-stop counter, so with searchWidth=0 the
    * exhaustive walk returns the exact LIVE top-k with zero overfetch. */
  def queryTopK(q: Array[Float], k: Int, searchWidth: Int,
      live: Long => Boolean = null): Array[(Double, Long)] = {
    if (count == 0) return Array.empty
    require(q.length == dim,
      s"query dimension ${q.length} does not match index dimension $dim")
    prepQuery(q)
    // worst-first bounded result over (dist, offset) — primitive heap
    val result = new graft.operators.TopKBuffer(k)
    var outOfBound = 1
    freshStamps()
    val waiting = new MinHeap(64)
    waiting.add(dist(q, entryOffset), entryOffset)
    mark(entryOffset)
    // phase 1 (reference: dehnsw.h:258-279)
    var layer = layerCount - 1
    while (layer >= 1) {
      var climbing = true
      while (climbing) {
        val cur = waiting.headId
        val adj = edges(cur)(layer)
        var ai = 0
        while (ai < adj.size) {
          val nbr = adj.nbrs(ai)
          if (!seen(nbr)) {
            mark(nbr)
            waiting.add(dist(q, nbr), nbr)
          }
          ai += 1
        }
        if (cur == waiting.headId) climbing = false
      }
      layer -= 1
    }
    // phase 2 (reference: dehnsw.h:280-321). The beam tracks (float-dist,
    // offset); selection is approximate by design.
    var break = false
    while (!break && waiting.size > 0) {
      val d = waiting.headDist
      val v = waiting.headId
      waiting.removeHead()
      if (live != null && !live(globalIds(v))) {
        // dead node: expand below, but neither result nor counter moves
      } else if (result.size < k) {
        result.insert(d, v.toLong)
      } else if (d < result.worstDist) {
        // strictly-closer only (reference dehnsw.h:292-295): an equal
        // distance neither enters the set nor resets the RM counter
        outOfBound = 1
        result.insert(d, v.toLong)
      } else if (searchWidth == outOfBound) {
        break = true
      } else {
        outOfBound += 1
      }
      if (!break) {
        val adj = edges(v)(0)
        var ai = 0
        while (ai < adj.size) {
          val nbr = adj.nbrs(ai)
          if (!seen(nbr)) {
            mark(nbr)
            waiting.add(dist(q, nbr), nbr)
          }
          ai += 1
        }
      }
    }
    // report full-precision distances for the selected candidates (the
    // search metric is float for speed; the returned distances must be
    // comparable with the exact/oracle path, so recompute in Double)
    val out = new Array[(Double, Long)](result.size)
    var ri = 0
    while (ri < result.size) {
      val o = result.ids(ri).toInt
      out(ri) = (distExact(q, o), globalIds(o))
      ri += 1
    }
    scala.util.Sorting.stableSort(out,
      (a: (Double, Long), b: (Double, Long)) => a._1 < b._1 || (a._1 == b._1 && a._2 < b._2))
    out
  }
}
