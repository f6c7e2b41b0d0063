package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{NearestCentroids, VectorFunctions}

/** IVF (inverted-file) approximate kNN — the coarse-quantizer scale path:
  * corpus vectors are assigned to their nearest centroid cell; a query
  * probes only the `nprobe` nearest cells, so the scan shrinks by
  * ~numCentroids/nprobe while close vectors tend to share cells.
  *
  * The coarse quantizer here is deterministic sampling (every stride-th
  * corpus vector in id-rank order is a centroid) rather than trained
  * k-means, so the whole operator — assignment included — is reproducible
  * in plain SQL and hash-checked against DuckDB. Swapping in trained
  * centroids changes only the centroid relation, not the plan shape.
  *
  * Scale notes: the centroid list is bounded (numCentroids rows), so it
  * is collected once and embedded in a codegen'd argmin expression
  * ([[NearestCentroids]] — one flat-array loop per row); cell assignment
  * and query routing are then pure per-row projections — zero joins, zero
  * shuffles on the corpus (the previous crossJoin + Window.partitionBy(id)
  * exchanged the whole corpus, embeddings included). The only
  * shuffle-bearing step is the final cell-equi-join probe, which never
  * forms the full cross product.
  */
object IvfKnn {

  /** Deterministic centroid sample: vectors whose id % stride == 0,
    * stride = ceil(max_id / numCentroids). A pure per-row predicate — no
    * global sort/window, so sampling scales as a plain filtered scan (a
    * rank-based scheme would funnel the corpus through one partition). */
  def centroids(corpus: DataFrame, numCentroids: Int): DataFrame = {
    val maxId = corpus.agg(max(col("id"))).head.getLong(0)
    val stride = math.max(1L, (maxId + numCentroids) / numCentroids)
    corpus
      .filter(col("id") % stride === 0)
      .select(col("id").as("centroid_id"), col("embedding").as("c_embedding"))
  }

  /** K-means-TRAINED coarse quantizer: [[PqKnn.trainCodebooks]] with a
    * single subspace spanning the whole vector IS full-dimension Lloyd
    * — deterministic end to end (stride-sampled init, fixed pid-keyed
    * hierarchical fold, empty cells keep their codeword), so trained
    * centroids are bit-reproducible at a given `numPartitions`. Trained
    * cells have smaller radii than stride-sampled ones on clustered
    * data, which tightens BOTH IVF routing (members concentrate in the
    * queried cells) and [[RangeSearch]]'s triangle-inequality admission
    * (smaller cell_radius ⇒ more (query, cell) pairs pruned) —
    * RangeSearchSpec asserts the strict improvement. Centroid ids are
    * the dense 0..k-1 (training detaches centroids from corpus rows).
    *
    * Inherits trainCodebooks' <=256-centroid init bound; a wider coarse
    * quantizer shards the corpus and trains per shard (cells only need
    * to be LOCALLY tight for routing/pruning — the same shard=partition
    * layout the graph index uses). */
  def trainedCentroids(corpus: DataFrame, numCentroids: Int,
      iterations: Int = 5, numPartitions: Int = 32): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (flat, k, dim) =
      PqKnn.trainCodebooks(corpus, numCentroids, m = 1, iterations, numPartitions,
        maxCodewords = Int.MaxValue) // coarse cells are Long ids, never byte codes
    (0 until k).map { j =>
      (j.toLong, java.util.Arrays.copyOfRange(flat, j * dim, (j + 1) * dim))
    }.toDF("centroid_id", "c_embedding")
  }

  /** [[knnJoin]] with a caller-supplied centroid relation (trained or
    * sampled) — the swap-in slot the scaladoc above promises. */
  def knnJoinWith(queries: DataFrame, corpus: DataFrame, k: Int,
      cents: DataFrame, nprobe: Int): DataFrame = {
    val cs = collectCentroids(cents)
    if (cs.ids.isEmpty) return emptyKnnResult(queries)
    knnJoinAssigned(queries, assignWith(corpus, cs), cs, k, nprobe)
  }

  /** No centroids -> no probe-able cells -> empty result in the kNN
    * output shape (the old crossJoin-with-empty degradation), not a
    * crash. */
  private def emptyKnnResult(queries: DataFrame): DataFrame =
    queries.sparkSession.emptyDataFrame
      .select(lit(0L).as("query_id"), lit(0).as("rank"),
        lit(0L).as("neighbor_id"), lit(0.0).as("distance"))
      .filter(lit(false))

  /** Collected centroid table in the flat layout the argmin expression
    * wants — bounded by numCentroids, so the driver-side collect is safe
    * by contract. Ids sorted ascending (the expression's tie-break relies
    * on it). */
  private final case class CentroidSet(ids: Array[Long], flat: Array[Float], dim: Int)

  private def collectCentroids(cents: DataFrame): CentroidSet = {
    val rows = cents.select(col("centroid_id"), col("c_embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    if (rows.isEmpty) return CentroidSet(Array.empty, Array.empty, 0)
    val dim = rows.head._2.length
    val flat = new Array[Float](rows.length * dim)
    var k = 0
    while (k < rows.length) {
      val v = rows(k)._2
      var i = 0
      while (i < dim) { flat(k * dim + i) = v(i); i += 1 }
      k += 1
    }
    CentroidSet(rows.map(_._1), flat, dim)
  }

  private def nearestCells(emb: Column, cs: CentroidSet, nprobe: Int): Column = {
    import org.apache.spark.sql.graft.GraftSqlBridge.{column => toCol, expression => toExpr}
    toCol(NearestCentroids(toExpr(emb), cs.ids, cs.flat, cs.dim, nprobe))
  }

  /** Cell assignment: nearest centroid per corpus vector (ties by
    * centroid id) — a per-row codegen'd argmin, so the corpus never
    * shuffles. */
  def assign(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val cs = collectCentroids(cents)
    if (cs.ids.isEmpty) emptyAssignment(corpus) else assignWith(corpus, cs)
  }

  /** No centroids (possible when the deterministic sample matches no id)
    * -> no cells, matching the old crossJoin-with-empty degradation. */
  private def emptyAssignment(corpus: DataFrame): DataFrame =
    corpus.filter(lit(false))
      .select(col("id"), col("embedding"), lit(-1L).as("cell"))

  private def assignWith(corpus: DataFrame, cs: CentroidSet): DataFrame =
    corpus.select(col("id"), col("embedding"),
      // coalesce to a never-matching sentinel makes the column
      // non-nullable, so the downstream equi-join does NOT inject an
      // IsNotNull(argmin-expr) filter that would re-evaluate the argmin
      // a second time per corpus row
      coalesce(element_at(nearestCells(col("embedding"), cs, 1), 1), lit(-1L))
        .as("cell"))

  /** Graph-ROUTED coarse assignment — [[assign]]'s scale path. The flat
    * argmin is LINEAR in the cell count (measured on the 100M clustered
    * corpus: encode 5,080 s at 7,693 cells vs 724 s at 1,024 — SCALE.md),
    * and at the canonical cells ≈ √n sizing it dominates IVF-PQ encode
    * cost. This routes cell assignment through a dehnsw graph built over
    * the CENTROIDS — the composition the engine already owns — making
    * per-row assignment O(beam) instead of O(cells).
    *
    * Mechanics: the bounded centroid relation is broadcast as its flat
    * arrays and each task BUILDS a private copy of the centroid graph
    * (deterministic: ascending centroid_id insertion, so every copy is
    * identical and the kernel's (distance, globalId) tie-break equals
    * the argmin's (distance, centroid_id)). Per-task builds are the
    * point, not a workaround: [[graft.index.SubIndexGraph.queryTopK]]
    * reuses per-graph scratch (visited stamps), so a shared executor
    * instance would serialize all task threads behind one lock — and a
    * ~10k-node build costs ~a second against a partition's millions of
    * routed rows. `searchWidth = 0` is the kernel's exhaustive scan
    * ([[graft.index.SubIndexGraph.topK]]) — EXACT, row-for-row equal to [[assign]]
    * (RoutedAssignSpec); production widths trade a gated
    * assignment-agreement floor for the O(beam) routing. */
  def routedAssign(corpus: DataFrame, cents: DataFrame, searchWidth: Int,
      m: Int = 8, rm: Int = 64): DataFrame = {
    val cs = collectCentroids(cents)
    if (cs.ids.isEmpty) return emptyAssignment(corpus)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cs)
    corpus.select(col("id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else {
          val graph = buildCentroidGraph(bc.value, m, rm) // task-private
          // searchWidth 0 is the exhaustive scan, EXACT whatever the
          // graph's topology, so routed == argmin holds by construction
          it.map { case (id, emb) =>
            val r = graph.topK(emb, 1, searchWidth)
            (id, emb, if (r.isEmpty) -1L else r.head._2)
          }
        }
      }.toDF("id", "embedding", "cell")
  }

  /** Deterministic float dehnsw graph over a collected centroid set —
    * ascending centroid_id insertion order (every copy identical). */
  private def buildCentroidGraph(cs: CentroidSet, m: Int, rm: Int)
      : graft.index.SubIndexGraph = {
    val params = graft.index.IndexParams(
      minimumConnect = m, relaxedMonotonicity = rm, step = 4)
    val g = new graft.index.SubIndexGraph(params, cs.ids.length)
    var j = 0
    while (j < cs.ids.length) {
      g.insert(cs.ids(j),
        java.util.Arrays.copyOfRange(cs.flat, j * cs.dim, (j + 1) * cs.dim))
      j += 1
    }
    g
  }

  /** The bare cell-assignment COLUMN (nearest-centroid id, ties by
    * centroid id, NULL input -> null) — for operators that bucket rows
    * by cell without wanting the full [[assign]] projection (e.g.
    * [[Drift.embeddingDrift]]'s occupancy histogram). Same codegen'd
    * argmin; the bounded centroid relation is collected once here. */
  def cellExpr(cents: DataFrame, emb: Column): Column = {
    val cs = collectCentroids(cents)
    require(cs.ids.nonEmpty, "cellExpr needs a non-empty centroid relation")
    element_at(nearestCells(emb, cs, 1), 1)
  }

  /** Query routing face for composed pipelines (e.g. IVF-PQ): one row per
    * (query, probed cell) — `(query_id, q_embedding, cell)` for the nprobe
    * nearest cells, from the same per-row codegen'd argmin as [[assign]]
    * (no join, no window, no shuffle on the query side). */
  def route(queries: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val cs = collectCentroids(cents)
    if (cs.ids.isEmpty)
      queries.filter(lit(false))
        .select(col("query_id"), col("embedding").as("q_embedding"),
          lit(-1L).as("cell"))
    else
      queries.select(
        col("query_id"), col("embedding").as("q_embedding"),
        explode(nearestCells(col("embedding"), cs, nprobe)).as("cell"))
  }

  /** IVF kNN: probe the nprobe nearest cells per query, exact top-k among
    * their members (may return fewer than k — the approximation).
    * Output (query_id, rank, neighbor_id, distance). */
  def knnJoin(
      queries: DataFrame, corpus: DataFrame, k: Int,
      numCentroids: Int, nprobe: Int): DataFrame = {
    val cs = collectCentroids(centroids(corpus, numCentroids))
    if (cs.ids.isEmpty) return emptyKnnResult(queries)
    knnJoinAssigned(queries, assignWith(corpus, cs), cs, k, nprobe)
  }

  private def knnJoinAssigned(queries: DataFrame, assigned: DataFrame,
      cs: CentroidSet, k: Int, nprobe: Int): DataFrame = {
    // query routing: top-nprobe cells from the same per-row expression —
    // no join/window on the query side either
    val qCells = queries.select(
        col("query_id"), col("embedding").as("q_embedding"),
        explode(nearestCells(col("embedding"), cs, nprobe)).as("cell"))
    val scored = assigned.join(broadcast(qCells), Seq("cell"))
      .withColumn("distance",
        VectorFunctions.squaredL2(col("q_embedding"), col("embedding")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("distance"), col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("distance"))
  }
}
