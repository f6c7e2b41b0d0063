package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.PqFunctions
import graft.index.Sidecar

/** Self-contained serving of a published IVF-PQ codes snapshot — the
  * missing piece between "codes exist on disk" and "a consumer can
  * serve them": until round 20 the coarse centroids and PQ codebooks
  * were retrained (deterministically) by every bench that served a
  * snapshot, which works when the corpus is regenerable and is useless
  * in a deployment where it is not. [[writeModel]] persists the trained
  * model beside the codes (FAISS persists exactly this with its IVFPQ
  * index: coarse quantizer + per-subquantizer codebooks — tiny next to
  * the codes: cells × dim + m × codewords × subDim floats), and
  * [[serve]] runs the full two-stage ADC pool → exact rerank from the
  * snapshot alone plus a full-precision base relation for the rerank
  * ([[graft.sources.BaseStore]] in a deployment).
  *
  * 100 TB shape (same plan the decade benches measured, SCALE.md): the
  * routed query set is |Q| × nprobe rows broadcast against the codes,
  * the codes scan prunes to the probed cells (cell-sorted parquet →
  * row-group pruning), the ADC pool is |Q| × pool rows, and the rerank
  * touches only pool ids. Nothing corpus-sized moves.
  *
  * Reference counterpart: none — dehnsw.h has no IVF-PQ tier; the
  * model/codes split follows the publicly documented FAISS IVFPQ
  * artifact shape.
  */
object IvfPqServe {

  /** The trained serving model: coarse cells + flat PQ codebooks (the
    * layout [[graft.functions.PqFunctions]] consumes) + the identity
    * params the codes were encoded with. */
  case class Model(cents: DataFrame, flat: Array[Float], kEff: Int,
      subDim: Int, params: IvfPqParams)

  /** Persist centroids + codebooks under `<snapDir>/model`, beside the
    * codes and the params.json identity sidecar (which must already be
    * written — the model is meaningless without it). */
  def writeModel(spark: SparkSession, snapDir: String, cents: DataFrame,
      flat: Array[Float], kEff: Int, subDim: Int): Unit = {
    require(IvfPqSnapshot.readParams(spark, snapDir).nonEmpty,
      s"writeModel: publish $snapDir/params.json before the model — the " +
        "codebooks are unreadable without the encode knobs")
    cents.select(col("centroid_id").cast("long"), col("c_embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$snapDir/model/centroids")
    Sidecar.write(spark, s"$snapDir/model/codebooks.json",
      Sidecar.CodebooksFile(kEff, subDim, flat))
  }

  /** Read a snapshot's persisted model; hard error when absent or
    * corrupt — serving with a RETRAINED-elsewhere model against these
    * codes is exactly the silent-garbage class the identity sidecar
    * exists to prevent, so there is no degraded fallback. */
  def readModel(spark: SparkSession, snapDir: String): Model = {
    val params = IvfPqSnapshot.readParams(spark, snapDir).getOrElse(
      sys.error(s"IvfPqServe: $snapDir has no params.json identity " +
        "sidecar — cannot serve codes of unknown shape"))
    val Sidecar.CodebooksFile(kEff, subDim, flat) = Sidecar.read[
      Sidecar.CodebooksFile](spark, s"$snapDir/model/codebooks.json")
      .getOrElse(throw new IllegalArgumentException(
        s"IvfPqServe: $snapDir/model is not published — run writeModel " +
          "at encode time (ClusteredBench ivfpq / publishmodel)"))
    require(flat.length == params.m * kEff * subDim,
      s"IvfPqServe: $snapDir codebooks hold ${flat.length} floats but " +
        s"params say m=${params.m} x k=$kEff x subDim=$subDim")
    Model(spark.read.parquet(s"$snapDir/model/centroids"), flat, kEff,
      subDim, params)
  }

  /** Two-stage serve from a published snapshot: route each query to its
    * `nprobe` nearest cells, ADC-score the probed cells' codes, keep the
    * per-query top-`pool`, exact-rerank the pool against `base`
    * (full-precision (id, embedding) — the build corpus or its
    * [[graft.sources.BaseStore]]) and keep the top `k`. Output
    * (query_id, rank, neighbor_id, distance) with float-L2 distances.
    *
    * `scratch`: when non-null the bounded ADC pool is staged to parquet
    * there instead of localCheckpoint — for JVMs whose executor storage
    * is already full of resident shard graphs (the faces-bench
    * discipline; the caller owns cleanup). */
  def serve(spark: SparkSession, snapDir: String, queries: DataFrame,
      base: DataFrame, k: Int, nprobe: Int, pool: Int,
      scratch: String = null, requireCoverage: Boolean = true): DataFrame = {
    val pinned = adcPool(spark, snapDir, queries, nprobe, pool, k, scratch)
    RefineKnn.refine(pinned, queries, base, k,
      requireCoverage = requireCoverage)
  }

  /** [[serve]] with the rerank base POINT-FETCHED from a published
    * [[graft.sources.BaseStore]] — rerank I/O scales with the pool, not
    * the store (the deployment default; `fetch = "scan"` streams the
    * whole store once instead, for very large batches). */
  def serveFromStore(spark: SparkSession, snapDir: String,
      queries: DataFrame, storePath: String, k: Int, nprobe: Int, pool: Int,
      scratch: String = null, fetch: String = "auto"): DataFrame = {
    val pinned = adcPool(spark, snapDir, queries, nprobe, pool, k, scratch)
    val base = fetch match {
      case "scan" => graft.sources.BaseStore.relation(spark, storePath)
      case "point" | "auto" =>
        val ids = pinned.select(col("neighbor_id")).distinct()
          .collect().map(_.getLong(0)).toSeq
        // the ADC pool is already pinned, so the exact distinct id count
        // is free here (unlike queryRefinedFromStore's pre-stage-1 bound)
        if (fetch == "auto" &&
            !graft.sources.BaseStore.pointWins(spark, storePath, ids.size))
          graft.sources.BaseStore.relation(spark, storePath)
        else graft.sources.BaseStore.fetch(spark, storePath, ids)
      case other => sys.error(
        s"IvfPqServe.serveFromStore: unknown fetch mode '$other' " +
          "(auto|point|scan)")
    }
    RefineKnn.refine(pinned, queries, base, k, requireCoverage = true)
  }

  /** Stage 1 shared by the serve shapes: route, ADC-score the probed
    * cells, keep the per-query top-`pool`, pinned (localCheckpoint or
    * parquet `scratch` — see [[serve]]). */
  private def adcPool(spark: SparkSession, snapDir: String,
      queries: DataFrame, nprobe: Int, pool: Int, k: Int,
      scratch: String): DataFrame = {
    require(pool >= k, s"ADC pool $pool must be >= k=$k")
    val model = readModel(spark, snapDir)
    val m = model.params.m
    val cents = model.cents.cache()
    val routedBase = IvfKnn.route(queries, cents, nprobe)
    val routed = (if (model.params.flavor == "global")
        routedBase.select(col("query_id"), col("cell"),
          PqFunctions.adcTable(col("q_embedding"), model.flat, m,
            model.kEff, model.subDim).as("tab"))
      else routedBase.join(broadcast(cents), col("cell") === col("centroid_id"))
        .select(col("query_id"), col("cell"),
          PqFunctions.adcTable(
            zip_with(col("q_embedding"), col("c_embedding"), (q, c) => q - c),
            model.flat, m, model.kEff, model.subDim).as("tab"))).cache()
    val cells = routed.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val wPool = Window.partitionBy(col("query_id"))
      .orderBy(col("distance"), col("neighbor_id"))
    val ranked = spark.read.parquet(s"$snapDir/codes")
      .filter(col("cell").isin(cells: _*))
      .join(broadcast(routed), Seq("cell"))
      .select(col("query_id"), col("neighbor_id"),
        PqFunctions.adcLookup(col("tab"), col("codes"), model.kEff)
          .cast("double").as("distance"))
      .withColumn("rank", row_number().over(wPool))
      .filter(col("rank") <= pool)
      .select(col("query_id"), col("neighbor_id"))
    val pinned = if (scratch == null) ranked.localCheckpoint(true) else {
      ranked.write.mode("overwrite").parquet(s"$scratch/ivfpq_pool")
      spark.read.parquet(s"$scratch/ivfpq_pool")
    }
    routed.unpersist(); cents.unpersist()
    pinned
  }
}
