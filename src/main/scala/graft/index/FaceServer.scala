package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Serve a published snapshot at its MEASURED best face — the
  * end-to-end consumer of the persisted cross-face operating table
  * ([[WidthCalibration.faces]], written by the ClusteredBench faces
  * phase / [[VectorIndex.calibrateWidthTo]]): until round 20 bestFace
  * only ANSWERED which face wins, and a consumer had to hand-assemble
  * the serve (load the graph, find the base store for refine, the
  * codes snapshot + model for IVF-PQ). This object reads the face
  * table, picks the cheapest face meeting the recall target, resolves
  * each face's structured artifact ([[FaceArtifact]] — path + knobs)
  * and dispatches:
  *
  *  - "exact"  → the index's own width-0 scan
  *  - "beam"   → the graph walk at the face's searchWidth
  *  - "refine" → [[VectorIndex.queryRefinedFromStore]] against the
  *               face's published [[graft.sources.BaseStore]]
  *  - "ivfpq_*"→ [[graft.operators.IvfPqServe.serve]] from the face's
  *               codes snapshot + model, reranked through its base store
  *
  * A face whose serve needs an artifact the table does not carry (a
  * pre-structured-artifact sidecar, a store that was never published)
  * is a CLEAR error naming what is missing — never a silent fallback
  * to a different face, which would serve a different recall/latency
  * point than the one the calibration evidence promised. */
object FaceServer {

  /** Load + serve in one call: the cheapest measured face with recall
    * ≥ `target`. The loaded index is returned alongside the result so a
    * long-lived server can keep probing it.
    *
    * `scratch`: when non-null, an ivfpq face stages its bounded ADC
    * pool to parquet under this directory instead of localCheckpoint
    * blocks — REQUIRED in a JVM whose executor storage is already full
    * of resident shard graphs (the r18 faces run at nprobe=32
    * exhausted a 105 GB heap exactly this way; ClusteredBench's ivfpq
    * face stages to `_faces_scratch` for the same reason). Graph faces
    * ignore it. */
  def serve(spark: SparkSession, snapPath: String, queries: DataFrame,
      k: Int, target: Double, scratch: String = null): DataFrame = {
    val cal = VectorIndex.readCalibration(spark, snapPath).getOrElse(
      sys.error(s"FaceServer: $snapPath has no calibration.json — run " +
        "calibrateWidthTo (and the faces bench) before face-serving"))
    val face = cal.bestFace(target).getOrElse(
      sys.error(s"FaceServer: no measured face at $snapPath reaches " +
        s"recall $target (faces: ${cal.faces.map(f =>
          s"${f.face}@${f.param}=${f.recall}").mkString(", ")}) — " +
        "lower the target or measure more faces"))
    serveFace(VectorIndex.load(spark, snapPath), face, queries, k, scratch)
  }

  /** Dispatch one specific measured face. Public so a server that
    * already holds the loaded index (or wants a non-best face, e.g. a
    * cheaper tier under load shedding) can skip the reload. `scratch`
    * as in [[serve]] (ivfpq ADC-pool staging beside resident graphs). */
  def serveFace(idx: VectorIndex, face: FacePoint, queries: DataFrame,
      k: Int, scratch: String = null): DataFrame = {
    val spark = idx.probeSession
    def ref(what: String): FaceArtifact = face.ref.getOrElse(
      sys.error(s"FaceServer: face '${face.face}'@${face.param} carries " +
        s"no structured artifact, so the $what it serves from cannot be " +
        "resolved — re-measure the face table with a published artifact " +
        "(ClusteredBench faces) or serve a graph face"))
    def knobInt(a: FaceArtifact, key: String, default: Int): Int =
      a.knobs.get(key).map(_.toInt).getOrElse(default)
    face.face match {
      case "exact" => idx.query(queries, k, searchWidth = 0)
      case "beam" => idx.query(queries, k, searchWidth = face.param)
      case "refine" =>
        val a = ref("full-precision base store")
        idx.queryRefinedFromStore(queries, a.path, k,
          pool = knobInt(a, "pool", 10 * k), searchWidth = face.param,
          fetch = a.knobs.getOrElse("fetch", "auto"))
      case f if f.startsWith("ivfpq") =>
        val a = ref("codes snapshot")
        val basePath = a.knobs.getOrElse("base",
          sys.error(s"FaceServer: ivfpq face at ${a.path} records no " +
            "'base' knob — the exact rerank needs a published base " +
            "store; re-measure the faces with one"))
        graft.operators.IvfPqServe.serveFromStore(spark, a.path, queries,
          basePath, k, nprobe = face.param,
          pool = knobInt(a, "pool", 10 * k),
          scratch = scratch,
          fetch = a.knobs.getOrElse("fetch", "auto"))
      case other =>
        sys.error(s"FaceServer: unknown face '$other' in the calibration " +
          s"table at ${idx.probeDescription} — known faces: exact, beam, " +
          "refine, ivfpq_*")
    }
  }
}
