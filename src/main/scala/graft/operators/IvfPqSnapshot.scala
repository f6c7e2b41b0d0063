package graft.operators

import org.apache.spark.sql.SparkSession

import graft.index.Sidecar

/** Identity sidecar for a published IVF-PQ codes snapshot.
  *
  * The codes parquet under `<dir>/codes` is meaningless without the
  * training/encode knobs that produced it: reading codes with a
  * mismatched subquantizer count `m` ADC-scores garbage (the per-code
  * byte layout changes), a mismatched `flavor` scores raw vectors with
  * residual codebooks (or vice versa), and a mismatched cell count
  * routes queries to cells the codes were never assigned to. Until
  * round 19 those invariants were enforced only by a directory NAMING
  * convention (`ivfpq_<flavor>_c<cells>[_m<m>][_r<routeWidth>]`) — this
  * sidecar makes them explicit: the encode writer persists
  * `params.json` beside `codes/`, and every reader validates before
  * serving. Legacy snapshots (published before the sidecar existed)
  * carry no params.json and are accepted as-is — the naming convention
  * remains their only identity — but a PRESENT sidecar that disagrees
  * with what the reader expects is a hard error, never a silent
  * garbage-scoring serve.
  *
  * Reference counterpart: none — the reference (dehnsw.h) has no IVF-PQ
  * tier; this is the engine's own artifact-identity discipline, the
  * same contract class as the vector snapshot's params.json
  * ([[graft.index.VectorIndex.save]]).
  *
  * @param flavor     codebook flavor: "global" (PQ over raw vectors) or
  *                   "residual" (PQ over x - centroid(cell(x)), the
  *                   FAISS IVFPQ shape)
  * @param numCents   coarse-quantizer cell count the codes were
  *                   assigned against
  * @param m          PQ subquantizer count (code bytes per vector)
  * @param codewords  codewords per subquantizer (ADC table width)
  * @param route      encode-side cell-assignment router: "argmin" or
  *                   "beam<W>" ([[IvfKnn.routedAssign]])
  * @param corpus     identity of the corpus the codes were encoded FROM
  *                   — for generated benchmark corpora the generator
  *                   knobs JSON (ClusteredBench's corpus.json string),
  *                   for real corpora a content fingerprint WRAPPED AS
  *                   AN OBJECT ({"fingerprint":"..."} — writeParams
  *                   refuses anything but one JSON object, which the
  *                   sidecar stores verbatim and reads back as the same
  *                   string). Codes
  *                   published before a corpus regeneration at the same
  *                   dir must not silently serve against the new one —
  *                   the same failure class the graph snapshot's
  *                   corpus.json gate closes. Empty = unrecorded
  *                   (legacy), accepted as-is.
  */
case class IvfPqParams(flavor: String, numCents: Int, m: Int,
    codewords: Int, route: String, corpus: String = "")

object IvfPqSnapshot {

  /** Persist the identity sidecar beside a just-published codes dir. */
  def writeParams(spark: SparkSession, dir: String, p: IvfPqParams): Unit =
    Sidecar.write(spark, s"$dir/params.json", Sidecar.IvfPqFile(p.flavor,
      p.numCents, p.m, p.codewords, p.route,
      Sidecar.rawObject(p.corpus, "IvfPqSnapshot")))

  /** Read a snapshot's identity sidecar; None for legacy snapshots
    * published before the sidecar existed (callers fall back to the
    * naming convention). A present-but-unparseable sidecar is a hard
    * error — unlike the calibration sidecar (an optimization hint whose
    * absence degrades safely), identity corruption must not degrade
    * into a silently-wrong serve. */
  def readParams(spark: SparkSession, dir: String): Option[IvfPqParams] =
    Sidecar.read[Sidecar.IvfPqFile](spark, s"$dir/params.json").map(f =>
      IvfPqParams(f.flavor, f.num_cents, f.m, f.codewords, f.route,
        f.corpus.map(_.text).getOrElse("")))

  /** Validate a snapshot against the knobs a reader is about to serve
    * with. Legacy snapshots (no sidecar) pass — the route is an
    * encode-provenance note, not a serve knob, so it is recorded but
    * not matched. Throws on any mismatch of flavor / cells / m /
    * codewords: every one of those silently corrupts ADC scoring.
    * `corpus` (when the caller passes one AND the sidecar recorded one)
    * must match too — codes encoded from a differently-generated corpus
    * ADC-score the WRONG vectors even with identical knobs. */
  def requireCompatible(spark: SparkSession, dir: String, flavor: String,
      numCents: Int, m: Int, codewords: Int, corpus: String = ""): Unit =
    readParams(spark, dir).foreach { found =>
      val expect = (flavor, numCents, m, codewords)
      val got = (found.flavor, found.numCents, found.m, found.codewords)
      require(got == expect,
        s"IvfPqSnapshot: $dir holds codes for (flavor, cells, m, " +
          s"codewords) = $got but the reader expects $expect — serving " +
          "would ADC-score garbage; point at the matching snapshot")
      require(corpus.isEmpty || found.corpus.isEmpty ||
          corpus == found.corpus,
        s"IvfPqSnapshot: $dir was encoded from corpus ${found.corpus} " +
          s"but the reader serves corpus $corpus — the codes describe " +
          "different vectors; re-encode or point at the matching snapshot")
    }
}
