package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.DistanceMetric

/** What the SQL ANN rewrite needs from an index — the seam that lets
  * `ORDER BY vec_distance(...) LIMIT k` splice in a probe of EITHER a
  * sealed [[VectorIndex]] or a live [[LsmVectorIndex]] (base +
  * generations). Implementations must return (query_id, rank,
  * neighbor_id, distance) ordered by (distance, neighbor_id) per query,
  * with searchWidth 0 meaning exact. */
trait AnnProbe {
  /** Stable identity of THIS index state (changes when the indexed data
    * changes — e.g. per LSM ingest) — the rewrite's plan-cache key. */
  def probeId: String
  def probeMetric: DistanceMetric
  /** True when the index TRANSFORMS vectors at its API boundary
    * ([[IndexParams.transformsInput]] — cosine normalization OR MIPS
    * augmentation): probe results then rank in the transformed-L2²
    * domain, not the raw metric's — a rewrite that promises
    * bit-identical substitution of a raw distance expression must
    * refuse such an index (the raw squaredL2 ordering over raw vectors
    * differs from both the cosine and the augmented-MIPS ordering,
    * and the returned distances are rescaled/shifted). */
  def probeNormalized: Boolean = false
  /** The metric this index SEMANTICALLY ranks by at its public API: a
    * transformed index (cosine normalization / MIPS augmentation) probes
    * internally in the Euclidean2 domain but its ranking answers the
    * cosine / inner-product question — the metric the SQL rewrite may
    * serve RANK-equivalently (ids only, never the raw distances). */
  def probeSemanticMetric: DistanceMetric = probeMetric
  def probeSession: SparkSession
  /** The probe of a literal query batch as a LAZY plan. It must run no
    * job when called: the rewrite builds it inside the optimizer, where a
    * job would nest inside planning, and memoizes the optimized plan for
    * later executions of the same shape. The eager
    * [[VectorIndex.query]] path is therefore not usable here. */
  def probeBatch(batch: Array[(Long, Array[Float])], k: Int, searchWidth: Int): DataFrame
  /** One-line shape description for the rewrite's log line. */
  def probeDescription: String
}
