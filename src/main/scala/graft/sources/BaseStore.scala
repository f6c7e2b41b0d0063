package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.Sidecar

/** Published FULL-PRECISION base store for two-stage refined serving —
  * the disk-backed (id, embedding) relation the refine tier
  * ([[graft.operators.RefineKnn]], [[graft.index.VectorIndex
  * .queryRefined]]) reranks against in a deployment, where the build
  * corpus is not regenerable and the SQ8/PQ snapshot holds only codes.
  *
  * Layout: id-SORTED parquet (`repartitionByRange` + per-file sort)
  * with deliberately SMALL pages. Point fetches hit a bounded id set
  * (|queries| × pool, ~10⁴ ids per serve batch) scattered uniformly
  * over the id space, so row-group-level min/max pruning alone cannot
  * help (every ~50k-row group contains some hit) — the granularity that
  * matters is the PAGE: with `parquet.page.row.count.limit` rows per id
  * page, the parquet column index narrows each hit to one small row
  * range and the reader decodes only the embedding pages overlapping
  * those ranges. At the 100M × 64d decade that is ~1 GB touched per
  * 10⁴-id fetch instead of the full ~27 GB scan (measured in SCALE.md).
  * The IN predicate must actually REACH parquet as the NATIVE in()
  * predicate — see [[fetch]] for the threshold semantics that make it
  * so.
  *
  * 100 TB shape: the store is the corpus itself, partitioned and sorted
  * by the primary key — the same bytes a lakehouse already holds; no
  * second copy, no external KV system. Fetch cost scales with the POOL
  * (ids × page size), not the corpus, and amortizes over the query
  * batch. The alternative serve shape — one column-pruned full scan +
  * broadcast semi-join per batch — is [[relation]]; it wins when the
  * batch is so large the pool covers most pages anyway.
  *
  * Reference counterpart: none — dehnsw.h serves from its in-memory
  * quantized copy only; this is the deployment-real half of the
  * refine tier (FAISS IndexRefineFlat's flat store, DiskANN's on-disk
  * full-precision vectors).
  */
object BaseStore {

  /** Rows per id-column page — the point-read pruning granularity (one
    * hit id admits one range of this many rows). */
  val PageRows = 256

  /** Publish `corpus` (id, embedding) as an id-sorted store at `path`.
    * One range-partitioned file per `files` bucket, small pages +
    * column indexes for point reads, plus a params.json identity
    * sidecar (row count + optional corpus identity, same contract
    * class as [[graft.operators.IvfPqSnapshot]]). */
  /** @param assumeSorted the input is ALREADY key-range-partitioned with
    *   ids ascending within each partition (a lakehouse table partitioned
    *   by its primary key, or a deterministic range generator) — skip the
    *   corpus-sized repartitionByRange shuffle and write partitions as
    *   they stand; `files` is then ignored (caller controls partitioning).
    *   The point-fetch contract only needs ids sorted WITHIN each file —
    *   cross-file order affects nothing. */
  def publish(corpus: DataFrame, path: String, files: Int = 256,
      corpusJson: String = "", assumeSorted: Boolean = false): Unit = {
    val spark = corpus.sparkSession
    // a non-object identity is refused before the corpus-sized write
    val identity = Sidecar.rawObject(corpusJson, "BaseStore")
    val shaped =
      if (assumeSorted) corpus.select(col("id").cast("long"), col("embedding"))
      else corpus
        .select(col("id").cast("long"), col("embedding"))
        .repartitionByRange(files, col("id"))
        .sortWithinPartitions(col("id"))
    shaped
      .write
      .option("parquet.page.row.count.limit", PageRows)
      // 1 MB byte cap never binds before the row cap at 64d float, but
      // keeps pages bounded for fat embeddings
      .option("parquet.page.size", 1 << 20)
      .option("parquet.block.size", 32 << 20)
      .mode("overwrite").parquet(s"$path/data")
    val n = spark.read.parquet(s"$path/data").count()
    Sidecar.write(spark, s"$path/params.json",
      Sidecar.BaseStoreFile(n, files, PageRows, identity))
  }

  /** The store as a plain relation (full-scan serve shape, or any other
    * consumer of the sorted corpus). */
  def relation(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/data").select(col("id"), col("embedding"))

  /** Row count recorded at publish; -1 for a store without the sidecar. */
  def publishedCount(spark: SparkSession, path: String): Long =
    readParams(spark, path).map(_.n).getOrElse(-1L)

  /** Corpus identity recorded at publish ("" when absent); callers
    * serving a known corpus should require equality before reranking
    * against the store. */
  def publishedCorpus(spark: SparkSession, path: String): String =
    readParams(spark, path).flatMap(_.corpus).map(_.text).getOrElse("")

  private def readParams(spark: SparkSession, path: String) =
    Sidecar.read[Sidecar.BaseStoreFile](spark, s"$path/params.json")

  /** POINT-FETCH the rows for a bounded id set: one IN-pushed scan whose
    * column index narrows the read to the pages containing hits.
    *
    * The parquet IN-pushdown threshold
    * (`spark.sql.parquet.pushdown.inFilterThreshold`, default 10) is
    * deliberately left ALONE: Spark expands lists AT OR BELOW the
    * threshold into a values-deep nested `or(eq, or(eq, …))` chain
    * (whose recursive evaluation stack-overflows around 10³ values —
    * measured), and only ABOVE it emits the parquet-native IN predicate
    * that evaluates iteratively against row-group stats, dictionaries
    * and the column index. A serve-batch pool is always far above 10
    * ids, so the efficient native path is the one this fetch gets by
    * default — raising the threshold to "help" does the opposite. */
  def fetch(spark: SparkSession, path: String, ids: Seq[Long]): DataFrame = {
    require(ids.nonEmpty, "BaseStore.fetch needs a non-empty id set")
    relation(spark, path).filter(col("id").isInCollection(ids))
  }

  /** Crossover between [[fetch]] (point) and a full-store scan, measured
    * on the 100M×64d decade store (26 GB, warm cache, dedicated JVM):
    * the point path pays ~1 ms per id — the parquet column index admits
    * one ~256-row range per hit, but materializing the WIDE embedding
    * column still decodes a page per hit (a count-only probe of the
    * same ids runs 5× faster) — while the scan is a fixed pass at
    * ~0.1 µs per stored row (9.8 s for the full store). Equating the
    * two: point wins below ~n/10⁴ ids, the scan above. Callers passing
    * `fetch = "auto"` get this rule; both constants are store-shape
    * dependent (vector width, page size), so forcing a mode stays
    * supported. An unknown row count (pre-sidecar store) defaults to
    * the point path — the safe choice for the small pools such stores
    * served historically. */
  def pointWins(spark: SparkSession, path: String, nIds: Long): Boolean = {
    val n = publishedCount(spark, path)
    n <= 0 || nIds <= math.max(1024L, n / 10000L)
  }
}
