package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.index.Sidecar

/** Hybrid lexical + dense retrieval fused with Reciprocal Rank Fusion
  * (Cormack, Clarke & Buettcher, SIGIR 2009): each leg produces a
  * per-query top-N ranking; the fused score of a document is
  * sum over legs of 1 / (c + rank), missing-from-a-leg contributing 0.
  * RRF needs only RANKS — never score calibration across legs — which is
  * exactly what makes it the standard fusion for BM25-style lexical
  * scores (unbounded) against cosine similarities ([-1, 1]).
  *
  * Scale shape: each leg is an existing scalable operator (the dense leg
  * is any kNN operator from this library — exact, dehnsw, IVF, PQ; the
  * lexical leg is one posting equi-join + partial count). Fusion itself
  * touches only the q x N ranked rows: a full-outer equi-join on
  * (query, doc) plus a per-query top-k window — negligible next to the
  * legs at any corpus size.
  */
object HybridRetrieval {

  /** Lexical leg: per-query ranking by shared-DISTINCT-token count (the
    * boolean-overlap retrieval model). Integer scores make the ranking
    * engine-exact (no float summation order to disagree on). One posting
    * equi-join on the token (queries' distinct tokens broadcast — the
    * query batch is bounded by contract), one partial-aggregated count,
    * one per-query window limit.
    *
    * @param queries (query_id, text)
    * @param corpus (doc_id, text)
    * @param maxTokenDf drop tokens whose CORPUS document frequency
    *   exceeds this ceiling before the posting join — the 100 TB knob
    *   (d2's `maxShingleDf` applied to tokens). Without it one stopword
    *   in a query matches essentially every document and the
    *   pre-aggregation pair stream approaches q x corpus. An
    *   overlap count over df-capped tokens is still a valid ranking —
    *   a near-universal token carries no discriminative signal — but it
    *   IS a different ranking from the uncapped one (deliberate,
    *   documented semantics; the default keeps exact overlap).
    *   Scale shape: with the ceiling a fixed fraction f of the corpus,
    *   at most avg_doc_len/f tokens can exceed it — a corpus-size-
    *   independent set, computed by one token groupBy and removed via a
    *   BROADCAST anti-join, so the cap never adds a corpus-sized shuffle.
    * @return (query_id, doc_id, n_shared, lex_rank), lex_rank <= n
    */
  def lexicalTopN(queries: DataFrame, corpus: DataFrame, n: Int,
      maxTokenDf: Long = Long.MaxValue): DataFrame = {
    def toks(df: DataFrame, idAs: String, idFrom: String) = df.select(
      col(idFrom).as(idAs),
      explode(array_distinct(TextFunctions.tokens(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
    val qt = toks(queries, "query_id", "query_id")
    val ct0 = toks(corpus, "doc_id", "doc_id")
    val ct =
      if (maxTokenDf == Long.MaxValue) ct0
      else {
        val hot = ct0.groupBy(col("tok"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxTokenDf)
          .select(col("tok"))
        ct0.join(broadcast(hot), Seq("tok"), "left_anti")
      }
    val overlap = ct.join(broadcast(qt), Seq("tok"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    overlap
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("n_shared").desc, col("doc_id"))).cast("int"))
      .filter(col("lex_rank") <= n)
  }

  /** BM25-scored lexical leg — what retrieval stacks actually deploy
    * (Okapi BM25, Robertson & Walker SIGIR'94; same formula and
    * binary-exact k1/b constants as [[Bm25.score]], here per QUERY DOC
    * against the corpus instead of a fixed term list).
    *
    * Plan shape, stage by stage:
    *  - per-doc term frequencies are computed MAP-SIDE with higher-order
    *    functions (array_distinct + filter-count per distinct token) —
    *    postings need no (doc, token) shuffle to build;
    *  - the document-frequency table is vocab-sized, so the postings-df
    *    join stays DISTRIBUTED on the token key (the t11 lesson: a raw
    *    tokenizer's vocab runs to billions at web scale — never a
    *    broadcast); only the one-row (N, avgdl) stats broadcast;
    *  - `maxTokenDf` drops tokens above the df ceiling before pair
    *    emission — BM25's idf DISCOUNTS stopwords smoothly but does not
    *    bound the join output; the cap does (and costs those tokens only
    *    their near-zero idf contribution);
    *  - query tokens broadcast (bounded batch), pairs aggregate
    *    partially map-side, one per-query WindowGroupLimit.
    *
    * Scores are rounded to 6 decimals BEFORE ranking (ulp-level float
    * wobble stays under the reporting grain — the v38 argument), ties
    * break by doc_id.
    *
    * @return (query_id, doc_id, bm25, lex_rank), lex_rank <= n
    */
  def bm25TopN(queries: DataFrame, corpus: DataFrame, n: Int,
      maxTokenDf: Long = Long.MaxValue,
      k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val (index, stats) = bm25Index(corpus, maxTokenDf)
    bm25Serve(queries, index, stats, n, k1, b)
  }

  /** Query-independent half of [[bm25TopN]]: the df-capped posting index
    * (tok, doc_id, dl, tf, df) and the one-row (n_docs, avgdl) stats.
    * A serving deployment computes these ONCE per corpus snapshot and
    * reuses them for every query batch (the streaming face caches both
    * across micro-batches); splitting them out is what makes that reuse
    * possible without re-deriving the corpus side per batch. */
  def bm25Index(corpus: DataFrame, maxTokenDf: Long = Long.MaxValue)
      : (DataFrame, DataFrame) = {
    val ct = corpus.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("ts"))
      .withColumn("dl", size(col("ts")))
    val postings = rawPostings(corpus)
    val stats = ct.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val dfKept = postings.groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxTokenDf)
    // distributed on tok (vocab-sized — the t11 lesson: never broadcast)
    (postings.join(dfKept, Seq("tok")), stats)
  }

  /** The df-FREE posting rows of a corpus — (doc_id, dl, tok, tf), one
    * map-side pass, no shuffle. Pure per-document work, which is what
    * makes postings INCREMENTAL: a batch's rows never depend on any
    * other document, so posting frames accumulate O(batch) per
    * micro-batch and the corpus-level df/stats finalize separately
    * ([[graft.streaming.StreamingOps.streamBm25Ingest]]). */
  private[graft] def rawPostings(corpus: DataFrame): DataFrame = {
    val ct = corpus.select(col("doc_id"),
      TextFunctions.tokens(col("text")).as("ts"))
      .withColumn("dl", size(col("ts")))
    ct.select(col("doc_id"), col("dl"),
        explode(transform(array_distinct(col("ts")),
          t => struct(t.as("tok"),
            size(filter(col("ts"), x => x === t)).as("tf")))).as("p"))
      .select(col("doc_id"), col("dl"),
        col("p.tok").as("tok"), col("p.tf").as("tf"))
      .filter(col("tok") =!= "")
  }

  /** The token→partition-bucket function shared by [[saveBm25Index]]
    * (layout) and [[bm25Serve]] (pruning): serve-time computable from
    * the token string alone — no boundary table to persist, no skew
    * sensitivity (a hot token is one bucket's problem either way; its
    * per-token row count is already bounded by the df cap). */
  private def tokBucket(tok: org.apache.spark.sql.Column, nBuckets: Int) =
    pmod(xxhash64(tok), lit(nBuckets.toLong)).cast("int")

  /** The three build-side pieces of a [[saveBm25Index]] snapshot, all
    * UNCAPPED: raw postings ([[rawPostings]]), the vocab-sized df table,
    * and the one-row exact (n_docs, sum_dl) stats (sum_dl as a LONG so
    * an append can extend it exactly — avgdl is derived as
    * sum_dl/n_docs, the identical double Spark's avg-over-int
    * produces). The df cap is NOT applied here: it is a serving POLICY
    * (df <= n_docs x cap ratio), persisted as a ratio in stats.json and
    * applied at load time — which is exactly what makes the snapshot
    * APPENDABLE ([[appendBm25]]): cap membership is not monotone under
    * appends (maxDf grows with n_docs), so postings dropped at build
    * time could never be resurrected by a later append. */
  def bm25SnapshotPieces(corpus: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val postings = rawPostings(corpus)
    val dfTable = postings.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = corpus
      .select(size(TextFunctions.tokens(col("text"))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("sum_dl"))
    (postings, dfTable, stats)
  }

  /** Persist a BM25 index as a servable snapshot with the df SPLIT OUT:
    * postings land as (tok, doc_id, dl, tf) parquet PARTITIONED BY a
    * token hash bucket (`tok_bkt = xxhash64(tok) mod tokBuckets` as a
    * directory column) and SORTED by (tok, doc_id) within each bucket;
    * the vocab-sized (tok, df) table lands beside them in the SAME
    * bucket layout; the stats as a JSON sidecar (never a parquet job
    * for a few numbers). Splitting df out of the posting rows is what
    * makes the snapshot INCREMENTAL: df is the only per-posting value
    * that changes when documents are appended, so [[appendBm25]] can
    * add new posting files into their buckets untouched and republish
    * only the vocab-sized df table + stats.
    *
    * The bucket directories make serving O(matched postings):
    * [[bm25Serve]] maps the query batch's bounded token set to bucket
    * ids and BOTH scans prune to those directories (PartitionFilters),
    * with the pushed `In(tok, …)` pruning row groups inside surviving
    * buckets via the tok-sorted min/max + dictionary stats. This is the
    * lexical analog of [[graft.index.VectorIndex.save]]: build once per
    * corpus snapshot, serve from the snapshot forever.
    *
    * @param postings UNCAPPED (doc_id, dl, tok, tf) rows
    *   ([[rawPostings]] / [[bm25SnapshotPieces]])
    * @param dfTable UNCAPPED (tok, df)
    * @param stats one row (n_docs: long, sum_dl: long)
    * @param dfCapNum/dfCapDen the serve-time df cap RATIO: tokens with
    *   df > n_docs*num/den are excluded from scoring at load time
    *   (num = Long.MaxValue disables). Stored in stats.json so appends
    *   re-evaluate it against the grown corpus. */
  def saveBm25Index(postings: DataFrame, dfTable: DataFrame,
      stats: DataFrame, path: String, tokBuckets: Int = 64,
      dfCapNum: Long = Long.MaxValue, dfCapDen: Long = 1L): Unit = {
    val spark = postings.sparkSession
    writePostingFiles(postings, s"$path/postings", tokBuckets, "overwrite")
    dfTable
      .select(col("tok"), col("df").cast("long"))
      .withColumn("tok_bkt", tokBucket(col("tok"), tokBuckets))
      .repartition(tokBuckets, col("tok_bkt"))
      .sortWithinPartitions(col("tok_bkt"), col("tok"))
      .write.mode("overwrite").partitionBy("tok_bkt").parquet(s"$path/df")
    // doc-id sidecar for O(n_docs) append clash checks — derived from the
    // WRITTEN posting files (one pruned int64 column scan), never from the
    // caller's frame (whose lineage may re-tokenize the corpus)
    writeDocIds(spark,
      spark.read.schema(postingsSchema).parquet(s"$path/postings")
        .select(col("doc_id")), path)
    val row = stats.select(col("n_docs").cast("long"), col("sum_dl").cast("long")).head
    writeBm25Stats(spark, path, row.getLong(0), row.getLong(1), tokBuckets,
      dfCapNum, dfCapDen)
  }

  /** Write the distinct posting doc_ids beside the snapshot
    * (`{path}/doc_ids`). [[appendBm25Pieces]]'s duplicate-id check reads
    * this O(n_docs) sidecar instead of scanning every posting row of the
    * base — at a 10M-doc generation that is the difference between a
    * 10M-row scan and a billions-of-postings scan per append. Appends
    * carry it forward (base ids ∪ batch ids), and a base written before
    * the sidecar existed falls back to the posting scan once. */
  private def writeDocIds(spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame, path: String): Unit =
    ids.select(col("doc_id").cast("long")).distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$path/doc_ids")

  private val docIdsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType)))

  /** The snapshot's distinct posting doc_ids: the sidecar when present,
    * else one column-pruned scan of the posting files. */
  private def snapshotDocIds(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/doc_ids")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.schema(docIdsSchema).parquet(p.toString)
    else spark.read.schema(postingsSchema).parquet(s"$path/postings")
      .select(col("doc_id")).distinct()
  }

  private def writePostingFiles(postings: DataFrame, dir: String,
      tokBuckets: Int, mode: String): Unit =
    postings
      .select(col("tok"), col("doc_id").cast("long"), col("dl").cast("int"),
        col("tf").cast("int"))
      .withColumn("tok_bkt", tokBucket(col("tok"), tokBuckets))
      .repartition(tokBuckets, col("tok_bkt"))
      .sortWithinPartitions(col("tok_bkt"), col("tok"), col("doc_id"))
      .write.mode(mode).partitionBy("tok_bkt").parquet(dir)

  private def writeBm25Stats(spark: org.apache.spark.sql.SparkSession,
      path: String, nDocs: Long, sumDl: Long, tokBuckets: Int,
      dfCapNum: Long, dfCapDen: Long): Unit =
    Sidecar.write(spark, s"$path/stats.json", Sidecar.Bm25StatsFile(nDocs,
      Some(sumDl), if (nDocs > 0) sumDl.toDouble / nDocs else 0.0,
      Some(tokBuckets), dfCapNum, dfCapDen))

  /** A loaded [[saveBm25Index]] snapshot's pieces: uncapped posting and
    * df frames, the serve-time df cap value (n_docs x num/den — already
    * evaluated against THIS snapshot's corpus size), and the compat
    * (n_docs, avgdl, tok_buckets) stats row [[bm25Serve]] scores with. */
  case class Bm25Snapshot(postings: DataFrame, df: DataFrame,
      stats: DataFrame, maxDf: Long, tokBuckets: Int, nDocs: Long,
      sumDl: Long, dfCapNum: Long, dfCapDen: Long)

  /** The on-disk schemas of a split snapshot's two parquet tables —
    * fixed by [[writePostingFiles]] / the df write (tok_bkt is the
    * partition directory column). Opening with an explicit schema skips
    * the footer-inference job `spark.read.parquet` otherwise runs per
    * open (two jobs per [[openBm25Index]] — measured ~0.3 s of every
    * snapshot open at gate scale, and a listing+footer pass of the
    * bucket tree at production scale). */
  private val postingsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("tok",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("dl",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("tf",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("tok_bkt",
      org.apache.spark.sql.types.IntegerType)))
  private val dfTableSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("tok",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("df",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("tok_bkt",
      org.apache.spark.sql.types.IntegerType)))

  /** True when the snapshot's stats.json describes a SPLIT (df-side-table)
    * layout — the ONE format sniff shared by every load/serve dispatch
    * site: only the split layout records `sum_dl`. */
  private[graft] def isSplitSnapshot(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    Sidecar.read[Sidecar.Bm25StatsFile](spark, s"$path/stats.json")
      .exists(_.sum_dl.isDefined)

  /** Open a [[saveBm25Index]] snapshot as its split pieces — the serving
    * handle for [[bm25Serve]]'s snapshot overload (two-phase pruning:
    * the df table resolves the batch's under-cap tokens BEFORE the
    * posting scan, so an over-cap stopword in a query never drags its
    * posting rows through the scan). */
  def openBm25Index(spark: org.apache.spark.sql.SparkSession, path: String)
      : Bm25Snapshot = {
    val s = Sidecar.readRequired[Sidecar.Bm25StatsFile](spark, s"$path/stats.json")
    import spark.implicits._
    val sumDl = s.sum_dl.getOrElse(
      sys.error(s"$path is a pre-split (v1) snapshot — no sum_dl; " +
        "serve it via loadBm25Index"))
    val nBkt = s.tok_buckets.getOrElse(throw new IllegalArgumentException(
      s"corrupt sidecar $path/stats.json: missing tok_buckets"))
    val (nDocs, num, den) = (s.n_docs, s.df_cap_num, math.max(1L, s.df_cap_den))
    val maxDf = if (num == Long.MaxValue) Long.MaxValue else nDocs * num / den
    val stats = Seq((nDocs, if (nDocs > 0) sumDl.toDouble / nDocs else 0.0, nBkt))
      .toDF("n_docs", "avgdl", "tok_buckets")
    Bm25Snapshot(spark.read.schema(postingsSchema).parquet(s"$path/postings"),
      spark.read.schema(dfTableSchema).parquet(s"$path/df"), stats, maxDf,
      nBkt, nDocs, sumDl, num, den)
  }

  /** Load a snapshot as (index, stats) frames shaped like the in-session
    * capped index (df joined back onto the postings, cap applied), ready
    * for the [[bm25Serve]] (index, stats) overload. Reads BOTH layouts:
    * the split (v2) layout joins postings to the capped df table on
    * (tok, tok_bkt) — serve-time In(tok)/tok_bkt predicates push through
    * the join into both scans (PlanShapeSpec) — and the legacy layout
    * (df denormalized per posting row) reads directly. The postings read
    * is lazy (serving scans only the query batch's buckets per batch;
    * cache() the index side for a long-lived hot-everything server). */
  def loadBm25Index(spark: org.apache.spark.sql.SparkSession, path: String)
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    val s = Sidecar.readRequired[Sidecar.Bm25StatsFile](spark, s"$path/stats.json")
    if (s.sum_dl.isDefined) {
      val snap = openBm25Index(spark, path)
      val dfKept = snap.df.filter(col("df") <= snap.maxDf)
      (snap.postings.join(dfKept, Seq("tok", "tok_bkt")), snap.stats)
    } else {
      // pre-bucketing snapshots: no tok_buckets, no pruning
      (spark.read.parquet(s"$path/postings"),
        Seq((s.n_docs, s.avgdl, s.tok_buckets.getOrElse(0)))
          .toDF("n_docs", "avgdl", "tok_buckets"))
    }
  }

  /** Query-dependent half of [[bm25TopN]]: join the (bounded, broadcast)
    * batch's distinct query tokens against the posting index, score, and
    * per-query window-limit. Per-query independent, so any partition of
    * the query set through this (the streaming serve path) accumulates
    * to exactly the single-batch result.
    *
    * The batch's distinct token set is bounded by the same contract
    * that makes the query side broadcastable, so it is COLLECTED and
    * pushed into the posting scan as real data-source predicates — a
    * broadcast-hash join alone adds no parquet filter, which on a
    * [[saveBm25Index]] snapshot meant scanning every posting for any
    * batch. Two predicates: `tok_bkt IN (buckets of the batch's
    * tokens)` prunes whole bucket DIRECTORIES (PartitionFilters), and
    * `tok IN (…)` prunes row groups inside surviving buckets via the
    * tok-sorted min/max + dictionary stats (PushedFilters). Both are
    * subsumed by the join (an equi-join on tok only keeps those rows
    * anyway), so results are unchanged for any index shape; batches
    * with more than `maxPushTokens` distinct tokens (an effectively
    * whole-vocab probe) skip the predicates rather than build a
    * degenerate filter. */
  def bm25Serve(queries: DataFrame, index: DataFrame, stats: DataFrame,
      n: Int, k1: Double = 1.5, b: Double = 0.75,
      maxPushTokens: Int = 10000): DataFrame = {
    // the batch's (query_id, tok) pairs are COLLECTED once and rebuilt
    // as a driver-local relation: the pushed In(tok)/tok_bkt predicates
    // below derive from this set, and a nondeterministic query batch
    // (sample/rand/re-read mutable source) re-evaluated at join time
    // could otherwise hold tokens absent from the pushed filters and
    // silently drop matching postings. Collecting is no new bound — the
    // same contract already broadcasts qt to every executor — and it
    // pins no executor storage in a long-lived serving loop.
    val (qt, toks) = collectQueryTokens(queries)
    val pruned =
      if (toks.isEmpty || toks.length > maxPushTokens) index
      else {
        val base = index.filter(col("tok").isin(toks: _*))
        val nBkt =
          if (index.columns.contains("tok_bkt") &&
              stats.columns.contains("tok_buckets"))
            stats.select(col("tok_buckets").cast("int")).head.getInt(0)
          else 0
        if (nBkt > 0) {
          val bkts = toks.map(t => bucketOf(t, nBkt)).distinct
          base.filter(col("tok_bkt").isin(bkts: _*))
        } else base
      }
    scoreBm25(pruned, qt, stats, n, k1, b)
  }

  /** Collect the batch's distinct (query_id, tok) pairs ONCE and rebuild
    * them as a driver-local relation — the shared front half of every
    * serve path. One collect (no new bound: the same contract already
    * broadcasts this frame to every executor), no pinned executor
    * storage, and the pushed predicates cannot diverge from the join
    * side because both are built from the same collected rows. */
  private def collectQueryTokens(queries: DataFrame)
      : (DataFrame, Seq[String]) = {
    val spark = queries.sparkSession
    val qtPlan = queries.select(col("query_id"),
        explode(array_distinct(TextFunctions.tokens(col("text")))).as("tok"))
      .filter(col("tok") =!= "")
    // rebuilt with the ORIGINAL schema — query_id keeps the caller's type
    // (string ids and nulls survive; no silent long narrowing)
    val rows = qtPlan.collect()
    import scala.jdk.CollectionConverters._
    (spark.createDataFrame(rows.toSeq.asJava, qtPlan.schema),
      rows.map(_.getString(1)).distinct.toSeq)
  }

  /** The ONE BM25 scoring tail shared by every serve path (in-session,
    * loaded-joined, split-snapshot): join the pinned (query_id, tok)
    * batch onto (tok, doc_id, dl, tf, df) rows, score, round to 6
    * decimals BEFORE ranking, per-query window limit. One
    * implementation so no serve flavor can drift a ULP from another. */
  private def scoreBm25(withDf: DataFrame, qt: DataFrame, stats: DataFrame,
      n: Int, k1: Double, b: Double): DataFrame = {
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df") + lit(0.5)) /
        (col("df") + lit(0.5)))
    val dlNorm = lit(1.0 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))
    val tfD = col("tf").cast("double")
    withDf
      .join(broadcast(qt), Seq("tok"))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (idf * ((tfD * lit(k1 + 1.0)) / (tfD + lit(k1) * dlNorm))).as("ts_score"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("ts_score")), 6).as("bm25"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("bm25").desc, col("doc_id"))).cast("int"))
      .filter(col("lex_rank") <= n)
  }

  /** [[bm25Serve]] over a SPLIT snapshot ([[openBm25Index]]) — the
    * two-phase serving shape the df split enables:
    *
    *  1. resolve the batch's tokens against the DF TABLE first (a
    *     vocab-sized scan pruned by the same tok_bkt/In(tok)
    *     predicates), keeping only under-cap tokens and COLLECTING
    *     their (tok, df) rows (bounded by `maxPushTokens`);
    *  2. scan postings pruned to the SURVIVING token set only and join
    *     the collected df rows back as a broadcast local relation.
    *
    * The split snapshot stores over-cap (stopword) postings — that is
    * what makes it appendable — so phase 1 is what keeps the serve
    * O(matched under-cap postings): a query containing a stopword never
    * drags that token's posting rows through the scan, because the
    * token dies at the vocab-sized df probe before the posting scan's
    * predicate set is built. Batches over `maxPushTokens` distinct
    * tokens fall back to the distributed-join view (same results). */
  def bm25Serve(queries: DataFrame, snap: Bm25Snapshot, n: Int): DataFrame =
    bm25Serve(queries, snap, n, 1.5, 0.75, 10000)

  def bm25Serve(queries: DataFrame, snap: Bm25Snapshot, n: Int,
      k1: Double, b: Double, maxPushTokens: Int): DataFrame = {
    val spark = snap.postings.sparkSession
    import spark.implicits._
    // collected once (the same re-evaluation-hazard discipline as the
    // frame overload — pushed predicates and join side share one set)
    val (qt, toks) = collectQueryTokens(queries)
    if (toks.isEmpty || toks.length > maxPushTokens) {
      // degenerate (empty or whole-vocab) batch: the distributed-join
      // view without pushdown — correct for any shape, never built from
      // an unbounded collect
      val dfKept = snap.df.filter(col("df") <= snap.maxDf)
      return scoreBm25(snap.postings.join(dfKept, Seq("tok", "tok_bkt")),
        qt, snap.stats, n, k1, b)
    }
    val bkts = toks.map(t => bucketOf(t, snap.tokBuckets)).distinct
    // phase 1: under-cap df rows for the batch's tokens (vocab-sized
    // scan, bucket-pruned; result bounded by |toks|)
    val dfRows = snap.df
      .filter(col("tok_bkt").isin(bkts: _*) && col("tok").isin(toks: _*) &&
        col("df") <= snap.maxDf)
      .select(col("tok"), col("df"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val keptToks = dfRows.map(_._1)
    val keptBkts = keptToks.map(t => bucketOf(t, snap.tokBuckets)).distinct
    // phase 2: postings pruned to surviving tokens only; df joins back
    // as a broadcast local relation (≤ |toks| rows)
    val pruned =
      if (keptToks.isEmpty) snap.postings.filter(lit(false))
      else snap.postings.filter(
        col("tok_bkt").isin(keptBkts: _*) && col("tok").isin(keptToks: _*))
    val withDf = pruned.join(broadcast(dfRows.toDF("tok", "df")), Seq("tok"))
    scoreBm25(withDf, qt, snap.stats, n, k1, b)
  }

  /** Driver-side twin of [[tokBucket]] (same xxhash64 seed 42 + pmod),
    * used to map a collected token set to its bucket directories. */
  private def bucketOf(tok: String, nBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(tok),
      org.apache.spark.sql.types.StringType, 42L)
    val m = h % nBuckets
    (if (m < 0) m + nBuckets else m).toInt
  }

  /** Append documents to a published [[saveBm25Index]] snapshot,
    * publishing the NEXT snapshot at `newPath` — the lexical analog of
    * [[graft.index.VectorIndex.appendTo]], with an even better work
    * profile because postings are immutable per-document rows (no graph
    * to rebuild): EVERY existing posting file is kept verbatim
    * (hardlinked when both ends are local — zero bytes moved; byte copy
    * = the object-store server-side-copy fallback), the batch's new
    * posting files land in the same bucket directories beside them, and
    * only the VOCAB-SIZED df table + stats.json are recomputed (one
    * union + sum fold — df is additive) and republished. The df cap
    * re-evaluates against the grown corpus at load time, so the result
    * is EXACTLY the full rebuild over (base ∪ batch) — including tokens
    * whose cap membership flips (a token over the cap at the base size
    * can fall under it after an append dilutes its ratio; the split
    * layout kept its postings, so it simply starts scoring).
    *
    * The old snapshot is untouched and stays servable (immutable
    * generations — retire it when traffic drains).
    *
    * Crash/retry discipline: `stats.json` is written LAST and is the
    * completion marker ([[openBm25Index]] refuses a snapshot without
    * it). Because the batch's posting files land with save-mode
    * `append` beside the kept base files, a retry into a `newPath`
    * holding a crashed attempt's partial files would silently
    * double-count the batch — so a `newPath` with a completed snapshot
    * (stats.json present) is refused outright, and a partial one
    * (files but no stats.json) is deleted wholesale before the append
    * re-runs.
    *
    * @param validateIds when true (default), verifies no batch doc_id
    *   already exists in the base postings (a duplicate would
    *   double-count postings). One column-pruned scan of the base
    *   posting doc_ids against the broadcast batch id set — skippable
    *   when the caller guarantees fresh ids. */
  def appendBm25(spark: org.apache.spark.sql.SparkSession, oldPath: String,
      newDocs: DataFrame, newPath: String,
      validateIds: Boolean = true): Unit = {
    val batch = newDocs.select(col("doc_id").cast("long"), col("text"))
      .localCheckpoint(true) // pin: postings/df/stats must see ONE batch
    try {
      val (bn, bSum) = {
        val r = batch.select(size(TextFunctions.tokens(col("text"))).as("dl"))
          .agg(count(lit(1)), sum(col("dl")).cast("long")).head
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      appendBm25Pieces(spark, oldPath, newPath, rawPostings(batch), bn, bSum,
        batchIds = if (validateIds) batch.select(col("doc_id")) else null)
    } finally batch.unpersist()
  }

  /** The pieces-level core of [[appendBm25]]: append an already-derived
    * posting frame (plus its doc count / Σdl) onto a published base
    * snapshot, publishing the next generation at `newPath`. This is the
    * entry the STREAMED ingest uses ([[graft.streaming.StreamingOps
    * .streamBm25Ingest]]'s append-publish mode): the stream already
    * holds the window's folded postings, so re-tokenizing a docs frame
    * would be wasted work. The cap ratio and bucket count are inherited
    * from the BASE snapshot — generations in a chain must agree on both
    * or append-vs-rebuild equality breaks.
    *
    * @param batchIds distinct-able (doc_id) rows used for the
    *   base-clash check (a duplicate would double-count postings);
    *   null skips it. */
  private[graft] def appendBm25Pieces(spark: org.apache.spark.sql.SparkSession,
      oldPath: String, newPath: String, postings: DataFrame,
      bn: Long, bSum: Long, batchIds: DataFrame): Unit = {
    val old = openBm25Index(spark, oldPath)
    val hconf = spark.sessionState.newHadoopConf()
    graft.index.VectorIndex.requireDistinctPaths(hconf, oldPath, newPath,
      "appendBm25")
    require(bn > 0, "appendBm25 over an empty batch")
    // freshness: posting files are written with save-mode 'append', so a
    // stale newPath would double-count. A COMPLETED snapshot (stats.json
    // = the completion marker, written last) is never clobbered; a
    // partial one (crashed attempt) is wiped so the retry starts clean.
    locally {
      val dst = new org.apache.hadoop.fs.Path(newPath)
      val dstFs = dst.getFileSystem(hconf)
      if (dstFs.exists(new org.apache.hadoop.fs.Path(dst, "stats.json")))
        sys.error(s"appendBm25: $newPath already holds a completed " +
          "snapshot (stats.json present) — refusing to append into it; " +
          "pick a fresh generation path or retire it explicitly")
      if (dstFs.exists(dst)) {
        // wipe ONLY what a crashed append attempt could have left behind:
        // a directory holding anything outside the snapshot layout
        // (postings/, df/, stats.json, _/. markers) is some other data a
        // mispointed newPath would destroy — refuse, delete nothing
        val foreign = dstFs.listStatus(dst).map(_.getPath.getName).filterNot(n =>
          n == "postings" || n == "df" || n == "doc_ids" || n == "stats.json" ||
            n.startsWith("_") || n.startsWith("."))
        if (foreign.nonEmpty)
          sys.error(s"appendBm25: $newPath exists but does not look like a " +
            s"partial snapshot (foreign entries: ${foreign.sorted.mkString(", ")}) " +
            "— refusing to wipe it; point newPath at a fresh generation path")
        dstFs.delete(dst, true)
      }
    }
    // the base's distinct doc ids (O(n_docs) sidecar, or one pruned
    // posting scan for a pre-sidecar base) serve the clash check here and
    // the new generation's own sidecar below
    val baseIds = snapshotDocIds(spark, oldPath)
    if (batchIds != null) {
      val clash = graft.streaming.StreamingOps.timeLeg("bm25app.clash") {
        baseIds
          .join(broadcast(batchIds.distinct()), Seq("doc_id"), "left_semi")
          .limit(1).count() }
      require(clash == 0L,
        "appendBm25 batch contains doc_ids already present in the base " +
          "snapshot (postings would double-count)")
    }
    // 1) keep every base posting file: hardlink (or copy) into the new
    // snapshot's bucket directories — nothing in them changes
    graft.streaming.StreamingOps.timeLeg("bm25app.link") {
      graft.index.VectorIndex.linkOrCopyTree(hconf, s"$oldPath/postings", s"$newPath/postings") }
    // 2) the batch's posting files land beside them, same layout
    graft.streaming.StreamingOps.timeLeg("bm25app.write-postings") {
      writePostingFiles(postings, s"$newPath/postings", old.tokBuckets, "append") }
    // 3) vocab-sized df fold + republish (df is additive)
    val dfNew = old.df.select(col("tok"), col("df"))
      .unionByName(postings.groupBy(col("tok")).agg(count(lit(1)).as("df")))
      .groupBy(col("tok")).agg(sum(col("df")).as("df"))
    graft.streaming.StreamingOps.timeLeg("bm25app.write-df") { dfNew
      .select(col("tok"), col("df").cast("long"))
      .withColumn("tok_bkt", tokBucket(col("tok"), old.tokBuckets))
      .repartition(old.tokBuckets, col("tok_bkt"))
      .sortWithinPartitions(col("tok_bkt"), col("tok"))
      .write.mode("overwrite").partitionBy("tok_bkt").parquet(s"$newPath/df") }
    // carry the doc-id sidecar forward: base ids ∪ the delta's posting
    // ids — the sidecar's contract is exactly "ids present in this
    // snapshot's postings" (what the pre-sidecar scan-based check saw)
    graft.streaming.StreamingOps.timeLeg("bm25app.write-ids") {
      writeDocIds(spark,
        baseIds.unionByName(postings.select(col("doc_id").cast("long"))),
        newPath) }
    writeBm25Stats(spark, newPath, old.nDocs + bn, old.sumDl + bSum,
      old.tokBuckets, old.dfCapNum, old.dfCapDen)
  }

  /** Hybrid retrieval served ENTIRELY from published snapshots — the
    * deployment face of [[rrfFuse]]: load the vector-index snapshot
    * ([[graft.index.VectorIndex.save]]/buildTo) and the BM25 snapshot
    * ([[saveBm25Index]]), run the dense beam and the pruned lexical
    * serve from the loaded pair, and fuse. No leg rebuilds anything per
    * session: the 100 TB pattern is build-once per corpus snapshot,
    * serve-forever from both artifacts (the 10M-doc costs of each leg
    * are in SCALE.md; this composes the two loaded serves and the
    * q × n fusion join).
    *
    * @param queriesText (query_id, text) — the lexical leg's batch
    * @param queriesEmb (query_id, embedding) — the dense leg's batch
    * @param n per-leg ranking depth; k fused output depth
    */
  def serveFromSnapshots(spark: org.apache.spark.sql.SparkSession,
      vectorIndexPath: String, bm25IndexPath: String,
      queriesText: DataFrame, queriesEmb: DataFrame,
      n: Int, k: Int, searchWidth: Int): DataFrame = {
    // the CalibratedWidth sentinel: default to the snapshot's persisted
    // operating point (calibrateWidthTo), exact scan when never calibrated
    val sw =
      if (searchWidth == graft.index.VectorIndex.CalibratedWidth)
        graft.index.VectorIndex.readCalibration(spark, vectorIndexPath)
          .map(_.searchWidth).getOrElse(0)
      else searchWidth
    val vidx = graft.index.VectorIndex.load(spark, vectorIndexPath)
    if (isSplitSnapshot(spark, bm25IndexPath))
      serveFromLoaded(vidx, openBm25Index(spark, bm25IndexPath),
        queriesText, queriesEmb, n, k, sw)
    else {
      val (li, ls) = loadBm25Index(spark, bm25IndexPath)
      serveFromLoaded(vidx, li, ls, queriesText, queriesEmb, n, k, sw)
    }
  }

  /** [[serveFromLoaded]] over a split snapshot handle: the lexical leg
    * runs the two-phase df-then-postings pruned serve. */
  def serveFromLoaded(vidx: graft.index.VectorIndex, snap: Bm25Snapshot,
      queriesText: DataFrame, queriesEmb: DataFrame,
      n: Int, k: Int, searchWidth: Int): DataFrame = {
    val dense = vidx.query(queriesEmb, n, searchWidth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    rrfFuse(dense, bm25Serve(queriesText, snap, n), k)
  }

  /** [[serveFromSnapshots]] over ALREADY-LOADED handles — the long-lived
    * server's steady state: load both artifacts once, serve every batch
    * on the same pair (the vector handle's shard graphs stay resident
    * across batches; each fresh load would read them again). */
  def serveFromLoaded(vidx: graft.index.VectorIndex,
      lexIndex: DataFrame, lexStats: DataFrame,
      queriesText: DataFrame, queriesEmb: DataFrame,
      n: Int, k: Int, searchWidth: Int): DataFrame = {
    val dense = vidx.query(queriesEmb, n, searchWidth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val lex = bm25Serve(queriesText, lexIndex, lexStats, n)
    rrfFuse(dense, lex, k)
  }

  /** RRF fusion of two per-query rankings. Inputs carry
    * (query_id, doc_id, <rankCol>); docs absent from a leg contribute 0
    * to the fused score and surface with that leg's rank reported as 0
    * (sentinel — never a real rank, which is 1-based).
    *
    * @return (query_id, rank, doc_id, rrf, <denseRankCol>, <lexRankCol>)
    *         top `k` per query by (rrf desc, doc_id)
    */
  def rrfFuse(dense: DataFrame, lex: DataFrame, k: Int,
      denseRankCol: String = "dense_rank", lexRankCol: String = "lex_rank",
      c: Int = 60): DataFrame = {
    val d = dense.select(col("query_id"), col("doc_id"),
      col(denseRankCol).cast("int").as("rd"))
    val s = lex.select(col("query_id"), col("doc_id"),
      col(lexRankCol).cast("int").as("rs"))
    d.join(s, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("rd")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("rs")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf").desc, col("doc_id"))).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf"),
        coalesce(col("rd"), lit(0)).as(denseRankCol),
        coalesce(col("rs"), lit(0)).as(lexRankCol))
  }
}
