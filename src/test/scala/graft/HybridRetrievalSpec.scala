package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.HybridRetrieval

class HybridRetrievalSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  test("lexicalTopN ranks by shared distinct token count with id tie-break") {
    val q = Seq((100L, "alpha beta gamma")).toDF("query_id", "text")
    val c = Seq(
      (1L, "alpha beta gamma delta"), // 3 shared
      (2L, "alpha beta unrelated"),   // 2 shared
      (3L, "beta beta beta"),         // 1 shared (distinct tokens)
      (4L, "nothing here"))           // 0 shared -> absent
      .toDF("doc_id", "text")
    val r = HybridRetrieval.lexicalTopN(q, c, n = 10)
      .orderBy("lex_rank")
      .select("doc_id", "n_shared", "lex_rank")
      .as[(Long, Long, Int)].collect().toList
    assert(r === List((1L, 3L, 1), (2L, 2L, 2), (3L, 1L, 3)))
  }

  test("lexicalTopN ignores empty tokens and respects n") {
    val q = Seq((1L, "a  b")).toDF("query_id", "text") // double space -> empty token
    val c = Seq((10L, "a b"), (11L, "a"), (12L, "b")).toDF("doc_id", "text")
    val r = HybridRetrieval.lexicalTopN(q, c, n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(r === Set(10L, 11L)) // rank 3 (doc 12) cut by n=2
  }

  test("lexicalTopN maxTokenDf prunes high-df tokens before pair emission") {
    // 'stop' appears in EVERY corpus doc (the stopword failure class);
    // 'rare' in one. Cap df at 2 of 3 docs.
    val q = Seq((1L, "stop rare")).toDF("query_id", "text")
    val c = Seq(
      (10L, "stop rare x"), (11L, "stop y"), (12L, "stop z"))
      .toDF("doc_id", "text")
    val r = HybridRetrieval.lexicalTopN(q, c, n = 10, maxTokenDf = 2)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toList
    // 'stop' (df=3 > 2) must not reach the posting join: only doc 10
    // surfaces, via 'rare' alone — docs 11/12 share NOTHING after the cap
    assert(r === List((10L, 1L)))

    // plan shape: the capped leg removes hot tokens via a BROADCAST
    // anti-join (the corpus-size-independent hot set is the build side),
    // so the cap itself never adds a corpus-sized shuffle
    val plan = HybridRetrieval.lexicalTopN(q, c, n = 10, maxTokenDf = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected an anti-join in:\n$plan")
    assert(!HybridRetrieval.lexicalTopN(q, c, n = 10)
      .queryExecution.executedPlan.toString.contains("LeftAnti"),
      "uncapped leg must not pay the anti-join")
  }

  test("rrfFuse sums reciprocal ranks and reports 0 for a missing leg") {
    val dense = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "doc_id", "dense_rank")
    val lex = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "doc_id", "lex_rank")
    val r = HybridRetrieval.rrfFuse(dense, lex, k = 10)
      .orderBy("rank")
      .select("doc_id", "rrf", "dense_rank", "lex_rank")
      .as[(Long, Double, Int, Int)].collect().toList
    // doc 11: 1/62 + 1/61 = highest; doc 10: 1/61 dense only; doc 12: 1/62 lex only
    assert(r.map(_._1) === List(11L, 10L, 12L))
    assert(r(0)._2 === math.rint((1.0 / 62 + 1.0 / 61) * 1e6) / 1e6)
    assert(r(1) === ((10L, math.rint(1.0 / 61 * 1e6) / 1e6, 1, 0)))
    assert(r(2) === ((12L, math.rint(1.0 / 62 * 1e6) / 1e6, 0, 2)))
  }

  test("bm25TopN ranks by Okapi BM25 and the df cap drops stopword postings") {
    val q = Seq((1L, "apple banana")).toDF("query_id", "text")
    val c = Seq(
      (10L, "apple apple banana"), // both terms, tf(apple)=2
      (11L, "apple kiwi"),         // one shared term
      (12L, "kiwi melon"))         // no shared term -> absent
      .toDF("doc_id", "text")
    val r = HybridRetrieval.bm25TopN(q, c, n = 10)
      .orderBy("lex_rank")
      .select("doc_id", "lex_rank").as[(Long, Int)].collect().toList
    assert(r === List((10L, 1), (11L, 2)))
    // hand-check doc 11's single-term score: idf(apple)=ln(1+1.5/2.5),
    // tf=1, dl=2, avgdl=7/3 -> tf term = 2.5/(1+1.5*(0.25+0.75*6/7))
    val s11 = HybridRetrieval.bm25TopN(q, c, n = 10)
      .filter(col("doc_id") === 11L).select("bm25").as[Double].head()
    val expected = math.log(1.0 + 1.5 / 2.5) *
      (2.5 / (1.0 + 1.5 * (0.25 + 0.75 * (2.0 / (7.0 / 3.0)))))
    assert(math.abs(s11 - math.rint(expected * 1e6) / 1e6) < 1e-9)
    // df cap at 1: 'apple' (df=2) never reaches pair emission — doc 11
    // drops out entirely, doc 10 survives on 'banana' alone
    val capped = HybridRetrieval.bm25TopN(q, c, n = 10, maxTokenDf = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(capped === Set(10L))
  }

  private def v44Inputs = {
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val qd = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    val cd = docs.filter(col("doc_id") >= 10).select(col("doc_id"), col("text"))
    val qe = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    (qd, cd, qe)
  }

  private def v44Hybrid(searchWidth: Int): Set[(Long, Long)] = {
    val (qd, cd, qe) = v44Inputs
    val idx = Queries.cosineEmbIndex(spark, sfDir)
    val dense = idx.query(qe, k = 20, searchWidth = searchWidth)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val maxDf = cd.count() * 78L / 100L
    val lex = HybridRetrieval.lexicalTopN(qd, cd, n = 20, maxTokenDf = maxDf)
    HybridRetrieval.rrfFuse(dense, lex, k = 10)
      .select("query_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("index-served hybrid (v44) clears the fused-recall floor at realistic beam width") {
    // exhaustive width == the gated equality (v44's oracle is v42's SQL);
    // here the approximate regime the gate can't express: beam width 4.
    val exact = v44Hybrid(searchWidth = 4096)
    val ann = v44Hybrid(searchWidth = 4)
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"fused recall@10 = $recall < 0.9")
  }

  test("rrfFuse equal-score ties break by doc_id and k truncates") {
    // two docs with identical single-leg rank-1 scores in different queries
    val dense = Seq((1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3))
      .toDF("query_id", "doc_id", "dense_rank")
    val lex = Seq((1L, 21L, 1), (1L, 20L, 2), (1L, 23L, 3))
      .toDF("query_id", "doc_id", "lex_rank")
    val top2 = HybridRetrieval.rrfFuse(dense, lex, k = 2)
      .orderBy("rank").select("doc_id").as[Long].collect().toList
    // 20 and 21 both score 1/61 + 1/62; tie -> lower doc_id first
    assert(top2 === List(20L, 21L))
  }

  test("bm25Serve over any query split unions to bm25TopN (the s19 invariance)") {
    val c = Seq(
      (10L, "alpha beta gamma delta"), (11L, "alpha beta epsilon"),
      (12L, "gamma gamma delta"), (13L, "zeta eta theta"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "alpha gamma"), (2L, "beta"), (3L, "theta delta"))
      .toDF("query_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "bm25", "lex_rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val whole = key(HybridRetrieval.bm25TopN(q, c, n = 3))
    val (index, stats) = HybridRetrieval.bm25Index(c)
    val split = Seq(
      q.filter(col("query_id") === 1), q.filter(col("query_id") > 1))
      .map(b => key(HybridRetrieval.bm25Serve(b, index, stats, n = 3)))
      .reduce(_ ++ _)
    assert(split === whole)
  }

  test("bm25 index save/load round-trips to a bit-identical serve (v55)") {
    val c = Seq(
      (10L, "alpha beta gamma delta"), (11L, "alpha beta epsilon"),
      (12L, "gamma gamma delta"), (13L, "zeta eta theta"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "alpha gamma"), (2L, "beta"), (3L, "theta delta"))
      .toDF("query_id", "text")
    // in-session reference: absolute cap 3 == the ratio 3/4 at n_docs=4
    val (index, stats) = HybridRetrieval.bm25Index(c, maxTokenDf = 3)
    val (p, d, st) = HybridRetrieval.bm25SnapshotPieces(c)
    withTempDir("graft_bm25_t_") { dir =>
      HybridRetrieval.saveBm25Index(p, d, st, dir, dfCapNum = 3L, dfCapDen = 4L)
      val (li, lstats) = HybridRetrieval.loadBm25Index(spark, dir)
      // stats survive exactly (sum_dl is an exact long; avgdl = Σdl/n
      // reproduces the batch avg-over-int double bit-for-bit)
      val (b, l) = (stats.head, lstats.head)
      assert(l.getLong(0) === b.getLong(0))
      assert(l.getDouble(1) === b.getDouble(1), "avgdl must round-trip bit-exactly")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val reference = key(HybridRetrieval.bm25Serve(q, index, stats, n = 3))
      // both loaded serve flavors — the joined view AND the two-phase
      // split-snapshot path — must reproduce the in-session serve exactly
      assert(key(HybridRetrieval.bm25Serve(q, li, lstats, n = 3)) === reference)
      val snap = HybridRetrieval.openBm25Index(spark, dir)
      assert(key(HybridRetrieval.bm25Serve(q, snap, n = 3)) === reference)
      // the split snapshot stores ALL raw postings (appendability) — the
      // cap is applied by the serve, not the storage (the append spec pins
      // the over-cap retention/resurrection case explicitly)
      assert(snap.maxDf === 3L)
      assert(snap.postings.count() === p.count())
    }
  }

  test("appendBm25 == full rebuild, including a cap-boundary token") {
    // 'hot' appears in ALL 5 base docs (df 5 > cap 3 = 5*78/100 at the
    // base size) but in none of the 3 appended docs: at the final size
    // maxDf = 8*78/100 = 6 >= 5, so the append must RESURRECT hot's
    // scoring — the non-monotone cap case only an uncapped posting
    // store can serve exactly.
    val base = Seq(
      (10L, "hot alpha beta"), (11L, "hot beta gamma"), (12L, "hot gamma delta"),
      (13L, "hot delta epsilon"), (14L, "hot epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (20L, "alpha omega"), (21L, "omega beta"), (22L, "theta iota"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "hot omega"), (2L, "beta delta"), (3L, "theta"))
      .toDF("query_id", "text")
    withTempDir("graft_bm25_app_t_") { root =>
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/base",
        tokBuckets = 8, dfCapNum = 78L, dfCapDen = 100L)
      // sanity: at the base size 'hot' is over the cap and must not score
      val baseSnap = HybridRetrieval.openBm25Index(spark, s"$root/base")
      assert(HybridRetrieval.bm25Serve(q, baseSnap, n = 10)
        .filter($"query_id" === 1L).count() === 0L)
      HybridRetrieval.appendBm25(spark, s"$root/base", batch, s"$root/next")
      // full rebuild over base ∪ batch — the ground truth
      val full = base.unionByName(batch)
      val (pf, df_, sf) = HybridRetrieval.bm25SnapshotPieces(full)
      HybridRetrieval.saveBm25Index(pf, df_, sf, s"$root/full",
        tokBuckets = 8, dfCapNum = 78L, dfCapDen = 100L)
      def key(path: String) = HybridRetrieval.bm25Serve(
        q, HybridRetrieval.openBm25Index(spark, path), n = 10)
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val appended = key(s"$root/next")
      assert(appended === key(s"$root/full"),
        "appended snapshot must serve exactly the full rebuild")
      // the resurrected cap-boundary token scores for query 1 now
      assert(appended.exists(_._1 == 1L))
      // kept posting files are hardlinked (zero bytes moved): every
      // base posting file's inode appears in the next snapshot
      import scala.jdk.CollectionConverters._
      def inodes(p: String) = java.nio.file.Files
        .walk(java.nio.file.Paths.get(p)).iterator().asScala
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.toString.endsWith(".parquet"))
        .map(f => java.nio.file.Files.getAttribute(f, "unix:ino")).toSet
      assert(inodes(s"$root/base/postings")
        .subsetOf(inodes(s"$root/next/postings")),
        "base posting files must be hardlinked into the appended snapshot")
      // validateIds: a duplicate doc_id must be rejected
      val dup = intercept[IllegalArgumentException] {
        HybridRetrieval.appendBm25(spark, s"$root/base",
          Seq((10L, "dup text")).toDF("doc_id", "text"), s"$root/bad")
      }
      assert(dup.getMessage.contains("already present"))
    }
  }

  test("appendBm25 chains: generation -> generation -> generation == one rebuild") {
    val base = Seq((10L, "alpha beta"), (11L, "beta gamma")).toDF("doc_id", "text")
    val b1 = Seq((20L, "gamma delta"), (21L, "delta epsilon")).toDF("doc_id", "text")
    val b2 = Seq((30L, "epsilon zeta alpha")).toDF("doc_id", "text")
    val q = Seq((1L, "alpha delta"), (2L, "zeta beta")).toDF("query_id", "text")
    withTempDir("graft_bm25_chain_") { root =>
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/g0",
        tokBuckets = 4, dfCapNum = 78L, dfCapDen = 100L)
      HybridRetrieval.appendBm25(spark, s"$root/g0", b1, s"$root/g1")
      HybridRetrieval.appendBm25(spark, s"$root/g1", b2, s"$root/g2")
      val full = base.unionByName(b1).unionByName(b2)
      val (pf, df_, sf) = HybridRetrieval.bm25SnapshotPieces(full)
      HybridRetrieval.saveBm25Index(pf, df_, sf, s"$root/full",
        tokBuckets = 4, dfCapNum = 78L, dfCapDen = 100L)
      def key(path: String) = HybridRetrieval.bm25Serve(
        q, HybridRetrieval.openBm25Index(spark, path), n = 10)
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(key(s"$root/g2") === key(s"$root/full"))
      // stats accumulated exactly across the chain
      val g2 = HybridRetrieval.openBm25Index(spark, s"$root/g2")
      assert(g2.nDocs === 5L)
      // every EARLIER generation stays servable (immutable snapshots)
      assert(key(s"$root/g1").nonEmpty && key(s"$root/g0").nonEmpty)
    }
  }

  test("retiring a bm25 base generation: delete is safe, freed vs shared bytes enumerated") {
    // the AppendToSpec retirement contract applied to the lexical chain:
    // appendBm25 hardlinks every base POSTING file into the next
    // generation (nlink > 1 — survives the base delete) while the base's
    // df table + stats stay old-exclusive (nlink == 1 — the delete frees
    // them); retiring the base must leave the appended generation
    // servable bit-identically through a fresh open.
    val base = Seq(
      (10L, "alpha beta gamma"), (11L, "beta gamma delta"),
      (12L, "gamma delta epsilon"), (13L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val batch = Seq((20L, "alpha omega"), (21L, "omega zeta"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "alpha delta"), (2L, "omega gamma")).toDF("query_id", "text")
    withTempDir("graft_bm25_ret_") { root =>
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/g0",
        tokBuckets = 4, dfCapNum = 78L, dfCapDen = 100L)
      HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g1")
      def key(path: String) = HybridRetrieval.bm25Serve(
        q, HybridRetrieval.openBm25Index(spark, path), n = 10)
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val before = key(s"$root/g1")
      assert(before.nonEmpty)

      // retirement accounting BEFORE the delete: bytes the delete FREES
      // (old-exclusive files, nlink == 1: the df table + stats) vs bytes
      // merely UNSHARED (posting files hardlinked into g1, nlink > 1 —
      // the inode survives the delete)
      import scala.jdk.CollectionConverters._
      def files(d: String) = java.nio.file.Files
        .walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".parquet")).toSeq
      val (shared, freed) = files(s"$root/g0").partition(p =>
        java.nio.file.Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] > 1)
      assert(shared.nonEmpty, "premise: base posting files must be shared into g1")
      assert(freed.nonEmpty, "premise: the base df table must be old-exclusive")
      assert(shared.forall(_.toString.contains("/postings/")),
        "only posting files are hardlink-shared across generations")
      assert(freed.forall(p =>
        p.toString.contains("/df/") || p.toString.contains("/doc_ids/")),
        "the vocab-sized df table and the doc-id sidecar are rewritten " +
          "per generation, never shared")
      val sharedBytes = shared.map(java.nio.file.Files.size).sum
      val freedBytes = freed.map(java.nio.file.Files.size).sum
      assert(sharedBytes > 0 && freedBytes > 0)

      // DELETE the base generation wholesale and re-serve g1 through a
      // fresh open — every posting byte must come off the surviving
      // hardlinked inodes, bit-identically
      graft.streaming.StreamingOps.deleteRecursively(s"$root/g0")
      assert(key(s"$root/g1") === before,
        "retiring the base generation corrupted the appended snapshot")
    }
  }

  test("doc_ids sidecar (r21): O(n_docs) clash check, carried through appends, posting-scan fallback") {
    val base = Seq(
      (10L, "alpha beta gamma"), (11L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val batch = Seq((20L, "alpha omega"), (21L, "omega zeta"))
      .toDF("doc_id", "text")
    withTempDir("graft_bm25_ids_") { root =>
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/g0",
        tokBuckets = 4, dfCapNum = 78L, dfCapDen = 100L)
      def ids(path: String) = spark.read.parquet(s"$path/doc_ids")
        .as[Long].collect().toSet
      // the sidecar holds exactly the snapshot's distinct posting doc ids
      assert(ids(s"$root/g0") === Set(10L, 11L))
      // clash via the sidecar: re-appending a base id must still fail
      val clash = intercept[Exception] {
        HybridRetrieval.appendBm25(spark, s"$root/g0",
          Seq((10L, "alpha again")).toDF("doc_id", "text"), s"$root/bad")
      }
      assert(clash.getMessage.contains("double-count"))
      // append carries the union forward
      HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g1")
      assert(ids(s"$root/g1") === Set(10L, 11L, 20L, 21L))
      // pre-sidecar base (sidecar deleted): fallback posting scan keeps
      // both the clash check and the appended generation identical
      graft.streaming.StreamingOps.deleteRecursively(s"$root/g0/doc_ids")
      val clash2 = intercept[Exception] {
        HybridRetrieval.appendBm25(spark, s"$root/g0",
          Seq((11L, "beta again")).toDF("doc_id", "text"), s"$root/bad2")
      }
      assert(clash2.getMessage.contains("double-count"))
      HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g2")
      assert(ids(s"$root/g2") === Set(10L, 11L, 20L, 21L))
      val q = Seq((1L, "alpha omega")).toDF("query_id", "text")
      def serve(path: String) = HybridRetrieval.bm25Serve(
        q, HybridRetrieval.openBm25Index(spark, path), n = 10)
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(serve(s"$root/g1") === serve(s"$root/g2"),
        "sidecar and fallback appends must serve bit-identically")
    }
  }

  test("appendBm25 freshness: completed target refused, partial target wiped") {
    val base = Seq((10L, "alpha beta"), (11L, "beta gamma")).toDF("doc_id", "text")
    val batch = Seq((20L, "gamma delta")).toDF("doc_id", "text")
    val q = Seq((1L, "alpha gamma delta")).toDF("query_id", "text")
    withTempDir("graft_bm25_fresh_") { root =>
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/g0",
        tokBuckets = 4, dfCapNum = 78L, dfCapDen = 100L)
      HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g1")
      def key(path: String) = HybridRetrieval.bm25Serve(
        q, HybridRetrieval.openBm25Index(spark, path), n = 10)
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      val clean = key(s"$root/g1")
      // a COMPLETED snapshot (stats.json present) is never clobbered
      val err = intercept[RuntimeException] {
        HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g1")
      }
      assert(err.getMessage.contains("completed"))
      assert(key(s"$root/g1") === clean, "the refused retry must not touch g1")
      // a PARTIAL target (posting files, no stats.json — a crashed
      // attempt) is wiped so the retry cannot double-count the batch
      val partial = new java.io.File(s"$root/g2/postings/tok_bkt=0")
      partial.mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/g2/postings/tok_bkt=0/part-junk.parquet"),
        Array[Byte](1, 2, 3))
      HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g2")
      assert(key(s"$root/g2") === clean,
        "retry into a partial target must equal the clean append")
      // a target holding anything OUTSIDE the snapshot layout is not a
      // crashed attempt — a mispointed newPath must be refused with
      // nothing deleted, not wiped wholesale
      val foreignDir = new java.io.File(s"$root/g3/precious")
      foreignDir.mkdirs()
      val foreignFile = java.nio.file.Paths.get(s"$root/g3/precious/data.bin")
      java.nio.file.Files.write(foreignFile, Array[Byte](9, 9, 9))
      val err2 = intercept[RuntimeException] {
        HybridRetrieval.appendBm25(spark, s"$root/g0", batch, s"$root/g3")
      }
      assert(err2.getMessage.contains("foreign"))
      assert(java.nio.file.Files.exists(foreignFile) &&
        java.nio.file.Files.readAllBytes(foreignFile).sameElements(
          Array[Byte](9, 9, 9)),
        "a refused wipe must leave the mispointed directory untouched")
    }
  }

  test("snapshot serve above maxPushTokens falls back to the joined view, same results") {
    val c = Seq((10L, "alpha beta gamma"), (11L, "beta delta"), (12L, "gamma epsilon"))
      .toDF("doc_id", "text")
    val q = Seq((1L, "alpha gamma"), (2L, "delta epsilon beta")).toDF("query_id", "text")
    val (p, d, st) = HybridRetrieval.bm25SnapshotPieces(c)
    withTempDir("graft_bm25_fb_") { dir =>
      HybridRetrieval.saveBm25Index(p, d, st, dir, tokBuckets = 4)
      val snap = HybridRetrieval.openBm25Index(spark, dir)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      // maxPushTokens = 1 forces the whole-vocab degenerate branch (the
      // distributed joined view, no pushdown) — results must be identical
      val pushed = key(HybridRetrieval.bm25Serve(q, snap, 10, 1.5, 0.75, 10000))
      val fallback = key(HybridRetrieval.bm25Serve(q, snap, 10, 1.5, 0.75, 1))
      assert(pushed === fallback)
      assert(pushed.nonEmpty)
    }
  }

  test("two-phase snapshot serve never scans an over-cap token's postings") {
    // corpus where 'the' is a stopword (df 6 of 6 docs > cap 4): a query
    // containing it must not pull its posting rows through the posting
    // scan — the df probe kills the token before the posting predicate
    // set is built. Asserted on the PLAN: the pushed In(tok, ...) on the
    // postings relation must not contain 'the'.
    val c = (0L until 6L).map(i => (i + 10L, s"the w$i common"))
      .toDF("doc_id", "text")
    val (p, d, st) = HybridRetrieval.bm25SnapshotPieces(c)
    withTempDir("graft_bm25_2p_") { dir =>
      HybridRetrieval.saveBm25Index(p, d, st, dir,
        tokBuckets = 8, dfCapNum = 78L, dfCapDen = 100L)
      val snap = HybridRetrieval.openBm25Index(spark, dir)
      val q = Seq((1L, "the w2")).toDF("query_id", "text")
      val serve = HybridRetrieval.bm25Serve(q, snap, n = 5)
      val plan = serve.queryExecution.executedPlan.toString
      // a single surviving token pushes as EqualTo, several as In
      val pushed = "(?:In|EqualTo)\\(tok,? ?([^)]*)\\)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(pushed.nonEmpty, s"no tok predicate pushed:\n${plan.take(2000)}")
      assert(!pushed.exists(_.contains("the")),
        s"over-cap token leaked into a pushed posting predicate: $pushed")
      // and the ranking still scores w2 normally ('common' df 6 is also
      // over cap; only w2 survives)
      val rows = serve.select("query_id", "doc_id").as[(Long, Long)].collect()
      assert(rows.toSet === Set((1L, 12L)))
    }
  }

  test("streaming BM25 ingest equals the batch build for any batching (s26)") {
    val docs = Tables.documents(spark, sfDir)
    val qd = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    val cd = docs.filter(col("doc_id") >= 10).select(col("doc_id"), col("text"))
    val maxDf = cd.count() * 78L / 100L
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "doc_id", "bm25", "lex_rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val batch = key(HybridRetrieval.bm25TopN(qd, cd, n = 20, maxTokenDf = maxDf))
    for (slices <- Seq(1, 4)) {
      val streamed = key(graft.streaming.StreamingOps.streamBm25Ingest(
        spark, s"$sfDir/documents.parquet", corpusPred = col("doc_id") >= 10,
        queries = qd, n = 20, sourceSlices = slices, statePartitions = 4))
      assert(streamed === batch, s"slices=$slices")
    }
  }

  test("STREAMED append-publish chains: two windows over a base == one full rebuild") {
    // the long-lived-ingest story: base g0 (batch-built), then TWO
    // successive STREAMED windows, each published as the next generation
    // via streamBm25Ingest(appendBasePath) — g0 -> g1 -> g2, cap ratio
    // and bucket count inherited throughout. The serve from the LOADED
    // g2 must equal the batch build over base ∪ window1 ∪ window2 (the
    // same full-corpus closed-form oracle that gates one batch append,
    // v61, and one streamed window, v63 — extended to a streamed CHAIN)
    val docs = Tables.documents(spark, sfDir)
    val qd = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("text"))
    withTempDir("graft_bm25_schain_") { root =>
      val base = docs.filter(col("doc_id") >= 10 && col("doc_id") < 40)
        .select(col("doc_id"), col("text"))
      val (p0, d0, s0) = HybridRetrieval.bm25SnapshotPieces(base)
      HybridRetrieval.saveBm25Index(p0, d0, s0, s"$root/g0",
        tokBuckets = 8, dfCapNum = 78L, dfCapDen = 100L)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "doc_id", "bm25", "lex_rank")
        .as[(Long, Long, Double, Int)].collect().toSet
      graft.streaming.StreamingOps.streamBm25Ingest(
        spark, s"$sfDir/documents.parquet",
        corpusPred = col("doc_id") >= 40 && col("doc_id") < 70,
        queries = qd, n = 20, sourceSlices = 2, statePartitions = 4,
        publishPath = s"$root/g1", appendBasePath = s"$root/g0")
      val servedG2 = key(graft.streaming.StreamingOps.streamBm25Ingest(
        spark, s"$sfDir/documents.parquet",
        corpusPred = col("doc_id") >= 70,
        queries = qd, n = 20, sourceSlices = 2, statePartitions = 4,
        publishPath = s"$root/g2", appendBasePath = s"$root/g1"))
      val full = docs.filter(col("doc_id") >= 10).select(col("doc_id"), col("text"))
      val maxDf = full.count() * 78L / 100L
      val rebuild = key(HybridRetrieval.bm25TopN(qd, full, n = 20,
        maxTokenDf = maxDf))
      assert(servedG2 === rebuild,
        "two streamed generations must equal the one-shot rebuild")
      // a fresh OPEN of g2 (no stream state in scope) serves identically,
      // and every generation remains a complete snapshot on its own
      assert(key(HybridRetrieval.bm25Serve(qd,
        HybridRetrieval.openBm25Index(spark, s"$root/g2"), n = 20)) === rebuild)
      // chained hardlink accounting: g0's posting files survive into g2
      // through g1 (nlink >= 3 for base posting inodes)
      val basePostings = java.nio.file.Files.walk(
          java.nio.file.Paths.get(s"$root/g0/postings")).iterator()
      var sharedTwice = 0
      basePostings.forEachRemaining { p =>
        if (java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith(".") &&
            java.nio.file.Files.getAttribute(p, "unix:nlink")
              .asInstanceOf[Int] >= 3) sharedTwice += 1
      }
      assert(sharedTwice > 0,
        "base posting inodes must be hardlink-shared through BOTH generations")
    }
  }

  test("s26 per-batch ingest work stays flat as the accumulated vocab grows") {
    // corpus with linearly-GROWING vocabulary (8 unique tokens per doc):
    // after batch k the accumulated vocab is ~8×docs-so-far, while each
    // equal micro-batch contributes a constant ~8×batch-docs tokens. A
    // per-batch fold over accumulated state (the pre-r16 dfAcc
    // full-outer re-materialization) makes batch k's shuffle grow ~k;
    // generational df frames keep it flat — measured here as per-batch
    // shuffle-write records via a SparkListener + the onBatchEnd hook.
    val nd = 1600
    val docs = spark.range(nd).selectExpr("id AS doc_id",
      "concat('common alpha ', concat_ws(' ', transform(sequence(0, 7), " +
        "j -> concat('w', CAST(id * 8 + j AS STRING))))) AS text")
    withTempDir("graft_bm25_grow_") { dir =>
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val qd = Seq((0L, "common w3 w111")).toDF("query_id", "text")
      val recs = new java.util.concurrent.atomic.LongAdder
      @volatile var perBatch = Vector.empty[Long]
      @volatile var seen = 0L
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          recs.add(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      val pinned0 = spark.sparkContext.getPersistentRDDs.size
      try {
        val served = graft.streaming.StreamingOps.streamBm25Ingest(
          spark, s"$dir/documents.parquet", corpusPred = lit(true),
          queries = qd, n = 5, sourceSlices = 16, statePartitions = 4,
          onBatchEnd = _ => {
            // drain the async listener bus first: late task-end events
            // would otherwise shift records into the next batch's bucket
            org.apache.spark.sql.graft.GraftSqlBridge.drainListenerBus(spark)
            val s = recs.sum; perBatch = perBatch :+ (s - seen); seen = s
          })
        // 'common'/'alpha' (df 1600) exceed the 78% cap; w3 hits doc 0,
        // w111 hits doc 13 ⇒ exactly two ranked rows
        assert(served.count() === 2L)
        assert(perBatch.length === 16, s"expected 16 batches, got $perBatch")
        // BOUNDED accumulated state: ingest appends to two directories,
        // so the served plan holds NO per-batch union (the pre-r17
        // generational frames planned one union child per micro-batch)
        // and pins no per-batch frames in executor storage
        assert(!served.queryExecution.analyzed.toString.contains("Union"),
          "ingest state must fold to flat scans, not a per-batch union")
        // delta, not absolute: the suite's shared session carries other
        // tests' caches, and sbt runs OTHER suites concurrently on the
        // same session (their serves pin query-token frames mid-window —
        // measured up to +8 of cross-suite noise). The leak class this
        // gates is ONE PINNED FRAME PAIR PER MICRO-BATCH (= +32 for 16
        // batches, the pre-r16 generational-frame regression), so the
        // bound sits well under that while tolerating the noise
        val pinned = spark.sparkContext.getPersistentRDDs.size - pinned0
        assert(pinned <= 12,
          s"ingest leaked per-batch pinned frames: +$pinned persistent RDDs " +
            "(a per-batch leak would add ~2 per micro-batch = +32)")
        // flat per-batch work: the tail batches (vocab ~8×1500 by then)
        // must not shuffle more than the early ones (vocab ~8×200)
        val early = perBatch.slice(1, 5).sum / 4.0
        val late = perBatch.slice(12, 16).sum / 4.0
        assert(late <= 1.75 * early,
          s"per-batch shuffle grows with accumulated vocab: $perBatch")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("shared BM25 base snapshot (r20): one publish per session, read-only under append") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val p1 = PipelineQueries.bm25BaseNe0(spark, sfDir)
    assert(p1 == PipelineQueries.bm25BaseNe0(spark, sfDir),
      "second call must reuse the session-shared publish, not re-build")
    def state(dir: String) = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .map(p => (p.toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis))
      .toList.sortBy(_._1)
    val before = state(p1)
    assert(before.nonEmpty, "shared base must hold a published snapshot")
    // the consumer gates (v61/v63/v66) append FROM the shared base; the
    // base dir must stay byte-identical (appendBm25 hardlinks its files
    // into the next generation and never writes into the source)
    val batch = Tables.documents(spark, sfDir)
      .filter(col("doc_id") >= 10 && col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text"))
    withTempDir("graft_shared_base_next_") { next =>
      HybridRetrieval.appendBm25(spark, p1, batch, s"$next/g1")
      assert(state(p1) == before,
        "append must leave the session-shared base untouched")
    }
  }

  test("v52 quality report: hybrid recall >= max(dense-only, lex-only), sf-independent") {
    val rows = Queries.v52RetrievalQuality(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === Set("dense", "hybrid", "lex"))
    assert(rows("hybrid") >= math.max(rows("dense"), rows("lex")),
      s"hybrid ${rows("hybrid")} < max(dense ${rows("dense")}, lex ${rows("lex")})")
    // the multi-aspect gold makes each single leg structurally partial:
    // neither may reach the fused hit count on this testdata
    assert(rows("hybrid") > rows("dense") && rows("hybrid") > rows("lex"))
  }

  test("stats.json bytes of the earlier string writer read to the same values; v1 still detected") {
    val c = Seq((10L, "alpha beta gamma delta"), (11L, "alpha beta epsilon"),
      (12L, "gamma gamma delta")).toDF("doc_id", "text")
    val (p, d, st) = HybridRetrieval.bm25SnapshotPieces(c)
    withTempDir("graft_bm25_fix_") { dir =>
      HybridRetrieval.saveBm25Index(p, d, st, dir, dfCapNum = 3L, dfCapDen = 4L)
      val fresh = HybridRetrieval.openBm25Index(spark, dir)
      // verbatim output of the pre-codec writer for the same snapshot
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/stats.json",
        """{"n_docs":3,"sum_dl":10,"avgdl":3.3333333333333335,"tok_buckets":64,"df_cap_num":3,"df_cap_den":4}""")
      val snap = HybridRetrieval.openBm25Index(spark, dir)
      assert((snap.nDocs, snap.sumDl, snap.tokBuckets, snap.maxDf,
        snap.dfCapNum, snap.dfCapDen) === (3L, 10L, 64, 2L, 3L, 4L))
      assert((fresh.nDocs, fresh.sumDl, fresh.tokBuckets, fresh.maxDf,
        fresh.dfCapNum, fresh.dfCapDen) === (3L, 10L, 64, 2L, 3L, 4L))
      assert(HybridRetrieval.isSplitSnapshot(spark, dir))
      // a pre-split (v1) stats.json: no sum_dl, optional tok_buckets
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/stats.json",
        """{"n_docs":3,"avgdl":3.3333333333333335}""")
      assert(!HybridRetrieval.isSplitSnapshot(spark, dir))
      val e = intercept[RuntimeException](HybridRetrieval.openBm25Index(spark, dir))
      assert(e.getMessage.contains("pre-split (v1)"))
      val (_, v1Stats) = HybridRetrieval.loadBm25Index(spark, dir)
      assert(v1Stats.as[(Long, Double, Int)].collect().toSeq ===
        Seq((3L, 3.3333333333333335, 0)))
      // a truncated stats.json names the file
      graft.index.VectorIndex.writeSmallFile(spark, s"$dir/stats.json",
        """{"n_docs":3,"sum_""")
      val t = intercept[IllegalArgumentException](
        HybridRetrieval.loadBm25Index(spark, dir))
      assert(t.getMessage.contains(s"$dir/stats.json"))
    }
  }
}
