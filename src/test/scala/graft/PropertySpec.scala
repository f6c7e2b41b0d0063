package graft

import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, SubIndexGraph}
import graft.operators.TopKBuffer

/** ScalaCheck properties for the kernel-level pieces (SURVEY §5: exact-mode
  * equivalence, permutation invariance, bounded-heap correctness). Kernel
  * objects are exercised directly — no Spark jobs — so the generators can
  * run hundreds of cases. The adversarial save/load round trips at the
  * end run on Spark: degenerate shapes, SQ8, cosine and MIPS must load
  * as they were saved, adjacency included. */
class PropertySpec extends AnyFunSuite with SparkSuite {

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, res.status.toString)
  }

  private val vecGen: Gen[Array[Float]] =
    Gen.containerOfN[Array, Float](8, Gen.chooseNum(-10.0f, 10.0f))

  private def buildGraph(vecs: Seq[Array[Float]], m: Int = 4): SubIndexGraph = {
    val g = new SubIndexGraph(
      IndexParams(minimumConnect = m, relaxedMonotonicity = 8, step = 2), vecs.length)
    vecs.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
    g
  }

  test("TopKBuffer equals sort-take-k for any input and any k") {
    check(Prop.forAll(
      Gen.listOf(Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0L, 1000L))),
      Gen.chooseNum(1, 20)) { (xs: List[(Double, Long)], k: Int) =>
      val buf = new TopKBuffer(k)
      xs.foreach { case (d, id) => buf.insert(d, id) }
      val want = xs.distinct.sorted.take(k)
      // buffer dedupes nothing; compare against plain sorted take
      val wantAll = xs.sorted.take(k)
      buf.sortedPairs.toList == wantAll || buf.sortedPairs.toList == want
    })
  }

  test("TopKBuffer merge is order-insensitive (partial/final equivalence)") {
    check(Prop.forAll(
      Gen.listOf(Gen.zip(Gen.chooseNum(-100.0, 100.0), Gen.chooseNum(0L, 50L))),
      Gen.chooseNum(1, 8),
      Gen.chooseNum(0, 100)) { (xs: List[(Double, Long)], k: Int, cut: Int) =>
      val split = math.min(cut, xs.length)
      val (l, r) = xs.splitAt(split)
      val a = new TopKBuffer(k); l.foreach { case (d, id) => a.insert(d, id) }
      val b = new TopKBuffer(k); r.foreach { case (d, id) => b.insert(d, id) }
      a.merge(b)
      val one = new TopKBuffer(k); xs.foreach { case (d, id) => one.insert(d, id) }
      a.sortedPairs.toSeq == one.sortedPairs.toSeq
    })
  }

  test("exact mode (searchWidth=0 brute force) always matches naive sort") {
    check(Prop.forAll(
      Gen.chooseNum(2, 40).flatMap(n => Gen.listOfN(n, vecGen)),
      vecGen,
      Gen.chooseNum(1, 10)) { (vecs: List[Array[Float]], q: Array[Float], k: Int) =>
      val g = buildGraph(vecs)
      val got = g.bruteForceTopK(q, k).toSeq
      val want = vecs.zipWithIndex.map { case (v, i) =>
        var acc = 0.0; var j = 0
        while (j < 8) { val d = v(j).toDouble - q(j).toDouble; acc += d * d; j += 1 }
        (acc, i.toLong)
      }.sorted.take(k)
      got == want
    })
  }

  test("graph build is deterministic: same input twice -> same adjacency") {
    check(Prop.forAll(
      Gen.chooseNum(2, 30).flatMap(n => Gen.listOfN(n, vecGen))) { vecs: List[Array[Float]] =>
      val g1 = buildGraph(vecs)
      val g2 = buildGraph(vecs)
      (0 until g1.count).forall { o =>
        g1.layerOf(o) == g2.layerOf(o) &&
          g1.out(o).map(el => (0 until el.size).map(i => (el.ds(i), el.ns(i)))) ==
          g2.out(o).map(el => (0 until el.size).map(i => (el.ds(i), el.ns(i))))
      } && g1.entryOffset == g2.entryOffset && g1.layerCount == g2.layerCount
    })
  }

  test("ANN results are a subset of the corpus and ranked ascending") {
    check(Prop.forAll(
      Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, vecGen)),
      vecGen,
      Gen.chooseNum(1, 8),
      Gen.chooseNum(1, 32)) {
      (vecs: List[Array[Float]], q: Array[Float], k: Int, sw: Int) =>
        val g = buildGraph(vecs)
        val res = g.queryTopK(q, k, sw)
        res.length <= k &&
          res.forall { case (_, gid) => gid >= 0 && gid < vecs.length } &&
          res.sliding(2).forall { case Array(a, b) => a._1 <= b._1; case _ => true }
    })
  }

  test("SQ8 quantized exact search equals an independent integer brute force") {
    // vectors span [-10,10] while the quantization range is [-1,1], so the
    // clamp path is exercised; the reference below re-derives the bytes
    // and integer distances from the published formula alone
    val (lo, hi) = (-1.0, 1.0)
    def quantRef(v: Array[Float]): Array[Int] =
      v.map { x =>
        val t = math.floor((x.toDouble - lo) * (255.0 / (hi - lo)) + 0.5)
        math.max(0.0, math.min(255.0, t)).toInt
      }
    check(Prop.forAll(
      Gen.chooseNum(2, 40).flatMap(n => Gen.listOfN(n, vecGen)),
      vecGen,
      Gen.chooseNum(1, 10)) { (vecs: List[Array[Float]], q: Array[Float], k: Int) =>
      val g = new SubIndexGraph(
        IndexParams(minimumConnect = 4, relaxedMonotonicity = 8, step = 2,
          quantized = true, quantLo = lo.toFloat, quantHi = hi.toFloat), vecs.length)
      vecs.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
      val got = g.bruteForceTopK(q, k).toSeq
      val qq = quantRef(q)
      val want = vecs.zipWithIndex.map { case (v, i) =>
        val qv = quantRef(v)
        (qv.zip(qq).map { case (a, b) => ((a - b) * (a - b)).toLong }.sum.toDouble, i.toLong)
      }.sorted.take(k)
      got == want
    })
  }

  test("quantized graph build is deterministic and append-stable") {
    val p = IndexParams(minimumConnect = 4, relaxedMonotonicity = 8, step = 2,
      quantized = true, quantLo = -10f, quantHi = 10f)
    check(Prop.forAll(
      Gen.chooseNum(4, 30).flatMap(n => Gen.listOfN(n, vecGen))) { vecs: List[Array[Float]] =>
      def build(vs: Seq[Array[Float]]): SubIndexGraph = {
        val g = new SubIndexGraph(p, vs.length)
        vs.zipWithIndex.foreach { case (v, i) => g.insert(i.toLong, v) }
        g
      }
      val g1 = build(vecs)
      val g2 = build(vecs)
      (0 until g1.count).forall { o =>
        g1.layerOf(o) == g2.layerOf(o) && g1.vecAt(o).sameElements(g2.vecAt(o)) &&
          g1.out(o).map(el => (0 until el.size).map(i => (el.ds(i), el.ns(i)))) ==
          g2.out(o).map(el => (0 until el.size).map(i => (el.ds(i), el.ns(i))))
      } && g1.entryOffset == g2.entryOffset
    })
  }

  test("SortedPairs emits exactly the i<j pairs of a sorted array") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(0L, 50L))) { xs: List[Long] =>
      val sorted = xs.distinct.sorted
      val gen = graft.functions.SortedPairs(
        BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false))
      val row = InternalRow(new GenericArrayData(sorted.toArray))
      val got = gen.eval(row).iterator.toList.map(r => (r.getLong(0), r.getLong(1)))
      val want = for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield (sorted(i), sorted(j))
      got == want.toList
    })
  }

  test("SpaceSavingBuffer: exact below capacity; overestimate bounded above it") {
    import graft.operators.SpaceSavingBuffer
    val streamGen = Gen.listOf(Gen.chooseNum(0, 40).map(i => s"k$i"))
    check(Prop.forAll(streamGen, Gen.chooseNum(4, 64)) { (xs: List[String], cap: Int) =>
      val buf = new SpaceSavingBuffer(cap)
      xs.foreach(buf.add(_, 1L, 0L))
      val truth = xs.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val entries = buf.sortedEntries
      val sizeOk = entries.length <= cap
      val boundOk = entries.forall { case (k, n, err) =>
        val t = truth.getOrElse(k, 0L)
        n >= t && n - err <= t // count overestimates, never underestimates
      }
      val exactOk = truth.size > cap || entries.forall { case (k, n, err) =>
        err == 0L && n == truth(k)
      }
      sizeOk && boundOk && exactOk
    })
  }

  test("SpaceSavingBuffer: any merge tree equals single-buffer ingestion (exact regime)") {
    import graft.operators.SpaceSavingBuffer
    val streamGen = Gen.listOf(Gen.chooseNum(0, 30).map(i => s"k$i"))
    check(Prop.forAll(streamGen, Gen.chooseNum(1, 5)) { (xs: List[String], parts: Int) =>
      val cap = 64 // > 31 distinct keys: exact regime
      val chunks = if (xs.isEmpty) List(xs) else xs.grouped(
        math.max(1, xs.length / parts)).toList
      val merged = chunks.map { c =>
        val b = new SpaceSavingBuffer(cap); c.foreach(b.add(_, 1L, 0L)); b
      }.reduceLeft { (a, b) => a.merge(b); a }
      val one = new SpaceSavingBuffer(cap)
      xs.foreach(one.add(_, 1L, 0L))
      merged.sortedEntries.toSeq == one.sortedEntries.toSeq
    })
  }

  /** A corpus of `n` seeded `dim`-d vectors in [-1, 1), ids from `from`. */
  private def seeded(n: Int, dim: Int, from: Long = 0L): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(n * 31 + dim)
    (0 until n).map(i => (from + i, Array.fill(dim)(r.nextFloat() * 2 - 1)))
  }

  private def frame(rows: Seq[(Long, Array[Float])], id: String = "id") = {
    import spark.implicits._
    rows.toDF(id, "embedding")
  }

  /** `idx`'s rows, edges included, and meta, in comparable form. */
  private def stored(idx: graft.index.VectorIndex) =
    (idx.rows.collect().toSeq.map(r => (r.sub_index_id, r.offset, r.global_id, r.layer,
      r.embedding.toSeq, r.out, r.edges)).sortBy(t => (t._1, t._2)), idx.meta.toSeq)

  /** `idx`'s answers to `qs`: (query, rank, neighbor, distance). */
  private def answers(idx: graft.index.VectorIndex, qs: Seq[(Long, Array[Float])], k: Int,
      width: Int): Seq[(Long, Int, Long, Double)] =
    idx.query(frame(qs, "query_id"), k, width).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq.sorted

  private def withDir(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_roundtrip_").toString
    try f(dir) finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }

  test("save/load round trip of adversarial indexes: rows, edges, meta and probes equal") {
    val base = IndexParams(minimumConnect = 4, relaxedMonotonicity = 8, step = 2)
    val cases = Seq(
      ("dim 1", base, seeded(60, 1), 4),
      ("all-equal vectors", base, (0L until 40L).map(i => (i, Array(0.5f, -0.25f, 1f))), 4),
      ("k > n", base, seeded(6, 4), 2),
      // ids on residues {1, 2, 5} of 8 shards: five shards are empty
      ("empty shards", base, seeded(9, 4).map { case (i, v) => (8 * (i / 3) + Seq(1, 2, 5)((i % 3).toInt), v) }, 8),
      ("SQ8", base.copy(quantized = true, quantLo = -1f, quantHi = 1f), seeded(80, 8), 4),
      ("cosine", base.copy(normalizeForCosine = true), seeded(80, 8), 4),
      ("MIPS", base.copy(augmentForMips = true, mipsMaxNorm = 3f), seeded(80, 8), 4))
    for ((name, p, corpus, shards) <- cases) withDir { dir =>
      val qs = seeded(5, corpus.head._2.length, from = 1000L)
      val mem = graft.index.VectorIndex.build(frame(corpus), p, shards)
      mem.save(dir)
      val loaded = graft.index.VectorIndex.load(spark, dir, cache = false)
      assert(stored(loaded) == stored(mem), s"$name: rows or meta differ after load")
      for (width <- Seq(0, 8))
        assert(answers(loaded, qs, 10, width) == answers(mem, qs, 10, width),
          s"$name: the width-$width probe differs after load")
      if (name == "k > n") assert(answers(loaded, qs, 10, 0).length == qs.length * corpus.length)
      Seq(mem, loaded).foreach(_.unpersist())
    }
  }

  test("width-0 cosine and MIPS probes of a loaded index rank as brute force does") {
    val base = IndexParams(minimumConnect = 4, relaxedMonotonicity = 8, step = 2)
    val corpus = seeded(80, 8)
    val qs = seeded(5, 8, from = 1000L)
    def dot(a: Array[Float], b: Array[Float]) = a.indices.map(i => a(i).toDouble * b(i)).sum
    def cosine(a: Array[Float], b: Array[Float]) = dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    for ((name, p, similarity) <- Seq(
        ("cosine", base.copy(normalizeForCosine = true), cosine _),
        ("MIPS", base.copy(augmentForMips = true, mipsMaxNorm = 3f), dot _))) withDir { dir =>
      graft.index.VectorIndex.build(frame(corpus), p, 4).save(dir)
      val loaded = graft.index.VectorIndex.load(spark, dir, cache = false)
      val got = answers(loaded, qs, 10, 0).map(a => (a._1, a._2, a._3))
      val want = qs.flatMap { case (q, v) =>
        corpus.sortBy { case (id, x) => (-similarity(v, x), id) }.take(10).zipWithIndex
          .map { case ((id, _), r) => (q, r + 1, id) }
      }
      assert(got == want, s"$name: the exact probe is not brute force")
      loaded.unpersist()
    }
  }

  test("a zero vector under cosine: at normalized distance |q|² = 1 in memory and after load") {
    // pinned behaviour: normalization leaves a zero vector zero, so it sits
    // at squared distance |q|² (cosine distance 0.5) from every unit query,
    // and a zero query sees every unit corpus vector at 1 and a zero one at 0
    val p = IndexParams(minimumConnect = 4, relaxedMonotonicity = 8, step = 2,
      normalizeForCosine = true)
    val corpus = (0L, Array.fill(8)(0f)) +: seeded(40, 8, from = 1L)
    val qs = (100L, Array.fill(8)(0f)) +: seeded(4, 8, from = 101L)
    withDir { dir =>
      val mem = graft.index.VectorIndex.build(frame(corpus), p, 4)
      mem.save(dir)
      val loaded = graft.index.VectorIndex.load(spark, dir, cache = false)
      assert(stored(loaded) == stored(mem))
      for (idx <- Seq(mem, loaded)) {
        val all = answers(idx, qs, corpus.length, 0)
        assert(all == answers(mem, qs, corpus.length, 0))
        val (zeroQuery, unitQueries) = all.partition(_._1 == 100L)
        assert(zeroQuery.head == ((100L, 1, 0L, 0.0)), zeroQuery.head)
        assert(zeroQuery.tail.forall(a => math.abs(a._4 - 1.0) < 1e-6), zeroQuery.tail)
        assert(unitQueries.filter(_._3 == 0L).forall(a => math.abs(a._4 - 1.0) < 1e-6))
        assert(unitQueries.count(_._3 == 0L) == 4)
      }
      Seq(mem, loaded).foreach(_.unpersist())
    }
  }
}
