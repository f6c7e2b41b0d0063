package vecbench

import java.util.SplittableRandom

/** Seeded workload generator: a clustered 64-d float32 corpus, queries
  * drawn near the same cluster centres, and the benchmark's own
  * brute-force ground truth.
  *
  * Every vector is a pure function of (seed, id), so a contiguous range of
  * append ids yields the same vectors whatever order or batch size asks
  * for them, and a later ingest of ids [a, b) never depends on how the
  * corpus before `a` was generated. */
final class Gen(seed: Long) {
  private val dim = 64
  private val clusters = 32
  // clusters overlap enough that the beam has to walk between them (a
  // width-32 beam does not reach recall 1.0 on its own)
  private val corpusNoise = 0.12
  private val queryNoise = 0.10

  private val centres: Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    Array.fill(clusters, dim)(r.nextDouble().toFloat)
  }

  private def rng(salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt << 40) ^ (id * 0xBF58476D1CE4E5B9L))

  private def around(r: SplittableRandom, noise: Double): Array[Float] = {
    val c = centres(r.nextInt(clusters))
    Array.tabulate(dim)(j => (c(j) + r.nextGaussian() * noise).toFloat)
  }

  /** Corpus vectors for ids [from, from + n). */
  def vectors(from: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val id = from + i
      (id, around(rng(1, id), corpusNoise))
    }

  /** `n` queries near the corpus clusters; `batch` selects a disjoint id
    * range, so two batches never share a query. */
  def queries(batch: Int, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val qid = batch.toLong * 1000000L + i
      (qid, around(rng(2, qid), queryNoise))
    }
}

object Gen {
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k (ascending (distance, id)) of every query over `corpus`,
    * split across `threads` threads. */
  def bruteForce(corpus: Array[(Long, Array[Float])],
      queries: Array[(Long, Array[Float])], k: Int,
      threads: Int = 4): Map[Long, Array[(Double, Long)]] = {
    val out = new Array[Array[(Double, Long)]](queries.length)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        var qi = t
        while (qi < queries.length) {
          val q = queries(qi)._2
          // bounded insertion: keeps the k best (distance, id) ascending
          val ds = Array.fill(k)(Double.PositiveInfinity)
          val ids = Array.fill(k)(Long.MaxValue)
          var i = 0
          while (i < corpus.length) {
            val d = l2sq(q, corpus(i)._2)
            val id = corpus(i)._1
            if (d < ds(k - 1) || (d == ds(k - 1) && id < ids(k - 1))) {
              var j = k - 1
              while (j > 0 && (d < ds(j - 1) || (d == ds(j - 1) && id < ids(j - 1)))) {
                ds(j) = ds(j - 1); ids(j) = ids(j - 1); j -= 1
              }
              ds(j) = d; ids(j) = id
            }
            i += 1
          }
          out(qi) = ds.indices.filter(j => ids(j) != Long.MaxValue)
            .map(j => (ds(j), ids(j))).toArray
          qi += threads
        }
      })
    }
    workers.foreach(_.start())
    workers.foreach(_.join())
    queries.indices.map(i => queries(i)._1 -> out(i)).toMap
  }
}
