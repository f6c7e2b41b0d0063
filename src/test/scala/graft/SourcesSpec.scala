package graft

import java.io.{DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BinaryVectors

class SourcesSpec extends AnyFunSuite with SparkSuite {

  private def writeLE(out: DataOutputStream, v: Long): Unit = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v)
    out.write(b.array())
  }

  test("binary vector format round-trips (FIXTURES §2 layout)") {
    withTempDir("graft_sources_") { dir =>
      val f = new java.io.File(dir, "vecs.bin")
      val out = new DataOutputStream(new FileOutputStream(f))
      writeLE(out, 3L) // count
      writeLE(out, 2L) // dim
      for (v <- Seq(1.0f, 2.0f, 3.5f, -4.25f, 0.0f, 9.75f)) {
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putFloat(v)
        out.write(b.array())
      }
      out.close()
      val df = BinaryVectors.readVectors(spark, f.getPath)
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length === 3)
      assert(rows(1).getSeq[Float](1) === Seq(3.5f, -4.25f))
    }
  }

  test("binary neighbors format explodes to (query_id, rank, neighbor_id)") {
    withTempDir("graft_sources_") { dir =>
      val f = new java.io.File(dir, "nbrs.bin")
      val out = new DataOutputStream(new FileOutputStream(f))
      writeLE(out, 2L) // count
      writeLE(out, 3L) // k
      Seq(10L, 11L, 12L, 20L, 21L, 22L).foreach(writeLE(out, _))
      out.close()
      val df = BinaryVectors.readNeighbors(spark, f.getPath)
      assert(df.count() === 6)
      val r = df.filter("query_id = 1 AND rank = 2").head
      assert(r.getLong(2) === 21L)
    }
  }

  test("distributed slice read: many partitions == one partition == expected") {
    withTempDir("graft_sources_") { dir =>
      // 1000 rows x 8 dims so several partitions get non-trivial contiguous
      // slices; each vector encodes its id, so any seek/stride slip is loud
      val f = new java.io.File(dir, "vecs_big.bin")
      val out = new DataOutputStream(new java.io.BufferedOutputStream(new FileOutputStream(f)))
      val n = 1000
      val dim = 8
      writeLE(out, n.toLong)
      writeLE(out, dim.toLong)
      for (id <- 0 until n; j <- 0 until dim) {
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
          .putFloat(id * 100.0f + j)
        out.write(b.array())
      }
      out.close()
      val one = BinaryVectors.readVectors(spark, f.getPath, numPartitions = 1)
      val many = BinaryVectors.readVectors(spark, f.getPath, numPartitions = 7)
      assert(many.rdd.getNumPartitions === 7)
      assert(many.count() === n)
      assert(many.exceptAll(one).count() === 0)
      assert(one.exceptAll(many).count() === 0)
      val r = many.filter("id = 777").head.getSeq[Float](1)
      assert(r === (0 until dim).map(j => 77700.0f + j))
    }
  }

  // ------------------------------------------------------------------ HDF5

  private def annFixture: (Array[Array[Float]], Array[Array[Float]], Array[Array[Int]]) = {
    // values encode (row, col) so any offset/stride slip is loud
    val train = Array.tabulate(20, 4)((i, j) => i * 10.0f + j)
    val test = Array.tabulate(5, 4)((i, j) => -(i * 10.0f + j) - 0.5f)
    val neighbors = Array.tabulate(5, 3)((i, j) => i * 100 + j)
    (train, test, neighbors)
  }

  private def checkHdf5RoundTrip(modern: Boolean): Unit = {
    withTempDir("graft_sources_") { dir =>
      val (train, test, neighbors) = annFixture
      val f = new java.io.File(dir, "ann.hdf5")
      graft.sources.Hdf5Writer.writeAnnBenchmarks(f.getPath, train, test, neighbors, modern)

      val infos = graft.sources.Hdf5.datasets(f.getPath).map(d => d.name -> d).toMap
      assert(infos.keySet === Set("train", "test", "neighbors"))
      assert(infos("train").dims === Seq(20L, 4L))
      assert(infos("train").dtype === graft.sources.Hdf5.FloatPoint(4, littleEndian = true))
      assert(infos("neighbors").dtype ===
        graft.sources.Hdf5.FixedPoint(4, littleEndian = true, signed = true))

      val tr = graft.sources.Hdf5.readVectors(spark, f.getPath, "train", numPartitions = 3)
        .collect().sortBy(_.getLong(0))
      assert(tr.length === 20)
      assert(tr(7).getSeq[Float](1) === Seq(70.0f, 71.0f, 72.0f, 73.0f))
      val te = graft.sources.Hdf5.readVectors(spark, f.getPath, "test")
        .collect().sortBy(_.getLong(0))
      assert(te(2).getSeq[Float](1) === Seq(-20.5f, -21.5f, -22.5f, -23.5f))
      val nb = graft.sources.Hdf5.readNeighbors(spark, f.getPath)
      assert(nb.count() === 15)
      assert(nb.filter("query_id = 3 AND rank = 2").head.getLong(2) === 301L)
    }
  }

  test("HDF5 classic (superblock v0, B-tree root group) round-trips ann-benchmarks layout") {
    checkHdf5RoundTrip(modern = false)
  }

  test("HDF5 modern (superblock v2, OHDR link messages) round-trips ann-benchmarks layout") {
    checkHdf5RoundTrip(modern = true)
  }

  test("HDF5 -> parquet converter writes the three tables (E6)") {
    withTempDir("graft_sources_") { dir =>
      val (train, test, neighbors) = annFixture
      val f = new java.io.File(dir, "ann_conv.hdf5")
      graft.sources.Hdf5Writer.writeAnnBenchmarks(f.getPath, train, test, neighbors)
      val outDir = s"$dir/parquet"
      graft.sources.Hdf5.convertToParquet(spark, f.getPath, outDir)
      assert(spark.read.parquet(s"$outDir/train").count() === 20)
      assert(spark.read.parquet(s"$outDir/test").count() === 5)
      val nb = spark.read.parquet(s"$outDir/neighbors")
      assert(nb.columns.toSeq === Seq("query_id", "rank", "neighbor_id"))
      assert(nb.count() === 15)
    }
  }

  private def checkHdf5Chunked(gzip: Boolean, shuffle: Boolean = false): Unit = {
    withTempDir("graft_sources_") { dir =>
      val (train, test, neighbors) = annFixture
      val f = new java.io.File(dir, "ann_chunked.hdf5")
      // chunkRows=8 over 20 train rows -> 3 chunks, last one partial (edge
      // chunks are stored full-size; the reader must trim the padding)
      graft.sources.Hdf5Writer.writeChunked(f.getPath, Seq(
        "train" -> graft.sources.Hdf5Writer.FloatMatrix(train),
        "test" -> graft.sources.Hdf5Writer.FloatMatrix(test),
        "neighbors" -> graft.sources.Hdf5Writer.IntMatrix(neighbors)),
        chunkRows = 8, gzip = gzip, shuffle = shuffle)

      val infos = graft.sources.Hdf5.datasets(f.getPath).map(d => d.name -> d).toMap
      assert(infos("train").chunked.isDefined, "train should parse as chunked")
      val cm = infos("train").chunked.get
      assert(cm.chunkRows === 8 && cm.chunkCols === 4 && cm.gzip === gzip)
      assert(cm.shuffled === shuffle)
      // write order: shuffle before deflate (read undoes in reverse)
      val expectFilters = (if (shuffle) Seq(2) else Nil) ++ (if (gzip) Seq(1) else Nil)
      assert(cm.filters === expectFilters)
      assert(cm.chunks.length === 3)

      val tr = graft.sources.Hdf5.readVectors(spark, f.getPath, "train", numPartitions = 2)
        .collect().sortBy(_.getLong(0))
      assert(tr.length === 20)
      assert(tr.map(_.getLong(0)).toSeq === (0L until 20L))
      assert(tr(7).getSeq[Float](1) === Seq(70.0f, 71.0f, 72.0f, 73.0f))
      assert(tr(19).getSeq[Float](1) === Seq(190.0f, 191.0f, 192.0f, 193.0f))
      val nb = graft.sources.Hdf5.readNeighbors(spark, f.getPath)
      assert(nb.count() === 15)
      assert(nb.filter("query_id = 3 AND rank = 2").head.getLong(2) === 301L)
      // chunked and contiguous reads of the same logical data agree
      val f2 = new java.io.File(dir, "ann_contig.hdf5")
      graft.sources.Hdf5Writer.writeAnnBenchmarks(f2.getPath, train, test, neighbors)
      val contig = graft.sources.Hdf5.readVectors(spark, f2.getPath, "train")
      val chunked = graft.sources.Hdf5.readVectors(spark, f.getPath, "train")
      assert(chunked.exceptAll(contig).count() === 0)
      assert(contig.exceptAll(chunked).count() === 0)
    }
  }

  test("HDF5 chunked layout round-trips (v1 chunk B-tree, edge chunk trimmed)") {
    checkHdf5Chunked(gzip = false)
  }

  test("HDF5 chunked + gzip round-trips (deflate chunks inflated per task)") {
    checkHdf5Chunked(gzip = true)
  }

  test("HDF5 shuffle + gzip round-trips (h5py shuffle=True pipeline, undone in reverse)") {
    checkHdf5Chunked(gzip = true, shuffle = true)
  }

  test("HDF5 shuffle-only round-trips (byte transpose without compression)") {
    checkHdf5Chunked(gzip = false, shuffle = true)
  }

  test("HDF5 column-split chunks reassemble rows through the fragment shuffle") {
    withTempDir("graft_sources_") { dir =>
      val (train, test, neighbors) = annFixture
      val f = new java.io.File(dir, "ann_colsplit.hdf5")
      // 8x6-row chunks of 3 columns each: every row spans TWO chunks (the
      // shape h5py's guess_chunk can pick for very wide rows)
      graft.sources.Hdf5Writer.writeChunked(f.getPath, Seq(
        "train" -> graft.sources.Hdf5Writer.FloatMatrix(train),
        "test" -> graft.sources.Hdf5Writer.FloatMatrix(test),
        "neighbors" -> graft.sources.Hdf5Writer.IntMatrix(neighbors)),
        chunkRows = 8, gzip = true, chunkCols = 3)
      val cm = graft.sources.Hdf5.datasets(f.getPath).map(d => d.name -> d).toMap
        .apply("train").chunked.get
      assert(cm.chunkCols === 3 && cm.chunks.length === 6) // 3 row-bands x 2 col-slices
      assert(cm.chunks.exists(_.colStart == 3L), "column-split chunk index expected")
      val tr = graft.sources.Hdf5.readVectors(spark, f.getPath, "train", numPartitions = 2)
        .collect().sortBy(_.getLong(0))
      assert(tr.length === 20)
      assert(tr(7).getSeq[Float](1) === Seq(70.0f, 71.0f, 72.0f, 73.0f))
      assert(tr(19).getSeq[Float](1) === Seq(190.0f, 191.0f, 192.0f, 193.0f))
      // int path reassembles too (3-col rows in 2-col chunks: uneven split)
      val nb = graft.sources.Hdf5.readNeighbors(spark, f.getPath)
      assert(nb.count() === 15)
      assert(nb.filter("query_id = 3 AND rank = 2").head.getLong(2) === 301L)
    }
  }

  test("HDF5 chunked round-trips across randomized shapes x filter pipelines") {
    withTempDir("graft_sources_") { dir =>
      // sweep (rows, cols, chunkRows, chunkCols, compressor, shuffle,
      // fletcher32) with a fixed seed: edge chunks, single-column slices,
      // full-row shapes, every filter combination — shapes the fixed
      // fixtures don't reach
      val rnd = new scala.util.Random(1234)
      for (trial <- 0 until 12) {
        val rows = 1 + rnd.nextInt(40)
        val cols = 1 + rnd.nextInt(9)
        val chunkRows = 1 + rnd.nextInt(rows + 3)
        val colSplit = rnd.nextBoolean()
        val chunkCols = if (colSplit) 1 + rnd.nextInt(cols) else 0
        val comp = rnd.nextInt(3) // 0 = none, 1 = gzip, 2 = lzf
        val shuffle = rnd.nextBoolean()
        val fletcher = rnd.nextBoolean()
        val data = Array.tabulate(rows, cols)((i, j) =>
          (i * 1000 + j).toFloat + rnd.nextFloat())
        val f = new java.io.File(dir, s"rand_$trial.hdf5")
        graft.sources.Hdf5Writer.writeChunked(f.getPath,
          Seq("train" -> graft.sources.Hdf5Writer.FloatMatrix(data)),
          chunkRows = chunkRows, gzip = comp == 1, chunkCols = chunkCols,
          shuffle = shuffle, lzf = comp == 2, fletcher32 = fletcher)
        val got = graft.sources.Hdf5.readVectors(spark, f.getPath, "train", numPartitions = 3)
          .collect().sortBy(_.getLong(0))
        val label = s"trial $trial rows=$rows cols=$cols cr=$chunkRows cc=$chunkCols comp=$comp shuffle=$shuffle fletcher=$fletcher"
        assert(got.length == rows, label)
        for (i <- 0 until rows) {
          assert(got(i).getLong(0) == i.toLong, label)
          assert(got(i).getSeq[Float](1) == data(i).toSeq, s"$label row $i")
        }
        f.delete()
      }
    }
  }

  test("LZF codec round-trips random and structured buffers (incl. RLE overlap)") {
    import graft.sources.H5Filters
    val rnd = new scala.util.Random(99)
    for (trial <- 0 until 30) {
      val n = rnd.nextInt(5000)
      val data = trial % 3 match {
        case 0 => Array.fill[Byte](n)(rnd.nextInt(256).toByte) // incompressible
        case 1 => Array.fill[Byte](n)((rnd.nextInt(4) + 7).toByte) // runs -> overlapping refs
        case _ => Array.tabulate[Byte](n)(i => (i % 97).toByte) // periodic
      }
      val packed = H5Filters.lzfCompress(data)
      val back = H5Filters.lzfDecompress(packed, n)
      assert(back.toSeq === data.toSeq, s"trial $trial n=$n")
    }
    // truncated / corrupt streams fail loudly, never return short buffers
    intercept[java.io.IOException](H5Filters.lzfDecompress(Array[Byte](31), 5))
    intercept[java.io.IOException](
      H5Filters.lzfDecompress(Array[Byte]((7 << 5).toByte, 0, 0), 100))
  }

  test("fletcher32 filter verifies, strips, and rejects corruption") {
    import graft.sources.H5Filters
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 2, 3, 719, 720, 721, 4096)) { // odd tails + fold-block edges
      val data = Array.fill[Byte](n)(rnd.nextInt(256).toByte)
      val stored = H5Filters.fletcherAppend(data)
      assert(stored.length === n + 4)
      assert(H5Filters.fletcherVerifyStrip(stored, "spec").toSeq === data.toSeq)
      // HDF5 also accepts the byte-reversed (pre-1.6.3) checksum encoding
      val rev = data ++ stored.takeRight(4).reverse
      assert(H5Filters.fletcherVerifyStrip(rev, "spec").toSeq === data.toSeq)
      if (n > 0) {
        val bad = stored.clone()
        val flip = rnd.nextInt(n)
        bad(flip) = (bad(flip) + 1).toByte
        val e = intercept[java.io.IOException](H5Filters.fletcherVerifyStrip(bad, "spec"))
        assert(e.getMessage.contains("fletcher32"))
      }
    }
    intercept[java.io.IOException](H5Filters.fletcherVerifyStrip(Array[Byte](1, 2), "spec"))
  }

  test("HDF5 lzf + shuffle + fletcher32 pipeline round-trips (h5py lzf config)") {
    withTempDir("graft_sources_") { dir =>
      val (train, test, neighbors) = annFixture
      val f = new java.io.File(dir, "ann_lzf.hdf5")
      graft.sources.Hdf5Writer.writeChunked(f.getPath, Seq(
        "train" -> graft.sources.Hdf5Writer.FloatMatrix(train),
        "test" -> graft.sources.Hdf5Writer.FloatMatrix(test),
        "neighbors" -> graft.sources.Hdf5Writer.IntMatrix(neighbors)),
        chunkRows = 8, gzip = false, shuffle = true, lzf = true, fletcher32 = true)
      val cm = graft.sources.Hdf5.datasets(f.getPath).map(d => d.name -> d).toMap
        .apply("train").chunked.get
      // write order: shuffle, lzf, fletcher32 (read undoes in reverse)
      assert(cm.filters === Seq(2, graft.sources.H5Filters.LzfId,
        graft.sources.H5Filters.Fletcher32Id))
      val tr = graft.sources.Hdf5.readVectors(spark, f.getPath, "train", numPartitions = 2)
        .collect().sortBy(_.getLong(0))
      assert(tr.length === 20)
      assert(tr(7).getSeq[Float](1) === Seq(70.0f, 71.0f, 72.0f, 73.0f))
      assert(tr(19).getSeq[Float](1) === Seq(190.0f, 191.0f, 192.0f, 193.0f))
      f.delete()
    }
  }

  test("HDF5 reader rejects what it cannot parse with a clear error") {
    withTempDir("graft_sources_") { dir =>
      val bad = new java.io.File(dir, "noth5.hdf5")
      val out = new FileOutputStream(bad)
      out.write(Array.fill[Byte](64)(7)); out.close()
      val e = intercept[java.io.IOException](graft.sources.Hdf5.datasets(bad.getPath))
      assert(e.getMessage.contains("superblock"))
    }
  }

  test("GraftExtensions registers SQL functions via withExtensions") {
    // extension registration is builder-time; getOrCreate would reuse the
    // shared session, so exercise the injected builder path directly
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    try {
      val r = s2.sql("SELECT vec_l2sq(array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
        .head.getDouble(0)
      assert(r === 4.0)
    } finally ()
  }

  // ---- NumPy .npy source ----

  test("npy '<f4' v1.0 round-trips through the distributed read") {
    withTempDir("graft_sources_") { dir =>
      val rnd = new scala.util.Random(7)
      val rows = Seq.fill(37)(Array.fill(5)(rnd.nextFloat()))
      val path = s"$dir/npy.npy"
      graft.sources.Npy.writeVectors(path, rows.iterator, 5)
      val got = graft.sources.Npy.readVectors(spark, path, numPartitions = 4)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      assert(got.length === 37)
      got.foreach { case (id, vec) => assert(vec.toSeq === rows(id.toInt).toSeq) }
      // partition count must not change anything
      val one = graft.sources.Npy.readVectors(spark, path, numPartitions = 1)
        .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      assert(one.toSeq === got.map { case (id, v) => (id, v.toSeq) }.toSeq)
    }
  }

  test("texmex .fvecs/.bvecs/.ivecs round-trip through the distributed read") {
    withTempDir("graft_sources_") { dir =>
      import graft.sources.Fvecs
      val rnd = new scala.util.Random(11)
      // fvecs
      val fRows = Seq.fill(29)(Array.fill(6)(rnd.nextFloat()))
      val f = s"$dir/tex.fvecs"
      assert(Fvecs.writeVectors(f, fRows.iterator) === 29L)
      val fGot = Fvecs.readVectors(spark, f, numPartitions = 4).orderBy("id").collect()
        .map(r => r.getSeq[Float](1).toSeq)
      assert(fGot.length === 29)
      fGot.zip(fRows).foreach { case (g, w) => assert(g === w.toSeq) }
      // partition count must not change anything
      assert(Fvecs.readVectors(spark, f, numPartitions = 1).orderBy("id").collect()
        .map(_.getSeq[Float](1).toSeq).toSeq === fGot.toSeq)
      // bvecs: uint8 components incl. the signed-byte wrap range
      val bRows = Seq.fill(17)(Array.fill(5)(rnd.nextInt(256)))
      val b = s"$dir/tex.bvecs"
      assert(Fvecs.writeByteVectors(b, bRows.iterator) === 17L)
      val bGot = Fvecs.readByteVectors(spark, b, numPartitions = 3).orderBy("id").collect()
        .map(r => r.getSeq[Float](1).map(_.toInt).toSeq)
      bGot.zip(bRows).foreach { case (g, w) => assert(g === w.toSeq) }
      intercept[IllegalArgumentException](
        Fvecs.writeByteVectors(b, Iterator(Array(256))))
      // ivecs -> the BinaryVectors.readNeighbors shape
      val nRows = Seq(Array(5, 2, 9), Array(1, 0, 3))
      val iv = s"$dir/tex.ivecs"
      assert(Fvecs.writeNeighbors(iv, nRows.iterator) === 2L)
      val nGot = Fvecs.readNeighbors(spark, iv).orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toList
      assert(nGot === List((0L, 1, 5L), (0L, 2, 2L), (0L, 3, 9L),
        (1L, 1, 1L), (1L, 2, 0L), (1L, 3, 3L)))
    }
  }

  test("texmex reader rejects mixed-dim and size-mismatched files loudly") {
    withTempDir("graft_sources_") { dir =>
      import graft.sources.Fvecs
      import java.nio.{ByteBuffer, ByteOrder}
      // two records with DIFFERENT dims: size is not a multiple of the
      // first record's stride -> rejected at planning, never silent garbage
      val p = s"$dir/texbad.fvecs"
      val out = new java.io.FileOutputStream(p)
      def rec(dim: Int): Array[Byte] = {
        val bb = ByteBuffer.allocate(4 + dim * 4).order(ByteOrder.LITTLE_ENDIAN)
        bb.putInt(dim); (0 until dim).foreach(i => bb.putFloat(i.toFloat)); bb.array()
      }
      out.write(rec(3)); out.write(rec(5)); out.close()
      intercept[IllegalArgumentException](Fvecs.readVectors(spark, p).count())
      // same total size, dims swapped mid-file so strides collide: the
      // per-record dim check catches it at read time
      val p2 = s"$dir/texbad2.fvecs"
      val out2 = new java.io.FileOutputStream(p2)
      out2.write(rec(3)); out2.write(rec(3)); out2.close()
      // corrupt the second record's dim header in place (same file size)
      val raf = new java.io.RandomAccessFile(p2, "rw")
      raf.seek(16); raf.write(Array[Byte](4, 0, 0, 0)); raf.close()
      val ex = intercept[org.apache.spark.SparkException](
        Fvecs.readVectors(spark, p2).collect())
      assert(ex.getMessage.contains("dim") || ex.getCause != null)
    }
  }

  test("npy '<f8' and v2.0 headers parse; fortran/bad-magic/1-D fail loudly") {
    withTempDir("graft_sources_") { dir =>
      import java.nio.{ByteBuffer, ByteOrder}
      def write(path: String, dict: String, v2: Boolean, body: Array[Byte]): Unit = {
        val pre = if (v2) 12 else 10
        val pad = (64 - (pre + dict.length + 1) % 64) % 64
        val header = dict + (" " * pad) + "\n"
        val out = new java.io.FileOutputStream(path)
        out.write(Array(0x93.toByte, 'N', 'U', 'M', 'P', 'Y').map(_.toByte))
        if (v2) { out.write(2); out.write(0)
          out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
            .putInt(header.length).array())
        } else { out.write(1); out.write(0)
          out.write(ByteBuffer.allocate(2).order(ByteOrder.LITTLE_ENDIAN)
            .putShort(header.length.toShort).array())
        }
        out.write(header.getBytes("US-ASCII")); out.write(body); out.close()
      }
      // '<f8', v2.0 header: 3 x 2 doubles
      val vals = Array(1.5, -2.25, 3.0, 0.125, -0.5, 8.0)
      val body = ByteBuffer.allocate(48).order(ByteOrder.LITTLE_ENDIAN)
      vals.foreach(body.putDouble)
      val f8 = s"$dir/npy8.npy"
      write(f8, "{'descr': '<f8', 'fortran_order': False, 'shape': (3, 2), }",
        v2 = true, body.array())
      val got = graft.sources.Npy.readVectors(spark, f8).orderBy("id").collect()
        .flatMap(_.getSeq[Float](1))
      assert(got.toSeq === vals.map(_.toFloat).toSeq)
      // fortran order rejected
      val ff = s"$dir/npyf.npy"
      write(ff, "{'descr': '<f4', 'fortran_order': True, 'shape': (2, 2), }",
        v2 = false, new Array[Byte](16))
      intercept[IllegalArgumentException](graft.sources.Npy.readHeader(ff))
      // 1-D shape rejected
      val f1 = s"$dir/npy1.npy"
      write(f1, "{'descr': '<f4', 'fortran_order': False, 'shape': (4,), }",
        v2 = false, new Array[Byte](16))
      intercept[IllegalArgumentException](graft.sources.Npy.readHeader(f1))
      // bad magic rejected
      val bad = java.nio.file.Paths.get(dir, "npyb.npy")
      java.nio.file.Files.write(bad, "not an npy file at all".getBytes)
      intercept[IllegalArgumentException](graft.sources.Npy.readHeader(bad.toString))
    }
  }
}
