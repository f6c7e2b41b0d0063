package graft.index

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSuite

/** The local filesystem under the `failwrite:` scheme, except that a
  * file whose name contains [[FailingWriteFs.target]] receives only its
  * first 8 bytes before the write fails: a crash part-way through
  * writing that file. */
class FailingWriteFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failwrite:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = failing(f,
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = failing(f,
    super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  private def failing(f: Path, out: FSDataOutputStream): FSDataOutputStream =
    if (!f.getName.contains(FailingWriteFs.target)) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private var left = 8
      override def write(b: Int): Unit = write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val n = math.min(len, left)
        out.write(b, off, n); out.flush(); left -= n
        if (n < len) throw new java.io.IOException(s"injected failure writing $f")
      }
      override def close(): Unit = out.close()
    }, null)
}

object FailingWriteFs {
  @volatile var target: String = "\u0000"
}

/** [[FailingWriteFs]] for the FileContext API (renames). */
class FailingWriteAfs(uri: java.net.URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FailingWriteFs, conf, "failwrite", false)

/** Sidecar robustness: a failed rewrite keeps the previous file whole,
  * and a truncated or key-less required sidecar fails the load with an
  * error naming the file. */
class SidecarSpec extends AnyFunSuite with SparkSuite {

  private def bytes(p: String) = Files.readAllBytes(Paths.get(p)).toSeq

  test("a sidecar rewrite that fails mid-write leaves the previous file byte for byte") {
    val dir = Files.createTempDirectory("graft_sidecar_").toString
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.failwrite.impl", classOf[FailingWriteFs].getName)
    conf.set("fs.AbstractFileSystem.failwrite.impl", classOf[FailingWriteAfs].getName)
    try {
      val params = IndexParams(minimumConnect = 4, relaxedMonotonicity = 16,
        step = 2, quantized = true, quantLo = -0.25f, quantHi = 0.75f)
      val meta = Array(ShardMeta(0, 10, 1, 0), ShardMeta(1, 12, 2, 3))
      VectorIndex.writeMetaAndParams(spark, dir, meta, params, 2, "first")
      val cal = WidthCalibration(8, 0.9, 10, 0.95, Seq(8 -> 0.95),
        Seq(FacePoint("exact", 0, 1.0, 2.5)))
      VectorIndex.writeCalibration(spark, dir, cal)
      // a local rewrite swaps the file and its checksum in place
      val names = new java.io.File(dir).list().toSet
      VectorIndex.writeCalibration(spark, dir, cal)
      assert(new java.io.File(dir).list().toSet === names)
      assert(VectorIndex.readCalibration(spark, dir) === Some(cal))
      val before = Seq("meta.json", "calibration.json")
        .map(f => f -> bytes(s"$dir/$f")).toMap

      // meta.json is written last, after params.json
      FailingWriteFs.target = "meta.json"
      intercept[java.io.IOException] {
        VectorIndex.writeMetaAndParams(spark, s"failwrite://$dir", meta.take(1),
          params.copy(step = 3), 1, "second")
      }
      FailingWriteFs.target = "calibration.json"
      intercept[java.io.IOException] {
        VectorIndex.writeCalibration(spark, s"failwrite://$dir",
          cal.copy(searchWidth = 16, curve = Seq(16 -> 0.99)))
      }
      before.foreach { case (f, b) =>
        assert(bytes(s"$dir/$f") === b, s"$f was damaged by the failed rewrite")
      }
      assert(VectorIndex.readCalibration(spark, dir) === Some(cal))
      // the rewrite that succeeded replaced its file, and no staged
      // sibling is left behind by either outcome
      assert(Sidecar.decode[Sidecar.IndexParamsFile](
        new String(bytes(s"$dir/params.json").toArray, "UTF-8")).step === 3)
      assert(new java.io.File(dir).list().filter(_.startsWith("_")).isEmpty)
    } finally {
      FailingWriteFs.target = "\u0000"
      conf.unset("fs.failwrite.impl")
      conf.unset("fs.AbstractFileSystem.failwrite.impl")
      graft.streaming.StreamingOps.deleteRecursively(dir)
    }
  }

  test("a truncated or key-less params.json / lsm.json fails the load naming the file") {
    val dir = Files.createTempDirectory("graft_sidecar_").toString
    try {
      val corpus = spark.range(60).selectExpr("id",
        "array(cast(rand(1) as float), cast(rand(2) as float), " +
          "cast(rand(3) as float), cast(rand(4) as float)) as embedding")
      val idx = VectorIndex.build(corpus, IndexParams(minimumConnect = 4,
        relaxedMonotonicity = 16, step = 2), numShards = 2)
      LsmVectorIndex(idx, compactThreshold = 1000L).delete(Seq(3L)).save(dir)
      def refuses(file: String, key: String)(load: => Any): Unit = {
        val good = VectorIndex.readSmallFile(spark, file)
        val broken = Seq(good.take(good.length / 2),
          good.replaceAll(s""""$key":\\s*-?\\d+,?""", ""))
        assert(broken(1) != good, s"fixture lost no key: $good")
        broken.foreach { text =>
          VectorIndex.writeSmallFile(spark, file, text)
          val e = intercept[IllegalArgumentException](load)
          assert(e.getMessage.contains(file), e.getMessage)
        }
        VectorIndex.writeSmallFile(spark, file, good)
      }
      refuses(s"$dir/base/params.json", "numShards") {
        VectorIndex.load(spark, s"$dir/base")
      }
      refuses(s"$dir/lsm.json", "compactThreshold") {
        LsmVectorIndex.load(spark, dir)
      }
      assert(LsmVectorIndex.load(spark, dir).tombstones === Set(3L))
    } finally graft.streaming.StreamingOps.deleteRecursively(dir)
  }
}
