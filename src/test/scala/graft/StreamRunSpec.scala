package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{IndexParams, VectorIndex}
import graft.streaming.StreamingOps

/** The mechanics every streaming operator shares: the run scope (one
  * checkpoint, the run's confs), the parquet sink, the source stager
  * and the slicer. Each test holds for every operator that goes through
  * the piece it names, so it samples operators of each kind. */
class StreamRunSpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  private def docsPath = s"$sfDir/documents.parquet"
  private def embPath = s"$sfDir/embeddings.parquet"
  private def eventsPath = s"$sfDir/events.parquet"

  private def withTempDir[T](f: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("stream_run_spec_").toString
    try f(dir) finally StreamingOps.deleteRecursively(dir)
  }

  /** `df` written as one parquet file under `dir`; returns its path. */
  private def singleFile(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.parquet(dir)
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
  }

  /** A predicate that throws inside the stream, on the first row it sees. */
  private val boom = udf { (id: Long) =>
    if (id >= 0) throw new IllegalStateException("injected failure")
    true
  }

  private lazy val embIndex = VectorIndex.build(
    spark.read.parquet(embPath).filter(col("vec_id") >= 10)
      .select(col("vec_id").cast("long").as("id"), col("embedding")),
    IndexParams(), numShards = 2)

  test("an empty feed returns 0 rows with the schema of a non-empty one, for every parquet-sink operator") {
    val docs = Tables.documents(spark, sfDir)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    val emb = Tables.embeddings(spark, sfDir)
    val qTokens = emb.filter(col("vec_id") < 20)
      .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"), col("embedding"))
    val cTokens = emb.filter(col("vec_id") >= 20)
      .select(expr("vec_id DIV 4").as("did"), col("embedding"))
    withTempDir { dir =>
      val vecs = Seq(
        (0L, Array(1f, 0f, 0f)), (4L, Array(0f, 1f, 0f)), (8L, Array(0f, 0f, 1f)),
        (12L, Array(-1f, -1f, 0f)), (5L, Array(0.01f, 0.99f, 0f)), (6L, Array(0.02f, 0.98f, 0f)))
        .toDF("vec_id", "embedding")
      val vecPath = singleFile(vecs, s"$dir/vecs")
      val ops: Seq[(String, Column => DataFrame)] = Seq(
        "streamContamination" -> (p => StreamingOps.streamContamination(
          spark, docsPath, eval, n = 6, trainPred = p && col("doc_id") % 10 =!= 7)),
        "streamAnnProbe" -> (p => StreamingOps.streamAnnProbe(
          spark, embPath, embIndex, k = 3, queryPred = p && col("vec_id") < 5)),
        "streamSemanticDedup" -> (p => StreamingOps.streamSemanticDedup(
          spark, vecPath, vecs.filter(col("vec_id") <= 4),
          streamPred = p && col("vec_id") >= 5, numCells = 2, threshold = 0.95)),
        "streamMaxSim" -> (p => StreamingOps.streamMaxSim(
          spark, qTokens.filter(p), cTokens, k = 5)))
      for ((name, op) <- ops) {
        val full = op(lit(true))
        assert(full.count() > 0, s"$name: the non-empty feed is vacuous")
        val empty = op(lit(false))
        assert(empty.count() === 0, name)
        assert(empty.schema === full.schema, name)
      }
    }
  }

  test("a Spark-written directory source streams the same rows as the same data in one file") {
    withTempDir { dir =>
      val docs = spark.read.parquet(docsPath)
      val docsDir = s"$dir/docs"
      docs.repartition(2).write.parquet(docsDir)
      def sanitized(path: String) = StreamingOps.streamSanitize(
        spark, path, _.select(col("doc_id"), col("text")), chunkSize = 32, stride = 24)
        .collect().map(_.toString).sorted.toList
      val fromFile = sanitized(singleFile(docs, s"$dir/docs1"))
      assert(fromFile.nonEmpty)
      assert(sanitized(docsDir) === fromFile)
      // the events stager too: eventsStream reads through the same one
      val events = Tables.events(spark, sfDir)
      val eventsDir = s"$dir/events"
      events.repartition(2).write.parquet(eventsDir)
      def deduped(path: String) = StreamingOps.streamDedup(spark, path)
        .collect().map(_.toString).sorted.toList
      val eventsFromFile = deduped(singleFile(events, s"$dir/events1"))
      assert(eventsFromFile.nonEmpty)
      assert(deduped(eventsDir) === eventsFromFile)
    }
  }

  test("the caller's shuffle-partition and no-data-batch confs survive every kind of operator, run or failed") {
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val parts = "spark.sql.shuffle.partitions"
    def confs = (spark.conf.getAll.get(noData), spark.conf.getAll.get(parts))
    val saved = confs
    def check(name: String)(call: Boolean => Unit): Unit = {
      spark.conf.set(noData, "true")
      spark.conf.set(parts, "3")
      call(false)
      assert(confs === ((Some("true"), Some("3"))), s"$name, after a run")
      spark.conf.unset(noData)
      spark.conf.unset(parts)
      intercept[Exception](call(true))
      assert(confs === ((None, None)), s"$name, after a failed run")
    }
    val docs = Tables.documents(spark, sfDir)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    val queries = docs.filter(col("doc_id") < 3).select(col("doc_id").as("query_id"), col("text"))
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def events(userIds: Seq[Option[Int]]) = userIds.zipWithIndex.map { case (u, i) =>
      (u, i.toLong, new java.sql.Timestamp(ts.getTime + i * 600000L), i.toDouble, "click")
    }.toDF("user_id", "event_id", "ts", "value", "event_type")
    try withTempDir { dir =>
      val goodEvents = singleFile(events(Seq(Some(1), Some(1), Some(2), Some(2))), s"$dir/good")
      val badEvents = singleFile(events(Seq(Some(1), None, Some(2))), s"$dir/bad")
      check("streamContamination (parquet sink)") { fail =>
        StreamingOps.streamContamination(spark, docsPath, eval, n = 6,
          trainPred = if (fail) boom(col("doc_id").cast("long")) else col("doc_id") % 10 =!= 7,
          statePartitions = 2).count()
      }
      check("streamDrift (memory sink)") { fail =>
        StreamingOps.streamDrift(spark, eventsPath, "value",
          if (fail) boom(col("user_id").cast("long")) else col("user_id") % 2 === 0,
          lo = 0.0, hi = 100.0, bins = 8, statePartitions = 2).count()
      }
      check("streamSessionize (no-data batches on)") { fail =>
        StreamingOps.streamSessionize(spark, if (fail) badEvents else goodEvents,
          gapMinutes = 30, statePartitions = 2).count()
      }
      check("streamBm25Ingest (stateful foreachBatch)") { fail =>
        StreamingOps.streamBm25Ingest(spark, docsPath, corpusPred = col("doc_id") >= 10,
          queries = queries, n = 5, sourceSlices = 2, statePartitions = 2,
          onBatchEnd = if (fail) _ => throw new IllegalStateException("injected failure") else null)
          .count()
      }
    } finally {
      saved._1.fold(spark.conf.unset(noData))(v => spark.conf.set(noData, v))
      saved._2.fold(spark.conf.unset(parts))(v => spark.conf.set(parts, v))
    }
  }

  test("a call leaves no checkpoint and no slice behind; what it leaves is deleted at exit") {
    def graftDirs(): Set[String] =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir")).flatMap { root =>
        Option(new java.io.File(root).listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("graft_")).map(_.getPath)
      }.toSet
    def assertLeavesOnlyExitDirs(name: String)(call: => Long): Unit = {
      val before = graftDirs()
      assert(call > 0, s"$name returned no rows")
      val stray = (graftDirs() -- before).filterNot(StreamingOps.deletedAtExit)
      assert(stray.isEmpty, s"$name left $stray")
    }
    val docs = Tables.documents(spark, sfDir)
    val eval = docs.filter(col("doc_id") % 10 === 7)
    for (_ <- 1 to 2) assertLeavesOnlyExitDirs("streamContamination") {
      StreamingOps.streamContamination(spark, docsPath, eval, n = 6,
        trainPred = col("doc_id") % 10 =!= 7).count()
    }
    val emb = Tables.embeddings(spark, sfDir)
    assertLeavesOnlyExitDirs("streamMaxSim") {
      StreamingOps.streamMaxSim(spark,
        emb.filter(col("vec_id") < 20)
          .select(expr("vec_id DIV 2").as("qid"), col("vec_id").as("qvec"), col("embedding")),
        emb.filter(col("vec_id") >= 20).select(expr("vec_id DIV 4").as("did"), col("embedding")),
        k = 5).count()
    }
    assertLeavesOnlyExitDirs("streamIndexLsm") {
      val base = VectorIndex.build(emb.filter(col("vec_id") < 100)
        .select(col("vec_id").cast("long").as("id"), col("embedding")), IndexParams(), numShards = 2)
      StreamingOps.streamIndexLsm(spark, embPath, base,
        emb.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"), col("embedding")),
        newVectorsPred = col("vec_id") >= 100 && col("vec_id") < 200, k = 3,
        compactThreshold = Long.MaxValue, sourceSlices = 2).count()
    }
    assertLeavesOnlyExitDirs("streamDedup") {
      StreamingOps.streamDedup(spark, eventsPath, statePartitions = 2).count()
    }
  }
}
