package graft.index

import scala.reflect.ClassTag

import com.fasterxml.jackson.annotation.{JsonFormat, JsonInclude, JsonPropertyOrder, JsonValue}
import com.fasterxml.jackson.core._
import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.databind._
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** A caller-supplied JSON object (a corpus identity) carried verbatim in
  * a sidecar: written as its exact text, read back as the exact source
  * slice, so it stays equal to the caller's string. */
final case class RawObject(text: String)

/** The one codec for the small JSON files that travel with a snapshot
  * ("sidecars"), over the Hadoop-FS small-file I/O
  * ([[VectorIndex.writeSmallFile]], atomic). Each sidecar is a case
  * class below whose field names are the file's keys:
  *  - a field with a default is optional (absent key → default);
  *  - a field without one is required: an absent key, like a truncated
  *    file, fails [[read]] with an error naming the file;
  *  - unknown keys are ignored; floats read back bit for bit, and
  *    non-finite ones are written bare (`NaN`, `Infinity`). */
object Sidecar {

  /** Vector snapshot `params.json`; `schedule` is `from:M:RM` triples
    * joined by `;`, and `dimension` is the stored vector dimension (no
    * key for an empty index). The defaulted keys are absent from older
    * saves. */
  case class IndexParamsFile(metric: String, minimumConnect: Int,
      relaxedMonotonicity: Int, step: Int, subIndexBound: Long,
      numShards: Int, schedule: String = "", quantized: Boolean = false,
      quantLo: Float = -0.5f, quantHi: Float = 0.5f,
      normalizeForCosine: Boolean = false, augmentForMips: Boolean = false,
      mipsMaxNorm: Float = 0f, indexId: String,
      @JsonDeserialize(contentAs = classOf[java.lang.Integer])
      dimension: Option[Int] = None)

  /** A vector snapshot `meta.json` line: a shard's [[ShardMeta]] keys,
    * then the name and length of its one file in `rows/sub_index_id=s/`
    * (`file`, `bytes`; absent from lines written before they were named). */
  case class MetaLine(sub_index_id: Int, n_vectors: Long, layer_count: Int,
      entry_offset: Int, file: Option[String] = None,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) bytes: Option[Long] = None) {
    def meta: ShardMeta = ShardMeta(sub_index_id, n_vectors, layer_count, entry_offset)
  }

  /** `calibration.json` ([[WidthCalibration]]); no `faces` key when the
    * table is empty. */
  case class CalibrationFile(search_width: Int, target_recall: Double,
      k: Int, sample_recall: Double, curve: Seq[CurvePoint],
      @JsonInclude(JsonInclude.Include.NON_EMPTY) faces: Seq[FaceEntry] = Nil)

  /** A calibration curve point, positional: `[width, recall]`. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  @JsonPropertyOrder(Array("w", "r"))
  case class CurvePoint(w: Int, r: Double)

  /** A measured face ([[FacePoint]]), positional:
    * `[face, param, recall, msPerQuery(, artifact(, ref))]` with trailing
    * empty slots left out — 4, 5 or 6 elements. `ref` is a
    * [[FaceArtifact]] as an escaped JSON string; with a ref the artifact
    * slot is written even when empty. */
  @JsonFormat(shape = JsonFormat.Shape.ARRAY)
  @JsonPropertyOrder(Array("face", "param", "recall", "msPerQuery",
    "artifact", "ref"))
  case class FaceEntry(face: String, param: Int, recall: Double,
      msPerQuery: Double, artifact: String = "", ref: String = "") {
    @JsonValue def entry: Seq[Any] = Seq(face, param, recall, msPerQuery) ++
      (if (ref.nonEmpty) Seq(artifact, ref)
       else if (artifact.nonEmpty) Seq(artifact) else Nil)
  }

  /** LSM `lsm.json`; the defaulted keys predate delete support. */
  case class LsmFile(generations: Int, compactThreshold: Long,
      genShardSize: Long, deleteThreshold: Long = Long.MaxValue,
      tombstones: Array[Long] = Array.empty)

  /** IVF-PQ codes identity `params.json` ([[graft.operators.IvfPqParams]]). */
  case class IvfPqFile(flavor: String, num_cents: Int, m: Int,
      codewords: Int, route: String, corpus: Option[RawObject] = None)

  /** IVF-PQ `model/codebooks.json`: the flat PQ codebooks. */
  case class CodebooksFile(k_eff: Int, sub_dim: Int, flat: Array[Float])

  /** Base-store `params.json`; no `n` reads as count -1 (unknown). */
  case class BaseStoreFile(n: Long = -1L, files: Int = 0, page_rows: Int = 0,
      corpus: Option[RawObject] = None)

  /** BM25 `stats.json`. Only the split (v2) layout records `sum_dl`;
    * pre-split (v1) snapshots may also lack `tok_buckets`. */
  case class Bm25StatsFile(n_docs: Long,
      @JsonDeserialize(contentAs = classOf[java.lang.Long])
      sum_dl: Option[Long] = None,
      avgdl: Double,
      @JsonDeserialize(contentAs = classOf[java.lang.Integer])
      tok_buckets: Option[Int] = None,
      df_cap_num: Long = Long.MaxValue, df_cap_den: Long = 1L)

  private val SourceAttr = "graft.sidecar.source"

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule()
      .addSerializer(classOf[RawObject], new JsonSerializer[RawObject] {
        def serialize(v: RawObject, gen: JsonGenerator,
            p: SerializerProvider): Unit = gen.writeRawValue(v.text)
      })
      // the object's exact slice of the document [[decode]] is parsing
      .addDeserializer(classOf[RawObject], new JsonDeserializer[RawObject] {
        def deserialize(p: JsonParser, ctxt: DeserializationContext): RawObject = {
          if (!p.hasToken(JsonToken.START_OBJECT))
            ctxt.reportInputMismatch(classOf[RawObject], "expected a JSON object"): Unit
          val start = p.currentTokenLocation().getCharOffset.toInt
          p.skipChildren()
          RawObject(ctxt.getAttribute(SourceAttr).asInstanceOf[String]
            .substring(start, p.currentTokenLocation().getCharOffset.toInt + 1))
        }
      }))
    .enable(DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES)
    .enable(DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .disable(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .enable(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
    .defaultPropertyInclusion(JsonInclude.Value.construct(
      JsonInclude.Include.NON_ABSENT, JsonInclude.Include.USE_DEFAULTS))
    .build()

  def encode(value: AnyRef): String = mapper.writeValueAsString(value)

  /** Parse `json` as a `T`; Jackson's exception on malformed input. */
  def decode[T](json: String)(implicit ct: ClassTag[T]): T =
    mapper.readerFor(ct.runtimeClass).withAttribute(SourceAttr, json)
      .readValue[T](json)

  /** `text` as a [[RawObject]] when it is exactly one JSON object; None
    * for "" (nothing recorded); anything else is refused, naming `owner`. */
  def rawObject(text: String, owner: String): Option[RawObject] =
    Option(text).filter(_.nonEmpty).map { t =>
      require(scala.util.Try(decode[RawObject](t)).toOption.contains(RawObject(t)),
        s"$owner: corpus identity must be a JSON OBJECT (got: $t) — wrap a " +
          """raw fingerprint as {"fingerprint":"..."}""")
      RawObject(t)
    }

  def write(spark: SparkSession, path: String, value: AnyRef): Unit =
    VectorIndex.writeSmallFile(spark, path, encode(value))

  /** None when the file is absent; an IllegalArgumentException naming
    * the file when it does not parse or lacks a required key. */
  def read[T: ClassTag](spark: SparkSession, path: String): Option[T] =
    Option(VectorIndex.readSmallFile(spark, path)).map(parse[T](path, _))

  /** [[read]] for a sidecar that must exist. */
  def readRequired[T: ClassTag](spark: SparkSession, path: String): T =
    read[T](spark, path).getOrElse(throw new IllegalArgumentException(s"missing $path"))

  /** [[write]] for a one-object-per-line file. */
  def writeLines(spark: SparkSession, path: String, values: Seq[AnyRef]): Unit =
    VectorIndex.writeSmallFile(spark, path,
      values.map(encode).mkString("", "\n", "\n"))

  /** [[read]] for a one-object-per-line file (blank lines skipped). */
  def readLines[T: ClassTag](spark: SparkSession, path: String): Option[Seq[T]] =
    Option(VectorIndex.readSmallFile(spark, path)).map(
      _.split("\n").toSeq.filter(_.trim.nonEmpty).map(parse[T](path, _)))

  private def parse[T: ClassTag](path: String, json: String): T =
    try decode[T](json) catch {
      case e: JsonProcessingException => throw new IllegalArgumentException(
        s"corrupt sidecar $path: ${e.getOriginalMessage}", e)
    }
}
