package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._


/** Multimodal-column pack: image/audio/video payloads as opaque binary
  * columns with typed metadata, plus a per-partition batch feature-extract
  * stage.
  *
  * The container has no image/audio codecs, so the DECODE step is a
  * clearly-marked deterministic fake (byte statistics standing in for
  * pixel decoding); everything around it — binary column handling, schema,
  * partition-batched extraction through a typed Dataset, metadata structs —
  * is real and tested. Swap `fakeDecode` for a real codec and the pipeline
  * is production-shaped: at 100 TB the payloads stay distributed, only
  * per-partition iterators touch them, and extraction output is a narrow
  * feature table.
  */
object MultimodalPack extends QueryPack {

  /** Binary "media" table derived from documents: payload = utf-8 bytes
    * (stand-in for image bytes), metadata = typed struct.
    */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.docs(spark, dir).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        col("source"),
        col("lang"),
        col("n_chars").as("declared_size"),
        lit("text/plain").as("mime")).as("meta"))

  /** Payload audit — pure column ops on the binary type (length, emptiness,
    * declared-vs-actual size drift), oracle-checkable.
    */
  def mediaAudit(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("media_id"),
        length(col("payload")).as("n_bytes"),
        col("meta.declared_size").as("declared_size"),
        (length(col("payload")) === col("meta.declared_size")).as("size_ok"),
        col("meta.mime").as("mime"))
      .orderBy(col("media_id"))

  case class MediaFeatures(media_id: Long, n_bytes: Int, mean_byte: Double,
                           distinct_bytes: Int, first_byte: Int)

  /** STUB DECODE — deterministic fake standing in for an image/audio codec
    * (none available in this container). Byte statistics play the role of
    * decoded features; the signature (bytes in, fixed-width features out)
    * is the real contract.
    */
  private def fakeDecode(id: Long, payload: Array[Byte]): MediaFeatures = {
    val n = payload.length
    var sum = 0L
    val seen = new Array[Boolean](256)
    var i = 0
    while (i < n) { val b = payload(i) & 0xff; sum += b; seen(b) = true; i += 1 }
    MediaFeatures(id, n, if (n == 0) 0.0 else sum.toDouble / n,
      seen.count(identity), if (n == 0) -1 else payload(0) & 0xff)
  }

  /** Partition-batched feature extraction: one iterator pass per partition
    * (the Scala analogue of a batched pandas-UDF stage) — a real codec
    * would amortize model/codec init per partition exactly here.
    */
  def extractFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it => it.map { case (id, bytes) => fakeDecode(id, bytes) } }
  }

  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(spark, dir).toDF().orderBy(col("media_id"))

  case class MediaDerived(media_id: Long, thumb: Array[Byte], n_frames: Int,
                          frame_bytes: Array[Byte])

  /** STUB RESIZE + FRAME-SAMPLE — deterministic fakes for the other two
    * codec-bound stages: "resize" keeps a fixed-size prefix (a thumbnail's
    * bounded-size contract), "frame sampling" takes every k-th byte (the
    * fixed-stride contract of video frame extraction). Bytes in,
    * bounded bytes out, batched per partition — swap the body for a real
    * codec without touching the pipeline.
    */
  def deriveMedia(spark: SparkSession, dir: String,
                  thumbBytes: Int = 16, frameStride: Int = 64): Dataset[MediaDerived] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val thumb = bytes.take(thumbBytes)
          val frames = bytes.indices.collect {
            case i if i % frameStride == 0 => bytes(i)
          }.toArray
          MediaDerived(id, thumb, frames.length, frames)
        }
      }
  }

  /** Audit of the derived media (sizes are SQL-checkable even though the
    * payload contract is opaque binary).
    */
  def mediaDerivedAudit(spark: SparkSession, dir: String): DataFrame =
    deriveMedia(spark, dir).toDF()
      .select(col("media_id"), length(col("thumb")).as("thumb_bytes"),
        col("n_frames"), length(col("frame_bytes")).as("frame_payload_bytes"))
      .orderBy(col("media_id"))

  val queries = Map(
    "q75_media_audit" -> mediaAudit _,
    "q76_media_features" -> mediaFeatures _,
    "q77_media_derived" -> ((s: SparkSession, d: String) => mediaDerivedAudit(s, d)))

  val oracle = Map(
    "q75_media_audit" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  n_chars AS declared_size,
        |  octet_length(encode(text)) = n_chars AS size_ok,
        |  'text/plain' AS mime
        |FROM documents ORDER BY media_id""".stripMargin,
    "q76_media_features" ->
      // NOTE: this oracle iterates CODEPOINTS (ord per char); the Spark side
      // sums UTF-8 BYTES. Equal iff the fixture is pure ASCII — asserted per
      // testdata dir in TextSpec ("q76 oracle precondition").
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE list_sum(list_transform(range(1, length(text)+1),
        |              i -> ord(text[i]))) * 1.0 / octet_length(encode(text)) END
        |    AS mean_byte,
        |  CAST(len(list_distinct(list_transform(range(1, length(text)+1),
        |        i -> ord(text[i])))) AS INT) AS distinct_bytes,
        |  CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ord(text[1]) END AS INT)
        |    AS first_byte
        |FROM documents ORDER BY media_id""".stripMargin,
    "q77_media_derived" ->
      // sizes of the stub resize/frame-sample stages: thumbnail = 16-byte
      // prefix, frames = every 64th byte (ceil(n/64))
      """SELECT doc_id AS media_id,
        |  CAST(least(octet_length(encode(text)), 16) AS INT) AS thumb_bytes,
        |  CAST(CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS INT) AS n_frames,
        |  CAST(CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS INT)
        |    AS frame_payload_bytes
        |FROM documents ORDER BY media_id""".stripMargin)
}
