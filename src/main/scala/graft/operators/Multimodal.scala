package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PolyHash

/** Multimodal columns: image/audio/video as opaque `binary` content with
  * typed metadata, plus decode / feature-extraction / frame-sampling
  * plumbing.
  *
  * Design for 100 TB: binary payloads stay opaque byte columns end-to-end
  * (parquet binary is splittable at row-group granularity, payloads never
  * pass through the driver), metadata rides in a typed struct column
  * pruned independently of the payload, and decode runs inside
  * `mapPartitions` in bounded batches — the Scala analogue of a vectorized
  * Pandas UDF: one decoder init per partition, batch-shaped access, no
  * per-row lambda dispatch, partitioning preserved (no shuffle).
  *
  * DECODE IS A STUB: real image/audio codecs are not in this environment,
  * so [[Decode.decodeOne]] derives deterministic fake features from the
  * bytes (documented formulas the DuckDB oracle replays). The Spark-side
  * contract — schema, batching, partition preservation, typed Dataset
  * signatures — is real and tested; swapping in a real codec changes only
  * the body of `decodeOne`.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, media_type: String,
                               content: Array[Byte], duration_ms: Long)
  final case class MediaFeatures(doc_id: Long, media_type: String, byte_len: Int,
                                 checksum: Long, width: Int, height: Int, n_frames: Int)

  /** The media table: documents re-cast as binary payloads + typed
    * metadata. Deterministic role assignment by doc_id so the oracle can
    * replay it: doc_id % 3 -> image / audio / video; synthetic duration.
    */
  def media(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir).select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("content"),
      expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END")
        .as("media_type"),
      struct(
        (lit(1000) + (col("doc_id") % 120) * 500).as("duration_ms"),
        length(col("text")).as("content_len")).as("meta"))

  def asRecords(mediaDf: DataFrame): Dataset[MediaRecord] = {
    import mediaDf.sparkSession.implicits._
    mediaDf.select(col("doc_id"), col("media_type"), col("content"),
      col("meta.duration_ms").as("duration_ms")).as[MediaRecord]
  }

  /** Batched "decode": one pass per partition, records processed in
    * `batchSize` groups (the real-codec slot — a decoder would be
    * initialized once here and fed each batch).
    */
  def decodeFeatures(records: Dataset[MediaRecord], batchSize: Int = 64): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        // batch-shaped access point: a real decoder consumes batch.map(_.content)
        batch.map(Decode.decodeOne)
      }
    }
  }

  final case class ResizedMedia(doc_id: Long, media_type: String, in_len: Int,
                                stride: Int, out_len: Int, out_checksum: Long)

  /** Batched "resize": binary → binary payload transform in the same
    * bounded-batch `mapPartitions` shape as [[decodeFeatures]] (one
    * resizer init per partition, partitioning preserved — no shuffle at
    * any scale). STUB transform: deterministic stride subsampling of the
    * payload bytes down to ~`targetBytes` (the oracle replays it); a real
    * image scaler changes only [[Decode.resizeOne]]'s body.
    */
  def resize(records: Dataset[MediaRecord], targetBytes: Int = 256,
             batchSize: Int = 64): Dataset[ResizedMedia] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.map(r => Decode.resizeOne(r, targetBytes))
      }
    }
  }

  /** Frame sampling for video payloads: up to 8 evenly-spaced
    * frame offsets from the metadata duration. Pure column expressions —
    * map-only, no decode required, the payload column is never touched
    * (column pruning drops it from the scan).
    */
  def sampleFrames(mediaDf: DataFrame): DataFrame = {
    // integer arithmetic only (DIV, not /): float division then cast
    // truncates in Spark but rounds in DuckDB — DIV agrees in both
    val n = least(expr("meta.duration_ms DIV 1000"), lit(8)).cast("int")
    mediaDf.filter(col("media_type") === "video")
      .select(col("doc_id"), col("meta.duration_ms").as("duration_ms"), n.as("n_frames"))
      .select(col("doc_id"), col("duration_ms"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1)))
      .select(col("doc_id"), col("pos").as("frame_idx"),
        (col("col") * expr("duration_ms DIV n_frames")).as("frame_offset_ms"))
  }
}

/** The stubbed decoder. Formulas are deterministic functions of the
  * payload bytes/metadata so results are oracle-replayable; see
  * Multimodal's scaladoc for the swap-in-a-real-codec contract.
  */
object Decode {
  import Multimodal._

  /** Polynomial hash over raw bytes — for ASCII payloads identical to
    * [[graft.functions.PolyHash]] over the original string, which is what
    * lets the DuckDB oracle verify the decode plumbing end-to-end.
    */
  def byteChecksum(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xff)) % PolyHash.P; i += 1 }
    h
  }

  /** STUB resize: keep every `stride`-th byte so the output is at most
    * `target` bytes (stride = ceil(len/target), pure integer arithmetic
    * so the oracle replays it). A real scaler decodes, interpolates, and
    * re-encodes here.
    */
  def resizeOne(r: MediaRecord, target: Int): Multimodal.ResizedMedia = {
    val len = r.content.length
    val stride = math.max(1, (len + target - 1) / target)
    val out = new Array[Byte]((len + stride - 1) / stride)
    var i = 0
    var j = 0
    while (i < len) { out(j) = r.content(i); j += 1; i += stride }
    Multimodal.ResizedMedia(r.doc_id, r.media_type, len, stride, out.length,
      byteChecksum(out))
  }

  def decodeOne(r: MediaRecord): MediaFeatures = {
    val checksum = byteChecksum(r.content)
    // STUB: a real decoder reads actual dimensions from the payload.
    val width = (64 + checksum % 1024).toInt
    val height = (64 + (checksum / 1024) % 1024).toInt
    val nFrames = r.media_type match {
      case "image" => 1
      case "audio" => 0
      case "video" => math.min(r.duration_ms / 1000, 8L).toInt
    }
    MediaFeatures(r.doc_id, r.media_type, r.content.length, checksum, width, height, nFrames)
  }
}
