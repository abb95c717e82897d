package graft.streaming

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}

import graft.streaming.Schemas.FrameMessage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dual wire formats for frame messages, mirroring the reference's
  * FRAME_TRANSPORT switch (/root/reference config.py:64-67):
  *
  *  - JSON + base64 payload: pure built-ins (`from_json`/`to_json`,
  *    `base64`/`unbase64`) — fully codegen'd;
  *  - msgpack with raw binary payload: [[Msgpack]] codec applied in a
  *    typed map stage (msgpack has no Spark built-in).
  *
  * Producer and consumer must agree on the transport, as in the
  * reference (producer/video_producer.py:38-40).
  */
object FrameSerde {

  val frameSchema: StructType = StructType(Seq(
    StructField("video_id", StringType),
    StructField("frame_number", IntegerType),
    StructField("timestamp", TimestampType),
    StructField("fps", DoubleType),
    StructField("frame_data", StringType), // base64 in the JSON transport
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  // ---- JSON transport (S5/S8, legacy path) ----

  /** value (binary JSON) → typed frame columns. The producer stamps
    * offset-less UTC timestamps (see [[parseInstant]]) — pin the parse
    * timezone to UTC so the JSON and msgpack transports decode the
    * same message to the same instant regardless of the session
    * timezone. */
  def decodeJson(value: Column): Column = {
    val parsed = from_json(value.cast("string"), frameSchema,
      Map("timeZone" -> "UTC"))
    struct(
      parsed.getField("video_id").as("video_id"),
      parsed.getField("frame_number").as("frame_number"),
      parsed.getField("timestamp").as("timestamp"),
      parsed.getField("fps").as("fps"),
      unbase64(parsed.getField("frame_data")).as("frame_data"),
      parsed.getField("width").as("width"),
      parsed.getField("height").as("height"))
  }

  /** typed frame struct → JSON bytes with base64 payload. */
  def encodeJson(frame: Column): Column =
    to_json(struct(
      frame.getField("video_id").as("video_id"),
      frame.getField("frame_number").as("frame_number"),
      frame.getField("timestamp").as("timestamp"),
      frame.getField("fps").as("fps"),
      base64(frame.getField("frame_data")).as("frame_data"),
      frame.getField("width").as("width"),
      frame.getField("height").as("height"))).cast("binary")

  // ---- msgpack transport (raw-binary payload) ----

  def encodeMsgpack(f: FrameMessage): Array[Byte] =
    Msgpack.encodeMap(Seq(
      "video_id" -> f.video_id,
      "frame_number" -> f.frame_number,
      "timestamp" -> f.timestamp.toInstant.toString,
      "fps" -> f.fps,
      "frame_data" -> f.frame_data,
      "width" -> f.width,
      "height" -> f.height))

  /** The reference producer stamps frames with
    * `datetime.utcnow().isoformat()` (producer/video_producer.py:119) —
    * an ISO local datetime with NO offset, which `Instant.parse`
    * rejects. Accept both: offset-bearing instants and bare local
    * datetimes interpreted as UTC.
    */
  def parseInstant(s: String): Instant =
    try Instant.parse(s)
    catch {
      case _: java.time.format.DateTimeParseException =>
        LocalDateTime.parse(s).toInstant(ZoneOffset.UTC)
    }

  def decodeMsgpack(bytes: Array[Byte]): FrameMessage = {
    val m = Msgpack.decodeMap(bytes)
    // Defaults mirror the reference's read-side backfill
    // (streams/stream.py:328-331,351-358): fps → 30.0, dims → 0.
    FrameMessage(
      video_id = m("video_id").asInstanceOf[String],
      // Numeric fields coerce through Number and map nil (→ null) to
      // the documented default: a nil width is 0 BY RULE (not by
      // accidental null unboxing), and any non-Long numeric packing
      // decodes instead of throwing per message. The
      // MsgpackDecodeFrame expression calls this method, so the
      // DataFrame and expression decode paths share these rules.
      frame_number = m("frame_number") match {
        case n: Number => n.intValue; case _ => 0
      },
      timestamp = Timestamp.from(parseInstant(m("timestamp").asInstanceOf[String])),
      fps = m.get("fps") match {
        case Some(n: Number) => n.doubleValue; case _ => 30.0
      },
      frame_data = m("frame_data").asInstanceOf[Array[Byte]],
      width = m.get("width") match {
        case Some(n: Number) => n.intValue; case _ => 0
      },
      height = m.get("height") match {
        case Some(n: Number) => n.intValue; case _ => 0
      })
  }

  /** DataFrame stage: binary `value` column → typed frames (msgpack). */
  def decodeMsgpackDF(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select(col("value").as[Array[Byte]])
      .mapPartitions(_.map(decodeMsgpack))
      .toDF()
  }
}
