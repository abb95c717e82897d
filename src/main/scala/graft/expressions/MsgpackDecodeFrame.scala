package graft.expressions

import graft.streaming.FrameSerde
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.Bridge.AbstractType
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst expression decoding a msgpack frame envelope (the
  * reference's binary transport, SURVEY.md §2.1 S8) straight to a
  * struct — the expression-level alternative to the typed
  * `mapPartitions` stage in FrameSerde: usable in any projection,
  * no Dataset boundary, null on malformed input (poison-pill frames
  * don't kill the stream; they surface as nulls to filter/quarantine).
  *
  * Object construction here is irreducibly branchy, so this is a
  * deliberate CodegenFallback leaf (SURVEY.md §4 names msgpack_decode
  * as the custom-expression candidate); the surrounding operators
  * still whole-stage-codegen around it.
  */
case class MsgpackDecodeFrame(child: Expression)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {

  // A wrong-typed argument (e.g. a base64 STRING column through the
  // SQL registration) must fail analysis — the catch below would
  // otherwise swallow the per-row ClassCastException and return NULL
  // for every row, indistinguishable from 100% poison-pill frames.
  override def inputTypes: Seq[AbstractType] = Seq(BinaryType)
  override def dataType: DataType = MsgpackDecodeFrame.schema
  override def nullable: Boolean = true
  override def prettyName: String = "msgpack_decode_frame"

  // One copy of the field rules (nil/Number coercion, read-side
  // defaults): FrameSerde.decodeMsgpack. This only re-shapes its
  // FrameMessage as a row.
  protected override def nullSafeEval(input: Any): Any = {
    try {
      val f = FrameSerde.decodeMsgpack(input.asInstanceOf[Array[Byte]])
      InternalRow(
        UTF8String.fromString(f.video_id),
        f.frame_number,
        DateTimeUtils.fromJavaTimestamp(f.timestamp),
        f.fps,
        f.frame_data,
        f.width,
        f.height)
    } catch {
      case _: Exception => null // malformed envelope → null row
    }
  }

  override protected def withNewChildInternal(newChild: Expression): MsgpackDecodeFrame =
    copy(child = newChild)
}

object MsgpackDecodeFrame {
  val schema: StructType = StructType(Seq(
    StructField("video_id", StringType),
    StructField("frame_number", IntegerType),
    StructField("timestamp", TimestampType),
    StructField("fps", DoubleType),
    StructField("frame_data", BinaryType),
    StructField("width", IntegerType),
    StructField("height", IntegerType)))

  def apply(c: Column): Column = Bridge.column(MsgpackDecodeFrame(Bridge.expression(c)))
}
