package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The one state format of graft's event-time `flatMapGroupsWithState`
  * operators ([[ReceiptState]], [[graft.streaming.PitStream]],
  * [[Dedup.withRefreshTtl]]): a key's state is ONE `binary` value holding
  * its members, each a tag, an event time and the tag's payload columns.
  *
  * Spark re-resolves a streaming state encoder every trigger. A state that
  * holds an array, map, `Seq` or `List` decodes through `MapObjects`, which
  * draws fresh lambda-variable names each time, so its decoder misses the
  * code cache and Janino recompiles it once per trigger while the other
  * state tasks wait on the codegen lock (`ReceiptState`'s `array<tagged
  * row>` state: a 2,308-line projection per trigger in perfbench
  * `near_stream`). A `binary` value's decoder is the same code every
  * trigger. `StateCodecSpec` fails on any other `GroupState` type in the
  * main sources but an allowlisted flat case class.
  */
object StateCodec {

  /** One held member: its tag (`topic`), its event time in the caller's
    * unit, and its tag's payload columns as the external values Spark's
    * `Row` holds (null for a NULL).
    */
  final case class Member(topic: Int, t: Long, payload: Seq[Any])

  /** Members ⇄ one state blob, written field by field after the payload
    * schema (`types`, one struct per tag): a member count, then per member
    * its tag byte, time and its own tag's payload, each nullable value
    * behind a presence byte. Strings are UTF-8 with a length; decimals the
    * unscaled two's-complement bytes at the column's scale; timestamps µs.
    * No Java serialization and no generated code: nothing here is compiled
    * per task or per trigger.
    *
    * It holds exactly string, int, long, double, decimal and timestamp
    * columns; any other type fails at construction, naming the column. The
    * layout is what a resumed checkpoint reads back, so it does not change:
    * `ReceiptStateSpec` pins the bytes of a fixed member set.
    */
  final class Codec(types: Seq[StructType]) extends Serializable {
    for (t <- types; f <- t.fields) f.dataType match {
      case StringType | IntegerType | LongType | DoubleType | TimestampType | _: DecimalType =>
      case other => throw new IllegalArgumentException(
        s"the state codec cannot hold column `${f.name}` of type ${other.simpleString}: " +
          "it takes string, int, long, double, decimal and timestamp")
    }
    private val fields: Array[Array[DataType]] = types.map(_.fields.map(_.dataType)).toArray
    // the external timestamp class the Row encoders of this plan use
    private val instants = SQLConf.get.datetimeJava8ApiEnabled

    def encode(ms: Seq[Member]): Array[Byte] = {
      val buf = new ByteArrayOutputStream(64 * ms.size + 4)
      val out = new DataOutputStream(buf)
      def bytes(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
      out.writeInt(ms.size)
      ms.foreach { m =>
        out.writeByte(m.topic)
        out.writeLong(m.t)
        fields(m.topic).iterator.zip(m.payload.iterator).foreach { case (t, v) =>
          out.writeBoolean(v != null)
          if (v != null) t match {
            case StringType => bytes(v.asInstanceOf[String].getBytes(UTF_8))
            case IntegerType => out.writeInt(v.asInstanceOf[Int])
            case LongType => out.writeLong(v.asInstanceOf[Long])
            case DoubleType => out.writeDouble(v.asInstanceOf[Double])
            case TimestampType => out.writeLong(DateTimeUtils.anyToMicros(v))
            case d: DecimalType =>
              bytes(v.asInstanceOf[java.math.BigDecimal].setScale(d.scale).unscaledValue.toByteArray)
          }
        }
      }
      out.flush()
      buf.toByteArray
    }

    def decode(blob: Array[Byte]): Vector[Member] = {
      val in = new DataInputStream(new ByteArrayInputStream(blob))
      def bytes(): Array[Byte] = { val b = new Array[Byte](in.readInt()); in.readFully(b); b }
      Vector.fill(in.readInt()) {
        val topic = in.readByte().toInt
        val t = in.readLong()
        val payload = fields(topic).map[Any] { f =>
          if (!in.readBoolean()) null else f match {
            case StringType => new String(bytes(), UTF_8)
            case IntegerType => in.readInt()
            case LongType => in.readLong()
            case DoubleType => in.readDouble()
            case TimestampType =>
              val us = in.readLong()
              if (instants) DateTimeUtils.microsToInstant(us) else DateTimeUtils.toJavaTimestamp(us)
            case d: DecimalType => new java.math.BigDecimal(new java.math.BigInteger(bytes()), d.scale)
          }
        }
        Member(topic, t, ArraySeq.unsafeWrapArray(payload))
      }
    }
  }
}
