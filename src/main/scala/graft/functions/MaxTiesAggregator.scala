package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import scala.collection.mutable.ArrayBuffer

/** The maximum of an exact decimal and every key tied at it, as one
  * typed Aggregator: the max-of-an-aggregate selection (TPC-H Q15)
  * without a second pass that broadcasts the max back. Like
  * [[TopKAggregator]], map-side partial aggregation keeps a bounded
  * buffer: only the running max and its ties leave a partition, so the
  * shuffle carries ties × partitions rows, not the input.
  *
  * Ties are decimal EQUALITY (`compareTo`), never float equality. A
  * NULL value never competes, as in SQL's `max`; a NULL key competes
  * like any other. The finished value is (max, tied keys in ascending
  * order, NULL first); (NULL, empty) when no value is non-NULL. The max
  * leaves as the encoder's DECIMAL(38,18): exact below 10²⁰.
  */
object MaxTiesAggregator extends Aggregator[(java.math.BigDecimal, Option[Long]),
    (java.math.BigDecimal, ArrayBuffer[Option[Long]]),
    (java.math.BigDecimal, Seq[Option[Long]])] {

  private type Buf = (java.math.BigDecimal, ArrayBuffer[Option[Long]])

  override def zero: Buf = (null, ArrayBuffer.empty)

  override def reduce(buf: Buf, in: (java.math.BigDecimal, Option[Long])): Buf =
    merge(buf, (in._1, ArrayBuffer(in._2)))

  override def merge(a: Buf, b: Buf): Buf =
    if (b._1 == null) a
    else if (a._1 == null) b
    else a._1.compareTo(b._1) match {
      case 0 => a._2 ++= b._2; a
      case c if c > 0 => a
      case _ => b
    }

  override def finish(buf: Buf): (java.math.BigDecimal, Seq[Option[Long]]) =
    (buf._1, buf._2.sorted.toSeq)

  override def bufferEncoder: Encoder[Buf] = Encoders.kryo[Buf]

  override def outputEncoder: Encoder[(java.math.BigDecimal, Seq[Option[Long]])] =
    ExpressionEncoder[(java.math.BigDecimal, Seq[Option[Long]])]()
}
