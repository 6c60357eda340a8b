package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Grouped top-k as a native TypedImperativeAggregate: `topk_by(value,
  * key, k)` returns the k keys with the largest values (ties broken by
  * the smaller key in the key type's natural order), per group. Keys may
  * be long, int, or string.
  *
  * vs the window-function formulation (row_number + filter): no
  * per-partition sort of ALL rows and no shuffle of losers — each
  * partial buffer holds ≤ k entries, the exchange ships ≤ k rows per
  * group per map task. For "top 3 of millions per group" at 100 TB, that
  * is the difference between sorting the table and a bounded heap
  * (measured 1.15–2.8× on 6M/60M rows — PLANS.md).
  */
case class TopKBy(value: Expression, key: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.ArrayBuffer[(Double, Any)]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue
  private lazy val keyOrd: Ordering[Any] =
    TypeUtils.getInterpretedOrdering(key.dataType).asInstanceOf[Ordering[Any]]

  override def children: Seq[Expression] = Seq(value, key, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(key.dataType)

  // reject unsupported key types at ANALYSIS time — otherwise the job
  // only dies deep in the partial-aggregate shuffle at serialize()
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    key.dataType match {
      case LongType | IntegerType | StringType =>
        AggArgs.positiveIntLiteral(kExpr, "topk_by", "k")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topk_by key type $other is not supported (long, int, string)")
    }

  // largest value first; ties → smaller key. java.lang.Double.compare is
  // a TOTAL order (NaN sorts greatest) — a naive `>`/`==` comparator is
  // not a strict weak ordering under NaN and makes TimSort throw
  // "Comparison method violates its general contract"
  private def lt(a: (Double, Any), b: (Double, Any)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && keyOrd.lt(a._2, b._2))
  }

  private def trim(buf: mutable.ArrayBuffer[(Double, Any)])
      : mutable.ArrayBuffer[(Double, Any)] = {
    if (buf.length > k) {
      val kept = buf.sortWith(lt).take(k)
      buf.clear()
      buf ++= kept
    }
    buf
  }

  override def createAggregationBuffer(): mutable.ArrayBuffer[(Double, Any)] =
    mutable.ArrayBuffer.empty

  override def update(buf: mutable.ArrayBuffer[(Double, Any)],
      input: InternalRow): mutable.ArrayBuffer[(Double, Any)] = {
    val v = value.eval(input)
    val ky = key.eval(input)
    if (v != null && ky != null) {
      // copy unsafe-backed keys: the aggregate retains them across rows
      val owned = ky match {
        case s: UTF8String => s.clone()
        case other => other
      }
      buf += ((v.asInstanceOf[Number].doubleValue, owned))
      trim(buf)
    } else buf
  }

  override def merge(b1: mutable.ArrayBuffer[(Double, Any)],
      b2: mutable.ArrayBuffer[(Double, Any)]): mutable.ArrayBuffer[(Double, Any)] = {
    b1 ++= b2
    trim(b1)
  }

  override def eval(buf: mutable.ArrayBuffer[(Double, Any)]): Any =
    new GenericArrayData(buf.sortWith(lt).take(k).map(_._2).toArray)

  override def serialize(buf: mutable.ArrayBuffer[(Double, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (v, ky) =>
      out.writeDouble(v)
      key.dataType match {
        case LongType => out.writeLong(ky.asInstanceOf[Long])
        case IntegerType => out.writeInt(ky.asInstanceOf[Int])
        case StringType =>
          val bytes = ky.asInstanceOf[UTF8String].getBytes
          out.writeInt(bytes.length); out.write(bytes)
        case other => throw new UnsupportedOperationException(
          s"topk_by key type $other (supported: long, int, string)")
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.ArrayBuffer[(Double, Any)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.ArrayBuffer.empty[(Double, Any)]
    (0 until n).foreach { _ =>
      val v = in.readDouble()
      val ky: Any = key.dataType match {
        case LongType => in.readLong()
        case IntegerType => in.readInt()
        case StringType =>
          val len = in.readInt()
          val b = new Array[Byte](len); in.readFully(b)
          UTF8String.fromBytes(b)
        case other => throw new UnsupportedOperationException(
          s"topk_by key type $other (supported: long, int, string)")
      }
      buf += ((v, ky))
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKBy =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKBy =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBy =
    copy(value = newChildren(0), key = newChildren(1), kExpr = newChildren(2))
}
