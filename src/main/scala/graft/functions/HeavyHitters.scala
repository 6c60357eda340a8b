package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** Misra–Gries heavy-hitters summary as a native
  * TypedImperativeAggregate: `heavy_hitters(item, m)` returns the current
  * summary as `array<struct<item:string, est:long>>`, sorted by
  * (est DESC, item ASC).
  *
  * The third sketch in the approximate-profiling family (HLL++ q121,
  * GK quantiles q122): a FIXED-SIZE (≤ m entries) mergeable frequency
  * summary with the classic deterministic guarantee — for every item,
  * `est ≤ true_freq ≤ est + n/(m+1)` where n is the total count
  * aggregated, so every item with `true_freq > n/(m+1)` is GUARANTEED
  * present (Misra & Gries 1982; merge rule after Agarwal et al.,
  * "Mergeable Summaries", PODS 2012: pointwise sum, then subtract the
  * (m+1)-th largest count and drop non-positive entries).
  *
  * Scale (100 TB): the exact path (q25 word_count) shuffles every
  * distinct item; this ships ≤ m entries per map task per group, so the
  * exchange carries O(groups · m) regardless of vocabulary size — the
  * only frequency plan that holds when the item domain itself is the
  * scale problem (URLs, n-grams, user ids). The O(m) decrement sweep on
  * a full buffer amortizes: each sweep pays one unit of the n/(m+1)
  * error budget, so sweeps happen at most n/(m+1) ≈ n/m times total.
  *
  * Like q121/q122, the summary CONTENT depends on merge order (only the
  * bounds are deterministic), so queries over it are rows-only checked;
  * HeavyHittersSpec asserts the guarantees instead.
  */
case class HeavyHitters(item: Expression, mExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]] {

  private lazy val m: Int = mExpr.eval().asInstanceOf[Number].intValue

  override def children: Seq[Expression] = Seq(item, mExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est", LongType))))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    item.dataType match {
      case StringType =>
        AggArgs.positiveIntLiteral(mExpr, "heavy_hitters", "m")
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"heavy_hitters item type $other is not supported (string)")
    }

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  /** Subtract the (m+1)-th largest count from every entry and drop
    * non-positive ones — the MG overflow step, shared by update and
    * merge. No-op while ≤ m entries. */
  private def shrink(buf: mutable.HashMap[UTF8String, Long]): Unit = {
    if (buf.size > m) {
      val counts = buf.values.toArray
      java.util.Arrays.sort(counts)
      val delta = counts(counts.length - (m + 1)) // (m+1)-th largest
      buf.filterInPlace((_, c) => c > delta)
      buf.mapValuesInPlace((_, c) => c - delta)
    }
  }

  override def update(buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val it = item.eval(input)
    if (it != null) {
      val s = it.asInstanceOf[UTF8String]
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        // clone: the buffer retains the key across rows, and the eval'd
        // UTF8String may be backed by a reused unsafe buffer
        case None => buf.update(s.clone(), 1L); shrink(buf)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[UTF8String, Long],
      b2: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (s, c) =>
      b1.update(s, b1.getOrElse(s, 0L) + c)
    }
    shrink(b1)
    b1
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val sorted = buf.toArray.sortWith { (a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1.compareTo(b._1) < 0)
    }
    new GenericArrayData(sorted.map { case (s, c) =>
      new GenericInternalRow(Array[Any](s, c))
    })
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (s, c) =>
      val bytes = s.getBytes
      out.writeInt(bytes.length); out.write(bytes); out.writeLong(c)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[UTF8String, Long]
    (0 until n).foreach { _ =>
      val len = in.readInt()
      val b = new Array[Byte](len); in.readFully(b)
      buf.update(UTF8String.fromBytes(b), in.readLong())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHitters =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): HeavyHitters =
    copy(item = newChildren(0), mExpr = newChildren(1))
}

/** Shared analysis-time validation for size parameters of the native
  * aggregates (HeavyHitters.m, TopKBy.k): the value is read once via
  * `eval()` on the driver, so a non-foldable or null argument would
  * otherwise surface as an NPE deep inside execution instead of a clear
  * analysis error. */
private[functions] object AggArgs {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  def positiveIntLiteral(e: Expression, fn: String,
      name: String): TypeCheckResult = {
    if (!e.foldable)
      return TypeCheckResult.TypeCheckFailure(
        s"$fn $name must be a literal, got ${e.sql}")
    e.dataType match {
      case org.apache.spark.sql.types.ByteType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType =>
        e.eval() match {
          case null => TypeCheckResult.TypeCheckFailure(
            s"$fn $name must not be null")
          case n: Number if n.longValue > 0 && n.longValue <= Int.MaxValue =>
            TypeCheckResult.TypeCheckSuccess
          case n => TypeCheckResult.TypeCheckFailure(
            s"$fn $name must be a positive int, got $n")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"$fn $name must be an integral literal, got type $other")
    }
  }
}
