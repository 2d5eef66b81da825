package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

/** SpaceSaving (Metwally et al.) heavy-hitters aggregate over long
  * keys: at most k counters per group, each an (estimate, error)
  * pair, merged with the Agarwal-et-al. mergeable-summaries rule —
  * the one-pass bounded-memory alternative to `cms_topk`'s
  * sketch+candidate-set two-step (CMS needs the candidate keys a
  * second pass or an exact distinct provides; SpaceSaving carries its
  * own candidates).
  *
  * Guarantees (unit-tested, both partition-order-robust):
  *   - est ∈ [true, true + err] for every reported key;
  *   - any key with true frequency > 2n/k appears in the output
  *     (single-summary bound is n/k; merging at most doubles the
  *     threshold at this test's fan-in).
  * The EXACT composition of the tail is merge-order-dependent — that
  * is inherent to the structure, so the aggregate is a unit-tested
  * engine component (SURVEY §L), not a hash-oracled query.
  *
  * Scale shape: the entire point — map tasks ship ≤ k counters per
  * group regardless of input rows, so "top sellers per region over
  * 100 TB" shuffles O(groups·k), never O(rows), and the driver/final
  * reducer holds k counters, never a vocabulary.
  */
case class SpaceSaving(k: Int, child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[Long, (Long, Long)]] {

  override def createAggregationBuffer(): mutable.HashMap[Long, (Long, Long)] =
    mutable.HashMap.empty

  private def minEst(buf: mutable.HashMap[Long, (Long, Long)]): Long =
    if (buf.size < k) 0L else buf.valuesIterator.map(_._1).min

  override def update(buf: mutable.HashMap[Long, (Long, Long)],
      input: InternalRow): mutable.HashMap[Long, (Long, Long)] = {
    val v = child.eval(input)
    if (v != null) {
      val key = v.asInstanceOf[Long]
      buf.get(key) match {
        case Some((est, err)) => buf.update(key, (est + 1, err))
        case None if buf.size < k => buf.update(key, (1L, 0L))
        case None =>
          // evict the minimum-estimate counter (key tiebreak for
          // determinism within one buffer) and inherit its estimate
          // as the newcomer's error bound — the SpaceSaving step
          val (mKey, (mEst, _)) = buf.minBy { case (ky, (e, _)) => (e, ky) }
          buf.remove(mKey)
          buf.update(key, (mEst + 1, mEst))
      }
    }
    buf
  }

  override def merge(buf: mutable.HashMap[Long, (Long, Long)],
      other: mutable.HashMap[Long, (Long, Long)]): mutable.HashMap[Long, (Long, Long)] = {
    // mergeable-summaries rule: a key absent from one side is charged
    // that side's minimum estimate (its maximum possible count there),
    // both as estimate and as error; then keep the k largest.
    val mA = minEst(buf)
    val mB = minEst(other)
    val keys = buf.keySet ++ other.keySet
    val merged = keys.iterator.map { key =>
      val (ea, ra) = buf.getOrElse(key, (mA, mA))
      val (eb, rb) = other.getOrElse(key, (mB, mB))
      key -> (ea + eb, ra + rb)
    }.toSeq
    val kept = merged.sortBy { case (ky, (e, _)) => (-e, ky) }.take(k)
    buf.clear()
    kept.foreach { case (ky, v) => buf.update(ky, v) }
    buf
  }

  override def eval(buf: mutable.HashMap[Long, (Long, Long)]): Any = {
    val sorted = buf.toArray.sortBy { case (ky, (e, _)) => (-e, ky) }
    new GenericArrayData(sorted.map { case (ky, (e, r)) =>
      InternalRow(ky, e, r)
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[Long, (Long, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (ky, (e, r)) =>
      out.writeLong(ky); out.writeLong(e); out.writeLong(r)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[Long, (Long, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = createAggregationBuffer()
    var i = 0
    while (i < n) {
      val ky = in.readLong(); val e = in.readLong(); val r = in.readLong()
      buf.update(ky, (e, r)); i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", LongType), StructField("est", LongType),
    StructField("err", LongType))))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = child :: Nil
  override def withNewMutableAggBufferOffset(off: Int): SpaceSaving =
    copy(mutableAggBufferOffset = off)
  override def withNewInputAggBufferOffset(off: Int): SpaceSaving =
    copy(inputAggBufferOffset = off)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object SpaceSaving {
  /** Register `graft_spacesaving(k, key)` (idempotent). */
  def register(spark: SparkSession): Unit =
    registerOnce(spark, "graft_spacesaving")
}
