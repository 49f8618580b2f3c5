package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bounded_distinct(expr, k)` — the `k` *smallest* distinct string
  * values of `expr`, sorted: a deterministic bounded sample.
  *
  * The reference reports *distinct offending values* per error
  * (errors.py shape, SURVEY.md §2.3). At 100 TB, `collect_set` is the
  * wrong tool: its aggregation buffer grows with column cardinality and
  * can OOM an executor before the post-hoc `slice()` bounds the result.
  * This native `TypedImperativeAggregate` (the same machinery as Spark's
  * own collect_set) caps the buffer at `k` entries on both the partial
  * and final aggregation paths — O(k) memory per task regardless of
  * data volume — and keeping the k smallest makes the result independent
  * of partitioning and row order (same answer on any cluster layout).
  */
case class BoundedDistinct(
    child: Expression,
    maxValues: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.TreeSet[UTF8String]] {
  import BoundedDistinct.{add, read, write}

  def this(child: Expression, max: Expression) =
    this(child, BoundedDistinct.extractMax(max))

  def this(child: Expression) = this(child, 100)

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedDistinct =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): mutable.TreeSet[UTF8String] =
    mutable.TreeSet.empty[UTF8String]

  override def update(
      buf: mutable.TreeSet[UTF8String],
      input: InternalRow): mutable.TreeSet[UTF8String] = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[UTF8String], maxValues)
    buf
  }

  override def merge(
      buf: mutable.TreeSet[UTF8String],
      other: mutable.TreeSet[UTF8String]): mutable.TreeSet[UTF8String] = {
    other.foreach(add(buf, _, maxValues))
    buf
  }

  override def eval(buf: mutable.TreeSet[UTF8String]): Any =
    new GenericArrayData(buf.toArray[Any])

  override def serialize(buf: mutable.TreeSet[UTF8String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    write(out, buf)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.TreeSet[UTF8String] =
    read(new DataInputStream(new ByteArrayInputStream(bytes)))

  override def withNewMutableAggBufferOffset(offset: Int): BoundedDistinct =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): BoundedDistinct =
    copy(inputAggBufferOffset = offset)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bounded_distinct"
}

object BoundedDistinct {
  /** Insert `v` into `buf`, keeping only the `k` smallest distinct values. */
  private[functions] def add(
      buf: mutable.TreeSet[UTF8String], v: UTF8String, k: Int): Unit =
    if (buf.size < k) {
      // clone: the UTF8String may point into a reused buffer
      buf += v.clone()
    } else if (v.compareTo(buf.last) < 0 && !buf.contains(v)) {
      buf -= buf.last
      buf += v.clone()
    }

  private[functions] def write(
      out: DataOutputStream, buf: mutable.TreeSet[UTF8String]): Unit = {
    out.writeInt(buf.size)
    buf.foreach { s =>
      val b = s.getBytes
      out.writeInt(b.length)
      out.write(b)
    }
  }

  private[functions] def read(in: DataInputStream): mutable.TreeSet[UTF8String] = {
    val n = in.readInt()
    val buf = mutable.TreeSet.empty[UTF8String]
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      buf += UTF8String.fromBytes(b)
      i += 1
    }
    buf
  }

  private[functions] def extractMax(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other =>
      throw new IllegalArgumentException(
        s"bounded_distinct max must be an integer literal, got $other")
  }

  /** Function metadata + builder for registry injection. */
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[BoundedDistinct].getName, "bounded_distinct")

  val builder: Seq[Expression] => Expression = {
    case Seq(child) => new BoundedDistinct(child)
    case Seq(child, max) => new BoundedDistinct(child, max)
    case args => throw new IllegalArgumentException(
      s"bounded_distinct expects 1 or 2 args, got ${args.size}")
  }
}
