package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `bounded_distinct_each(arr, k)` — [[BoundedDistinct]] applied to each
  * position of a string array at once: for element `i`, the number of
  * rows whose `arr[i]` is non-null and the `k` smallest distinct values
  * it held, as `array<struct<n: bigint, values: array<string>>>`.
  *
  * One aggregate then summarizes any number of per-row checks, each an
  * array position that is null where its check passes. Its input is a
  * single `array<string>` column whatever the checks are, so the plans
  * of two tables with different schemas share their generated code.
  * A null array counts as all-null. The result has as many elements as
  * the longest array seen, none when every array was null; a caller
  * reads a missing element as a count of 0.
  */
case class BoundedDistinctEach(
    child: Expression,
    maxValues: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BoundedDistinctEach.Slots] {
  import BoundedDistinctEach.Slots

  def this(child: Expression, max: Expression) =
    this(child, BoundedDistinct.extractMax(max))

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bounded_distinct_each expects array<string>, got ${t.simpleString}")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BoundedDistinctEach =
    copy(child = newChildren.head)

  override def createAggregationBuffer(): Slots = new Slots

  override def update(buf: Slots, input: InternalRow): Slots = {
    val v = child.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      buf.grow(a.numElements())
      var i = 0
      while (i < a.numElements()) {
        if (!a.isNullAt(i)) {
          buf.counts(i) += 1
          BoundedDistinct.add(buf.samples(i), a.getUTF8String(i), maxValues)
        }
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Slots, other: Slots): Slots = {
    buf.grow(other.counts.size)
    other.counts.indices.foreach { i =>
      buf.counts(i) += other.counts(i)
      other.samples(i).foreach(BoundedDistinct.add(buf.samples(i), _,
        maxValues))
    }
    buf
  }

  override def eval(buf: Slots): Any =
    new GenericArrayData(buf.counts.indices.map(i => InternalRow(
      buf.counts(i), new GenericArrayData(buf.samples(i).toArray[Any])))
      .toArray[Any])

  override def serialize(buf: Slots): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.counts.size)
    buf.counts.indices.foreach { i =>
      out.writeLong(buf.counts(i))
      BoundedDistinct.write(out, buf.samples(i))
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Slots = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Slots
    (0 until in.readInt()).foreach { _ =>
      buf.counts += in.readLong()
      buf.samples += BoundedDistinct.read(in)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): BoundedDistinctEach =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): BoundedDistinctEach =
    copy(inputAggBufferOffset = offset)

  override def nullable: Boolean = false
  override def dataType: DataType = BoundedDistinctEach.ResultType
  override def prettyName: String = "bounded_distinct_each"
}

object BoundedDistinctEach {
  /** Per array position: its non-null count and its bounded sample. */
  final class Slots {
    val counts = mutable.ArrayBuffer[Long]()
    val samples = mutable.ArrayBuffer[mutable.TreeSet[UTF8String]]()

    def grow(n: Int): Unit = while (counts.size < n) {
      counts += 0L
      samples += mutable.TreeSet.empty[UTF8String]
    }
  }

  val ResultType: DataType = ArrayType(StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("values", ArrayType(StringType, containsNull = false),
      nullable = false))), containsNull = false)

  def each(arr: Column, k: Int): Column =
    GraftSqlShim.column(BoundedDistinctEach(
      GraftSqlShim.expression(arr), k).toAggregateExpression())

  /** Function metadata + builder for registry injection. */
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[BoundedDistinctEach].getName, "bounded_distinct_each")

  val builder: Seq[Expression] => Expression = {
    case Seq(child, max) => new BoundedDistinctEach(child, max)
    case args => throw new IllegalArgumentException(
      s"bounded_distinct_each expects 2 args, got ${args.size}")
  }
}
