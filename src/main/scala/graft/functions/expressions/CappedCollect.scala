package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** A group's row count and, while that count is within the cap, its
  * members: `items(0 until count)`. `items` is null for an empty group and
  * for a group over the cap; a lone member is a one-slot array, and the
  * array doubles from there up to the cap. */
final class CappedMembers(var count: Long, var items: Array[Any]) {

  /** Adds one member; the caller keeps `count` below `maxSize` first. */
  def add(v: Any, maxSize: Long): Unit = {
    val n = count.toInt
    if (items == null) items = new Array[Any](1)
    else if (items.length == n)
      items = java.util.Arrays.copyOf(items.asInstanceOf[Array[AnyRef]],
        math.min(maxSize, 2L * n).toInt).asInstanceOf[Array[Any]]
    items(n) = v
    count += 1
  }

  /** Adds `n` rows that were not kept: the group goes over the cap. */
  def overflow(n: Long): Unit = { count += n; items = null }

  /** The members, or null once the group is over `maxSize`. */
  def members(maxSize: Long): GenericArrayData =
    if (count > maxSize) null
    else if (count == 0) new GenericArrayData(Array.empty[Any])
    else new GenericArrayData(
      if (items.length == count) items else items.take(count.toInt))
}

/** `collect_list` that gives up on a group once it holds more than
  * `maxSize` rows: the result is the group's members, or null when the
  * group is over the cap. The buffer never holds more than `maxSize`
  * members — past the cap `update` and `merge` keep only the row count —
  * so a degenerate group (one signature shared by 10⁹ rows) costs one
  * count per partial buffer and crosses the exchange as one serialized
  * count per map partition, never its members. Null inputs are skipped,
  * as `collect_list` skips them: they are neither counted nor kept.
  *
  * The buffer serializes to one (long count, array members) UnsafeRow;
  * an over-cap buffer writes its count alone. Not a SQL function. */
case class CappedCollect(child: Expression, maxSize: Long,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CappedMembers]
    with UnaryLike[Expression] {
  require(maxSize >= 1, s"capped collect needs maxSize >= 1, got $maxSize")

  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): CappedMembers =
    new CappedMembers(0L, null)

  override def update(buf: CappedMembers, input: InternalRow): CappedMembers = {
    val v = child.eval(input)
    if (v != null) {
      // an over-cap group only counts: no copy of the reused input row
      if (buf.count >= maxSize) buf.overflow(1L)
      else buf.add(InternalRow.copyValue(v), maxSize)
    }
    buf
  }

  override def merge(buf: CappedMembers, other: CappedMembers): CappedMembers = {
    if (buf.count + other.count > maxSize) buf.overflow(other.count)
    else {
      var i = 0
      while (i < other.count) { buf.add(other.items(i), maxSize); i += 1 }
    }
    buf
  }

  override def eval(buf: CappedMembers): Any = buf.members(maxSize)

  @transient private lazy val projection = UnsafeProjection.create(
    Array[DataType](LongType, dataType))

  override def serialize(buf: CappedMembers): Array[Byte] =
    projection(InternalRow(buf.count, buf.members(maxSize))).getBytes

  override def deserialize(bytes: Array[Byte]): CappedMembers = {
    val row = new UnsafeRow(2)
    row.pointTo(bytes, bytes.length)
    val buf = new CappedMembers(row.getLong(0), null)
    if (!row.isNullAt(1)) {
      val arr = row.getArray(1)
      if (arr.numElements() > 0)
        buf.items = arr.toArray[Any](child.dataType)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CappedCollect =
    copy(child = c)
  override def prettyName: String = "capped_collect"
}

object CappedCollect {
  /** Column form: the aggregate of `member` capped at `maxSize`. */
  def capped(member: Column, maxSize: Long): Column = {
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(CappedCollect(
      GraftColumnBridge.expression(member), maxSize).toAggregateExpression())
  }
}
