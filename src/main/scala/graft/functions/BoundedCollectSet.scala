package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** `collect_set` with a HARD distinct-size bound enforced INSIDE the
  * aggregation buffer: the moment any group's set would exceed `cap`,
  * the task fails with a message naming the cap — before the over-cap
  * group ever materializes, in the partial aggregate, the merge, or the
  * final pass, whichever sees it first.
  *
  * This is the fail-loud cap the pair generators need at 100 TB
  * (VERDICT r5 #4): the post-aggregation `raise_error` guard only fires
  * after `collect_set` has built the whole over-cap array, so a
  * pathological group OOMs an executor before it errors. A
  * pre-aggregation COUNT pass was built and measured first (r6,
  * PLAN_AUDIT.md "r6 measured experiments"): +70–130% on
  * q11/q25/q26/q79 — mostly-unique grouping keys defeat map-side
  * combine and the extra pass re-pays the generator's input lineage,
  * the same failure mode as the r5 q95 count-gate — and was rejected.
  * Moving the bound into the buffer costs one integer compare per new
  * element and nothing else: the plan
  * is byte-identical to plain `collect_set` apart from this function.
  *
  * Buffer layout, serialization, and element copying mirror Spark's own
  * `CollectSet` (TypedImperativeAggregate with an UnsafeProjection-coded
  * array payload), so partial aggregation, spilling, and whole-plan
  * placement behave exactly like the built-in.
  */
case class BoundedCollectSet(
    child: Expression,
    cap: Int,
    opName: String,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashSet[Any]]
    with UnaryLike[Expression] {

  require(cap > 0, s"bounded_collect_set cap must be positive, got $cap")

  override def prettyName: String = "bounded_collect_set"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType, containsNull = false)

  /** Same analysis-time rejection as Spark's `CollectSet`: `MapData` has
    * no value-based equals/hashCode, so a map-typed child would make the
    * HashSet identity-distinct — duplicates counted toward the cap (a
    * spurious overflow error) or returned as "distinct" values. */
  override def checkInputDataTypes(): TypeCheckResult = {
    // DataType.existsRecursively is private[sql]; the recursion is three
    // container cases
    def hasMap(dt: DataType): Boolean = dt match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    if (hasMap(child.dataType))
      TypeCheckResult.TypeCheckFailure(
        "bounded_collect_set() cannot have map type data")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): mutable.HashSet[Any] = mutable.HashSet.empty

  private def checkCap(buffer: mutable.HashSet[Any]): mutable.HashSet[Any] = {
    if (buffer.size > cap)
      throw new IllegalStateException(
        s"$opName: group exceeds maxGroupSize=$cap — raise the cap, pre-shard " +
          "the hot key, or opt into truncation (failed while accumulating, " +
          "before the over-cap group materialized)")
    buffer
  }

  override def update(buffer: mutable.HashSet[Any], input: InternalRow): mutable.HashSet[Any] = {
    val value = child.eval(input)
    if (value != null) {
      // copy: non-primitive eval results (UTF8String, arrays) are backed
      // by buffers the scan reuses across rows
      buffer += InternalRow.copyValue(value)
      checkCap(buffer)
    }
    buffer
  }

  override def merge(buffer: mutable.HashSet[Any],
                     other: mutable.HashSet[Any]): mutable.HashSet[Any] = {
    buffer ++= other
    checkCap(buffer)
  }

  override def eval(buffer: mutable.HashSet[Any]): Any =
    new GenericArrayData(buffer.toArray)

  private lazy val projection =
    UnsafeProjection.create(Array[DataType](ArrayType(child.dataType, containsNull = false)))

  override def serialize(buffer: mutable.HashSet[Any]): Array[Byte] =
    projection.apply(InternalRow.apply(new GenericArrayData(buffer.toArray))).getBytes

  override def deserialize(bytes: Array[Byte]): mutable.HashSet[Any] = {
    val buffer = createAggregationBuffer()
    val row = new UnsafeRow(1)
    row.pointTo(bytes, bytes.length)
    row.getArray(0).foreach(child.dataType, (_, value: Any) => buffer += value)
    buffer
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedCollectSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedCollectSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): BoundedCollectSet =
    copy(child = newChild)
}
