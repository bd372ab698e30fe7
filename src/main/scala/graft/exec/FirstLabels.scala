package graft.exec

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.MapData
import org.apache.spark.sql.types.{DataType, MapType}

/** Hash-aggregable `first(labels)` for the sig-grouped "labels ride
  * along" pattern: every row of a sig group carries the identical
  * canonical label content (sig = xxhash64 of the canonical string),
  * so ANY representative is correct — but Spark's builtin `first` over
  * a map type has an immutable aggregation buffer and silently demotes
  * the whole sample-volume aggregate to `SortAggregate` (the same
  * r11 trap as min(struct); `PlanAuditSpec` gates it).
  *
  * r12: native [[TypedImperativeAggregate]] over raw [[MapData]]
  * (plan: `ObjectHashAggregate` — hash-based, sort fallback only under
  * memory pressure). The r11 typed-`Aggregator` version paid a
  * per-INPUT-ROW encoder decode of map<string,string> into a Scala
  * Map — one String allocation per label entry per sample — which is
  * exactly the s13 serving regression the r11 verdict adjudicated
  * (0.47–0.90 s → 0.80–1.59 s at sf0.1). This version evaluates the
  * child only while the buffer is UNSET: the first row of a group pays
  * one `MapData.copy()`, every later row is a null-check — strictly
  * less per-row work than the builtin SortAggregate `first` (which
  * still pays the in-partition sort), and none of the encoder tax.
  * Measured A/B in SCALE.md ("FirstLabels settle", r12).
  *
  * Nulls are ignored (labels are non-null throughout the store; a
  * group of only nulls yields null). Partial buffers serialize as the
  * map packed in a single-field UnsafeRow — one map per group per
  * task, identical shuffle volume to what builtin `first` shipped. */
case class FirstMap(child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MapData] with UnaryLike[Expression] {

  override def prettyName: String = "first_labels"
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: MapType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"first_labels expects a map column, got $other")
  }

  override def createAggregationBuffer(): MapData = null

  override def update(buffer: MapData, input: InternalRow): MapData =
    if (buffer != null) buffer
    else {
      val v = child.eval(input)
      // copy: the incoming MapData is backed by scan/shuffle memory
      // that the framework reuses across rows
      if (v == null) null else v.asInstanceOf[MapData].copy()
    }

  override def merge(a: MapData, b: MapData): MapData =
    if (a != null) a else b

  override def eval(buffer: MapData): Any = buffer

  @transient private lazy val packer =
    UnsafeProjection.create(Array[DataType](child.dataType))

  override def serialize(buffer: MapData): Array[Byte] =
    if (buffer == null) Array.emptyByteArray
    // .copy(): getBytes on the projection's reused row may alias its
    // internal buffer; the copy's backing array is exact-size and fresh
    else packer(InternalRow(buffer)).copy().getBytes

  override def deserialize(bytes: Array[Byte]): MapData =
    if (bytes.isEmpty) null
    else {
      val row = new UnsafeRow(1)
      row.pointTo(bytes, bytes.length)
      row.getMap(0).copy()
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): FirstMap =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FirstMap =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FirstMap =
    copy(child = newChild)
}

object FirstLabels {
  def first(labels: Column): Column =
    GraftColumnBridge.column(
      FirstMap(GraftColumnBridge.expression(labels)).toAggregateExpression())
}
