package graft.fn

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._

/** Mutable (n, Σx, packed-upper Σx⊗x) moment state with a reusable
  * per-buffer scratch vector: the FUSED moment aggregate — summing a
  * per-row outer product instead materializes a d(d+1)/2-double array
  * PER ROW (16 KB at d = 64) only for the aggregate to immediately
  * reduce it away; at sf10 that
  * allocation churn WAS q113's cost (measured 2.2× the oracle
  * engine). Here each row is read once from its ArrayData into the
  * scratch and accumulated straight into the state with no
  * intermediate allocation at all.
  */
final class VecMomentsBuf {
  var n: Long = 0L
  var d: Int = -1
  var sx: Array[Double] = null
  var sxx: Array[Double] = null
  @transient private var scratch: Array[Double] = null

  def add(arr: ArrayData): Unit = {
    val dim = arr.numElements()
    if (d < 0) {
      d = dim
      sx = new Array[Double](d)
      sxx = new Array[Double](d * (d + 1) / 2)
    }
    require(dim == d, s"vec_moments: dim $dim != first-row dim $d")
    if (scratch == null || scratch.length < d) scratch = new Array[Double](d)
    val x = scratch
    var i = 0
    while (i < d) {
      // fail loudly: a null element would silently read as 0.0 from
      // UnsafeArrayData and skew every downstream moment
      require(!arr.isNullAt(i), s"vec_moments: null element at $i")
      x(i) = arr.getDouble(i)
      i += 1
    }
    var k = 0
    i = 0
    while (i < d) {
      val xi = x(i)
      sx(i) += xi
      var j = i
      while (j < d) { sxx(k) += xi * x(j); k += 1; j += 1 }
      i += 1
    }
    n += 1L
  }

  def mergeIn(o: VecMomentsBuf): Unit = {
    if (o.d < 0) return
    if (d < 0) { d = o.d; sx = o.sx.clone(); sxx = o.sxx.clone(); n = o.n; return }
    require(o.d == d, s"vec_moments: merging dim ${o.d} into $d")
    var i = 0
    while (i < sx.length) { sx(i) += o.sx(i); i += 1 }
    i = 0
    while (i < sxx.length) { sxx(i) += o.sxx(i); i += 1 }
    n += o.n
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(n)
    out.writeInt(d)
    if (d >= 0) {
      var i = 0
      while (i < sx.length) { out.writeDouble(sx(i)); i += 1 }
      i = 0
      while (i < sxx.length) { out.writeDouble(sxx(i)); i += 1 }
    }
    out.flush()
    bos.toByteArray
  }
}

object VecMomentsBuf {
  def deserialize(bytes: Array[Byte]): VecMomentsBuf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new VecMomentsBuf
    b.n = in.readLong()
    b.d = in.readInt()
    if (b.d >= 0) {
      b.sx = new Array[Double](b.d)
      b.sxx = new Array[Double](b.d * (b.d + 1) / 2)
      var i = 0
      while (i < b.sx.length) { b.sx(i) = in.readDouble(); i += 1 }
      i = 0
      while (i < b.sxx.length) { b.sxx(i) = in.readDouble(); i += 1 }
    }
    b
  }
}

/** `vec_moments(x)` — one-pass (n, Σx, packed-upper Σx⊗x) as a
  * native [[TypedImperativeAggregate]]: O(d²) state per task, map-side
  * combine, the driver receives 1 + d + d(d+1)/2 doubles at ANY row
  * count. Returns `struct<n: long, sx: array<double>,
  * sxx: array<double>>`; null vectors are skipped; mixed dims fail
  * loudly. Feeds [[graft.ext.VecStats.meanCovariance]]/whitening.
  */
case class VecMomentsAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMomentsBuf]
  with ExpectsInputTypes with UnaryLike[Expression] {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType, containsNull = false))
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sx", ArrayType(DoubleType, containsNull = false)),
    StructField("sxx", ArrayType(DoubleType, containsNull = false))))
  override def nullable: Boolean = false
  override def prettyName: String = "vec_moments"

  override def createAggregationBuffer(): VecMomentsBuf = new VecMomentsBuf

  override def update(b: VecMomentsBuf, input: InternalRow): VecMomentsBuf = {
    val v = child.eval(input)
    if (v != null) b.add(v.asInstanceOf[ArrayData])
    b
  }

  override def merge(b: VecMomentsBuf, o: VecMomentsBuf): VecMomentsBuf = {
    b.mergeIn(o); b
  }

  override def eval(b: VecMomentsBuf): Any = {
    val sx = if (b.d < 0) Array.empty[Double] else b.sx
    val sxx = if (b.d < 0) Array.empty[Double] else b.sxx
    new GenericInternalRow(Array[Any](b.n,
      new GenericArrayData(sx), new GenericArrayData(sxx)))
  }

  override def serialize(b: VecMomentsBuf): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): VecMomentsBuf =
    VecMomentsBuf.deserialize(bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
