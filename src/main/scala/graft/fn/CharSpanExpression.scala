package graft.fn

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `char_windows(text)` — the hash of every L-char window of the
  * row ([[TextKernels.charWindowHashes]]), the fingerprint stream of
  * exact-substring duplicate detection (Lee et al. 2022). A narrow
  * codegen expression: windows are hashed inside the scan's codegen
  * span, so the exchange that follows carries 8-byte hashes — never
  * the L-char substrings themselves (at L = 40 that is a 5×
  * shuffle-byte reduction before compression, and the only part of
  * this operator that touches every corpus byte stays on the scan
  * side).
  *
  * `xx = true` selects the xxhash64 production hasher (SQL
  * `char_windows_xx`): same windows, same positions, cheaper hash —
  * the md5 default exists for DuckDB oracle parity.
  */
case class CharWindowHashes(child: Expression, L: Int, xx: Boolean = false)
  extends UnaryExpression with ExpectsInputTypes with KernelCall {

  require(L >= 2, s"window length must be >= 2 chars, got $L")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def prettyName: String = if (xx) "char_windows_xx" else "char_windows"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "charWindowHashes",
      ArrayType(LongType, containsNull = false), child, L, xx)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Open-addressing primitive long set (load ≤ 0.5, linear probe) —
  * the broadcast side of the streaming substring-contamination
  * screen. Primitive arrays serialize flat; membership is one mix +
  * probe with no boxing.
  */
final class LongHashSet private (mask: Int, keys: Array[Long],
                                 used: Array[Boolean]) extends Serializable {
  def contains(h: Long): Boolean = {
    var slot = ((h ^ (h >>> 32)).toInt) & mask
    while (used(slot)) {
      if (keys(slot) == h) return true
      slot = (slot + 1) & mask
    }
    false
  }
  def size: Int = used.count(identity)
}

object LongHashSet {
  def apply(values: Array[Long]): LongHashSet = {
    var cap = 8
    while (cap < values.length * 2) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    values.foreach { h =>
      var slot = ((h ^ (h >>> 32)).toInt) & mask
      while (used(slot) && keys(slot) != h) slot = (slot + 1) & mask
      keys(slot) = h; used(slot) = true
    }
    new LongHashSet(mask, keys, used)
  }
}

object CharWindowHitsKernel {
  /** (n_windows, hits) of the row's L-char windows against the
    * broadcast reference set; null when the text has no window.
    */
  def score(s: UTF8String, L: Int, xx: Boolean,
            set: LongHashSet): org.apache.spark.sql.catalyst.expressions.GenericInternalRow = {
    val hs = TextKernels.charWindowHashes(s, L, xx)
    if (hs == null) return null
    var hits = 0L
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      if (set.contains(hs.getLong(i))) hits += 1L
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n.toLong, hits))
  }
}

/** SQL `char_window_hits(text)` — per-row count of L-char windows
  * present in a BROADCAST reference window-hash set: the
  * exact-substring analog of the winnow decontamination screen, and
  * the stateless streaming face of [[graft.ext.SpanDedup]] (a gate
  * needs no corpus-wide state when the reference rides the plan —
  * the q119 lesson applies: the set is a `Broadcast` HANDLE, never
  * an embedded payload).
  */
case class CharWindowHits(child: Expression, L: Int, xx: Boolean,
                          set: org.apache.spark.broadcast.Broadcast[LongHashSet])
  extends UnaryExpression with ExpectsInputTypes {

  require(L >= 2, s"window length must be >= 2 chars, got $L")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("n_windows", LongType, nullable = false),
    StructField("hits", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = if (xx) "char_window_hits_xx" else "char_window_hits"

  override protected def nullSafeEval(s: Any): Any =
    CharWindowHitsKernel.score(s.asInstanceOf[UTF8String], L, xx, set.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val setRef = ctx.addReferenceObj("cwSet", set,
      "org.apache.spark.broadcast.Broadcast")
    nullSafeCodeGen(ctx, ev, s =>
      s"""
         |org.apache.spark.sql.catalyst.expressions.GenericInternalRow ${ev.value}_r =
         |  graft.fn.CharWindowHitsKernel.score($s, $L, $xx,
         |    (graft.fn.LongHashSet) $setRef.value());
         |if (${ev.value}_r == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ${ev.value}_r;
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Sorted disjoint interval set — the O(islands) aggregation state of
  * [[IslandAgg]]. A duplicated-window start position p contributes the
  * interval [p, p+L−1]; intervals that overlap or TOUCH merge, which
  * is exactly the paper's gap ≤ L island rule on positions (span end
  * = pos + L − 1, so `nextPos − prevPos ≤ L` ⟺ the two windows' spans
  * overlap or are adjacent). Union of interval sets is associative
  * and commutative, so partial buffers combine exactly — map-side
  * combine collapses every partition's hit positions to merged spans
  * BEFORE the exchange (round 16: the previous form shuffled every
  * hit position and merged under a doc-keyed window sort).
  */
final class IslandBuffer {
  var starts = new Array[Long](8)
  var ends = new Array[Long](8)
  var size = 0

  private def grow(): Unit = {
    starts = java.util.Arrays.copyOf(starts, starts.length * 2)
    ends = java.util.Arrays.copyOf(ends, ends.length * 2)
  }

  /** Insert [s, e], merging with any overlapping-or-touching runs.
    * Ascending inserts (the common case: positions stream in document
    * order) hit the O(1) append/extend fast path.
    */
  def addInterval(s: Long, e: Long): Unit = {
    if (size > 0 && s >= starts(size - 1)) {
      // at-or-after the last interval: extend or append
      if (s <= ends(size - 1) + 1) {
        if (e > ends(size - 1)) ends(size - 1) = e
        return
      }
      if (size == starts.length) grow()
      starts(size) = s; ends(size) = e; size += 1
      return
    }
    // general (out-of-order) insert: find first interval ending at or
    // after s-1, swallow every interval starting at or before e+1
    var lo = 0
    var hi = size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ends(mid) < s - 1) lo = mid + 1 else hi = mid
    }
    var j = lo
    var ns = s
    var ne = e
    while (j < size && starts(j) <= e + 1) {
      if (starts(j) < ns) ns = starts(j)
      if (ends(j) > ne) ne = ends(j)
      j += 1
    }
    if (j == lo) {
      // no overlap: shift right, insert at lo
      if (size == starts.length) grow()
      System.arraycopy(starts, lo, starts, lo + 1, size - lo)
      System.arraycopy(ends, lo, ends, lo + 1, size - lo)
      starts(lo) = ns; ends(lo) = ne; size += 1
    } else {
      // replace [lo, j) with the merged interval
      starts(lo) = ns; ends(lo) = ne
      if (j < size) {
        System.arraycopy(starts, j, starts, lo + 1, size - j)
        System.arraycopy(ends, j, ends, lo + 1, size - j)
      }
      size -= (j - lo - 1)
    }
  }

  def mergeIn(o: IslandBuffer): Unit = {
    var i = 0
    while (i < o.size) { addInterval(o.starts(i), o.ends(i)); i += 1 }
  }

  def serialize(): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(4 + 16 * size)
    out.putInt(size)
    var i = 0
    while (i < size) { out.putLong(starts(i)); out.putLong(ends(i)); i += 1 }
    out.array()
  }

  def toArrayData: ArrayData = {
    val rows = new Array[Any](size)
    var i = 0
    while (i < size) {
      rows(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](starts(i), ends(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }
}

object IslandBuffer {
  def deserialize(bytes: Array[Byte]): IslandBuffer = {
    val in = java.nio.ByteBuffer.wrap(bytes)
    val b = new IslandBuffer
    val n = in.getInt()
    var i = 0
    // serialized form is already sorted-disjoint — ascending fast path
    while (i < n) { b.addInterval(in.getLong(), in.getLong()); i += 1 }
    b
  }
}

/** `island_agg(pos, L)` — per-group merged duplicated-window spans as
  * a sorted array of (span_start, span_end) structs, 1-based
  * inclusive: each position contributes [pos, pos+L−1] and
  * overlapping-or-touching intervals merge ([[IslandBuffer]] — the
  * gap ≤ L gaps-and-islands rule, unchanged). A mergeable
  * [[TypedImperativeAggregate]] whose state is the merged span list
  * itself (O(islands), bounded by doc_length/L), so the map-side
  * partial collapses every partition's positions to spans before the
  * doc-keyed exchange — the previous window-sort form shuffled every
  * individual hit position. Order-insensitive: no dependence on row
  * order, join strategy, or partitioning.
  */
case class IslandAgg(
    child: Expression,
    L: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[IslandBuffer]
  with ExpectsInputTypes
  with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {

  require(L >= 2, s"window length must be >= 2 chars, got $L")

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("span_start", LongType, nullable = false),
    StructField("span_end", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "island_agg"

  override def createAggregationBuffer(): IslandBuffer = new IslandBuffer

  override def update(
      b: IslandBuffer,
      input: org.apache.spark.sql.catalyst.InternalRow): IslandBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val p = v.asInstanceOf[Long]
      b.addInterval(p, p + (L - 1))
    }
    b
  }

  override def merge(b: IslandBuffer, o: IslandBuffer): IslandBuffer = {
    b.mergeIn(o); b
  }

  override def eval(b: IslandBuffer): Any = b.toArrayData

  override def serialize(b: IslandBuffer): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): IslandBuffer =
    IslandBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(
      newOffset: Int): org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(
      newOffset: Int): org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SQL `strip_char_spans(text, starts, ends)` — remove the 1-based
  * inclusive char spans [starts(i), ends(i)] (sorted, non-overlapping)
  * from the text ([[TextKernels.stripCharSpans]]). The APPLY half of
  * exact-substring dedup: spans arrive as per-doc arrays (bounded by
  * doc length / span length — the same order as the text column), so
  * the rewrite is one compiled pass per row with no shuffle of its
  * own.
  */
case class StripCharSpans(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression with ExpectsInputTypes with KernelCall {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(StringType, ArrayType(LongType), ArrayType(LongType))
  override def prettyName: String = "strip_char_spans"

  override protected def kernel: Expression =
    Kernel.call(TextKernels, "stripCharSpans", StringType, first, second, third)

  override protected def withNewChildrenInternal(
      f: Expression, sec: Expression, t: Expression): Expression =
    copy(first = f, second = sec, third = t)
}
