package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{graftbridge => gb}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** J2 as-of (temporal nearest) join (SURVEY.md §2.3).
  *
  * The reference argmins `(t - hour)^2` over the grid time axis per track
  * point (`find_time_index`, trackplot_hycom.py:186-197, numba-jitted).
  * Spark has no native as-of join; two formulations:
  *
  *  - [[nearestBroadcast]]: right side is a small axis (grid time axis —
  *    thousands of entries max): the axis is read on the driver while
  *    the plan is built and each left row binary-searches it
  *    ([[graft.fn.Nearest1dKey]], inside the row's codegen span). No
  *    join, no aggregate, no shuffle: the left relation keeps its
  *    partitioning and row count, so it works on a stream unchanged
  *    (the stream-static case, SURVEY.md §2.8).
  *  - [[asofBackwardUnion]]: general big-big backward as-of
  *    (`last value with rt <= lt`): union the two sides tagged, single
  *    sort-partitioned window pass with `last(_, ignoreNulls)` — one
  *    shuffle on the partition keys, no cross product. This is the
  *    100 TB-safe plan for stream-stream-sized inputs.
  *
  * Nearest-tie: reference keeps the first (earliest) axis entry on exact
  * ties (strict `<`, trackplot_hycom.py:194) — reproduced as the
  * lexicographic (dist, idx) argmin.
  */
object AsofJoin {

  /** Nearest (not backward) as-of against a small axis.
    *
    * The axis is read on the driver when this is called. Built with
    * `createDataFrame` over a local Seq (every caller's case) it is a
    * local table scan, and reading it runs no Spark job; any other
    * axis runs its job here, at plan time.
    *
    * Result per row: the axis entry minimizing `(|t - axisT|, axisIdx)`,
    * distances in doubles. A null `t` gets null `{prefix}_idx` and
    * `{prefix}_t`; axis rows with a null or NaN value or a null index
    * are ignored, and an empty axis yields nulls.
    *
    * @param df      left rows (any size, batch or stream); every row is
    *                kept, in place
    * @param keyCols row identifier columns. The lookup is per row, so
    *                they need not be unique and are not used
    * @param t       left time column name (numeric or timestamp)
    * @param axis    small table (`axisIdx`: integral, `axisT`)
    * @return df + `{prefix}_idx`, `{prefix}_t` (nearest axis entry, with
    *         the axis columns' types)
    */
  def nearestBroadcast(df: DataFrame, keyCols: Seq[String], t: String,
                       axis: DataFrame, axisIdx: String, axisT: String,
                       prefix: String): DataFrame = {
    val (idx, value) = nearest(col(t), axis, axisIdx, axisT)
    df.withColumn(s"${prefix}_idx", idx).withColumn(s"${prefix}_t", value)
  }

  /** The (idx, value) columns of [[nearestBroadcast]] for any time
    * expression `t`: the axis becomes literal arrays and the lookup a
    * [[graft.fn.Nearest1dKey]] binary search over them.
    */
  def nearest(t: Column, axis: DataFrame, axisIdx: String,
              axisT: String): (Column, Column) = {
    val idxType = axis.schema(axisIdx).dataType
    val tType = axis.schema(axisT).dataType
    // executeCollect, not collect(): the rows come straight from the
    // plan, so reading the axis is not a query of its own
    val rows = axis
      .select(col(axisT).cast("double"), col(axisIdx).cast("long"), col(axisIdx), col(axisT))
      .queryExecution.executedPlan.executeCollect().toSeq
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.getDouble(0).isNaN)
      // (value as double, -0.0 folded into 0.0; index as long; index; value)
      .map(r => (r.getDouble(0) + 0.0, r.getLong(1), r.get(2, idxType), r.get(3, tType)))
    // one entry per distinct value, carrying the lowest index
    val byValue = rows.groupBy(_._1).values.map(_.minBy(_._2)).toSeq.sortBy(_._1)
    // Nearest1dKey breaks an exact midpoint to the smaller key: key each
    // entry by its rank in index order, so the tie goes to the lower index
    val byIdx = byValue.sortBy(e => (e._2, e._1))
    val rank = byIdx.map(_._1).zipWithIndex.toMap
    def arr(xs: Seq[Any], dt: DataType): Column =
      gb.column(Literal(new GenericArrayData(xs.toArray), ArrayType(dt)))
    val key = gb.column(graft.fn.Nearest1dKey(
      gb.expression(t.cast("double")),
      gb.expression(arr(byValue.map(_._1), DoubleType)),
      gb.expression(arr(byValue.map(e => rank(e._1).toLong), LongType))))
      .cast("int")
    (get(arr(byIdx.map(_._3), idxType), key), get(arr(byIdx.map(_._4), tType), key))
  }

  /** General backward as-of join: for each left row, attach `valueCols`
    * of the latest right row with `right.t <= left.t`, matching on
    * `partitionCols`. One shuffle (union + window), scales to big-big.
    */
  def asofBackwardUnion(left: DataFrame, right: DataFrame,
                        partitionCols: Seq[String], t: String,
                        valueCols: Seq[String]): DataFrame = {
    val lTagged = left
      .withColumn("__side", lit(0))
      .select((left.columns.map(col) :+ col("__side")) ++
        valueCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"__v_$c")): _*)
    val rTagged = right
      .withColumn("__side", lit(1))
      .select((left.columns.map(c =>
          if (partitionCols.contains(c) || c == t) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c)) :+ col("__side")) ++
        valueCols.map(c => col(c).as(s"__v_$c")): _*)
    val unioned = lTagged.unionByName(rTagged)
    // right rows sort before left rows at equal t => "<=" semantics
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(col(t).asc, col("__side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(unioned) { (d, c) =>
      d.withColumn(s"__v_$c", last(col(s"__v_$c"), ignoreNulls = true).over(w))
    }
    val out = filled.filter(col("__side") === 0).drop("__side")
    valueCols.foldLeft(out)((d, c) => d.withColumnRenamed(s"__v_$c", c))
  }
}
