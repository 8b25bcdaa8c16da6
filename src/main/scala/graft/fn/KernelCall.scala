package graft.fn

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, NewInstance, StaticInvoke}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A kernel expression with ONE evaluation path: `eval` and
  * `doGenCode` both run [[kernel]], a Spark `StaticInvoke` of the
  * kernel's static method over the expression's own children (built
  * with the [[Kernel]] helpers). Generated code is the direct static
  * call inside the whole-stage codegen span; the interpreted path calls
  * the same method reflectively, so the two cannot drift apart. A null
  * argument is SQL null without a call, a null result is SQL null.
  *
  * The expression keeps its case class, `prettyName` and input types,
  * so SQL names, column names, type errors and plan text stay its own
  * (`RuntimeReplaceable` would print `staticinvoke(...)` instead); its
  * `dataType` and `nullable` are the kernel's.
  */
trait KernelCall extends Expression {

  /** The one static call this expression makes. */
  protected def kernel: Expression

  @transient private lazy val call: Expression = kernel

  override def dataType: DataType = call.dataType
  override def nullable: Boolean = call.nullable
  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.genCode(ctx)
}

/** Builders for [[KernelCall.kernel]]. `target` is the Scala object
  * whose static forwarder is called; `args` are child expressions or
  * structural parameters (Int, Long, Double, Boolean), which become
  * literals.
  */
object Kernel {

  /** `java.lang.String`, for a call that returns or takes one. */
  val Str: DataType = ObjectType(classOf[String])

  /** `target.method(args)`: a null result is SQL null. */
  def call(target: AnyRef, method: String, dataType: DataType, args: Any*): Expression =
    StaticInvoke(target.getClass, dataType, method, args.map(arg))

  /** `target.method(args)` that never returns null (fixture generators,
    * total kernels): the result is null only for a null argument.
    */
  def total(target: AnyRef, method: String, dataType: DataType, args: Any*): Expression =
    StaticInvoke(target.getClass, dataType, method, args.map(arg), returnNullable = false)

  /** A `double[]`-returning call as `array<double>`. */
  def doubles(target: AnyRef, method: String, args: Any*): Expression =
    array(DoubleType, call(target, method, ObjectType(classOf[Array[Double]]), args: _*))

  /** A `long[]`-returning call as `array<bigint>`. */
  def longs(target: AnyRef, method: String, args: Any*): Expression =
    array(LongType, call(target, method, ObjectType(classOf[Array[Long]]), args: _*))

  /** A `double[][]`-returning call (per-frame feature rows) as
    * `array<array<double>>`.
    */
  def rows(target: AnyRef, method: String, args: Any*): Expression =
    total(this, "rowsData",
      ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false),
      call(target, method, ObjectType(classOf[Array[Array[Double]]]), args: _*))

  /** A [[Str]]-typed call as a SQL string. */
  def string(s: Expression): Expression =
    StaticInvoke(classOf[UTF8String], StringType, "fromString", Seq(s), returnNullable = false)

  /** A SQL string argument as a `java.lang.String`. */
  def str(e: Expression): Expression = Invoke(e, "toString", Str)

  /** The [[rows]] adapter the generated code calls: each row wrapped
    * as a Catalyst array.
    */
  def rowsData(rows: Array[Array[Double]]): ArrayData =
    new GenericArrayData(rows.map(r => new GenericArrayData(r): Any))

  private def array(element: DataType, values: Expression): Expression =
    NewInstance(classOf[GenericArrayData], Seq(values), ArrayType(element, containsNull = false))

  private def arg(a: Any): Expression = a match {
    case e: Expression => e
    case v => Literal(v)
  }
}
