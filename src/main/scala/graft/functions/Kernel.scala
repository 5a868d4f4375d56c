package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** One native kernel, declared once: its SQL name, how many column
  * children it takes, its named integer static arguments (shingle
  * width, hash count, window — they parameterize the call, not per-row
  * data) with their range checks, and which static method of
  * `graft.functions` computes it for which child types.
  *
  * Every declaration is an `object` (so it serializes as itself and
  * compares by identity) and doubles as the kernel's Column-API entry
  * point; [[GraftFunctions.all]] lists them for the SQL surface. The
  * one Catalyst expression that runs any of them is [[NativeKernel]].
  *
  * @param mayReturnNull the kernel itself may return null on non-null
  *                      input (the MinHash kernels on short text)
  */
abstract class Kernel(val name: String, val arity: Int, val staticNames: Seq[String],
                      val mayReturnNull: Boolean = false) extends Serializable {

  /** Range checks on the static arguments: one `require` per rule. */
  def check(statics: Seq[Int]): Unit = ()

  /** The child types (and statics) → the type-check failure message, or
    * the static method (`Object.method` under `graft.functions`) called
    * as `method(child…, static…)` and its result type.
    */
  def bind(types: Seq[DataType], statics: Seq[Int]): Either[String, (String, DataType)]

  /** [[bind]] for one string child of any collation. */
  protected def stringChild(t: Seq[DataType], method: String,
                            result: DataType): Either[String, (String, DataType)] =
    if (t.head.isInstanceOf[StringType]) Right(method -> result)
    else Left(s"$name needs a string child, got ${t.head}")

  /** Column-API call: `children` then `statics`. */
  protected def call(children: Seq[Column], statics: Int*): Column =
    bridge.column(NativeKernel(this, statics, children.map(bridge.expression)))

  /** SQL builder: `name(child…, static…)`, statics as integer literals. */
  def build(args: Seq[Expression]): Expression = {
    val n = arity + staticNames.length
    if (args.length != n) throw new IllegalArgumentException(
      s"$name expects $n arguments, got ${args.length}")
    val statics = args.drop(arity).zip(staticNames).map {
      case (Literal(v: Int, IntegerType), _) => v
      case (other, what) => throw new IllegalArgumentException(
        s"$name: $what must be an integer literal, got $other")
    }
    NativeKernel(this, statics, args.take(arity))
  }

  protected def longs: DataType = ArrayType(LongType, containsNull = false)

  override def toString: String = name
  // by name, not identity: plan hashes (and the subexpression order
  // they drive) must not vary between JVMs
  override def hashCode: Int = name.hashCode
}

/** The Catalyst expression for any [[Kernel]]: `name(child…, static…)`
  * evaluates to `method(child…, static…)`, null when any child is null.
  * Interpreted eval calls the static method the generated code names
  * (resolved once by reflection), and the generated code is exactly
  * what `UnaryExpression`/`BinaryExpression.nullSafeCodeGen` emit for
  * one and two children, so whole-stage sources (and the codegen cache
  * keys built from them) read as if each kernel were its own
  * unary/binary expression class.
  */
case class NativeKernel(kernel: Kernel, statics: Seq[Int], children: Seq[Expression])
    extends Expression {
  kernel.check(statics)

  @transient private lazy val bound: (String, DataType) =
    kernel.bind(children.map(_.dataType), statics)
      .fold(msg => throw new IllegalStateException(msg), identity)

  @transient private lazy val method: Method = {
    val (obj, name) = bound._1.splitAt(bound._1.lastIndexOf('.'))
    Class.forName(s"graft.functions.$obj").getMethods
      .find(m => m.getName == name.tail && Modifier.isStatic(m.getModifiers)).get
  }

  override def checkInputDataTypes(): TypeCheckResult = kernel.bind(children.map(_.dataType),
    statics).fold(TypeCheckResult.TypeCheckFailure, _ => TypeCheckResult.TypeCheckSuccess)

  override def dataType: DataType = bound._2
  override def nullable: Boolean = kernel.mayReturnNull || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator ++ statics.iterator

  override def eval(input: InternalRow): Any = {
    // children left to right, stopping at the first null (as Binary/UnaryExpression do)
    val values = children.iterator.map(_.eval(input).asInstanceOf[AnyRef])
      .takeWhile(_ != null).toSeq
    if (values.length < children.length) null
    else try method.invoke(null, values ++ statics.map(Int.box): _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val invoke = s"${ev.value} = graft.functions.${bound._1}(" +
      (gens.map(_.value.toString) ++ statics.map(_.toString)).mkString(", ") + ");"
    val resultCode =
      if (kernel.mayReturnNull) s"\n$invoke\n${ev.isNull} = ${ev.value} == null;\n"
      else invoke
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    ((gens, nullable): @unchecked) match {
      case (Seq(c), true) =>
        val nullSafeEval = ctx.nullSafeExec(children.head.nullable, c.isNull)(resultCode)
        ev.copy(code = code"""
        ${c.code}
        boolean ${ev.isNull} = ${c.isNull};
        $javaType ${ev.value} = $default;
        $nullSafeEval
      """)
      case (Seq(c), false) =>
        ev.copy(code = code"""
        ${c.code}
        $javaType ${ev.value} = $default;
        $resultCode""", isNull = FalseLiteral)
      case (Seq(l, r), true) =>
        val nullSafeEval =
          l.code.toString + ctx.nullSafeExec(children(0).nullable, l.isNull) {
            r.code.toString + ctx.nullSafeExec(children(1).nullable, r.isNull) {
              s"""
              ${ev.isNull} = false; // resultCode could change nullability.
              $resultCode
            """
            }
          }
        ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $nullSafeEval
      """)
      case (Seq(l, r), false) =>
        ev.copy(code = code"""
        ${l.code}
        ${r.code}
        $javaType ${ev.value} = $default;
        $resultCode""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeKernel =
    copy(children = newChildren)
}
