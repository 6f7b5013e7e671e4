package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** How a kernel's result goes NULL beyond the shared rule (a NULL input
  * gives NULL without calling the kernel). */
sealed trait NullRule
object NullRule {
  /** Never NULL on non-null inputs. */
  case object Never extends NullRule
  /** The entry point returns a null object. */
  case object Returned extends NullRule
  /** A primitive result: the entry point takes a trailing `boolean[1]`
    * and sets element 0 when the row is NULL. NaN stays a value. */
  case object Flagged extends NullRule
}

/** One row-local kernel, folded into [[KernelExpression]]: its pretty
  * name, accepted input types, result type and null rule, the Java types
  * of the per-class state its entry point reads, and that entry point —
  * the object's static `kernel` method, called by the generated code
  * with the inputs, then the Int constants, then the state slots.
  * [[eval]] is the interpreted call of the same method, so both paths
  * run the one Scala body.
  *
  * Why expressions and not UDFs: a fused kernel stays a native Catalyst
  * expression inside whole-stage codegen — no per-row Catalyst↔Scala
  * conversion, no closure dispatch, no fusion break (each kernel's
  * scaladoc measures its own case). */
abstract class Kernel(val prettyName: String, val inputTypes: Seq[DataType],
    val wants: String, val dataType: DataType,
    val nullRule: NullRule = NullRule.Never,
    val stateTypes: Seq[String] = Nil) extends Serializable {

  /** The state slots, resolved from the expression's broadcasts once per
    * generated class (never per row); by default each broadcast's value. */
  def state(bcs: Seq[Broadcast[_]]): Seq[AnyRef] = bcs.map(_.value.asInstanceOf[AnyRef])

  /** Interpreted call of `kernel`: inputs then Int constants in `in`. */
  def eval(in: Array[Any], st: Array[AnyRef]): Any

  def owner: String = getClass.getName.stripSuffix("$")
}

object Kernel {
  val Doubles: DataType = ArrayType(DoubleType)
}

/** The one codegen'd kernel expression. `consts` are broadcast handles
  * (resolved into state slots; only the handles ship with the plan) and
  * Int constants (inlined as Java literals). */
case class KernelExpression(kernel: Kernel, children: Seq[Expression],
    consts: Seq[Any] = Nil) extends Expression {

  private def flagged = kernel.nullRule == NullRule.Flagged
  @transient private lazy val ints = consts.collect { case i: Int => i }
  private def slotTypes = kernel.stateTypes ++ (if (flagged) Seq("boolean[]") else Nil)

  override def prettyName: String = kernel.prettyName
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean =
    kernel.nullRule != NullRule.Never || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val fits = got.length == kernel.inputTypes.length && got.zip(kernel.inputTypes).forall {
      case (ArrayType(g, _), ArrayType(w, _)) => g == w
      case (g, w) => g == w
    }
    if (fits) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName needs ${kernel.wants}, got " +
      (if (got.length == 1) got.head.toString
       else if (kernel.wants.startsWith("(")) got.mkString("(", ", ", ")")
       else got.mkString(" / ")))
  }

  /** Resolved once per deserialized expression (once per task); the
    * generated class copies it into its mutable-state slots. */
  @transient lazy val state: Array[AnyRef] = (kernel.state(
    consts.collect { case b: Broadcast[_] => b }) ++
    (if (flagged) Seq(new Array[Boolean](1)) else Nil)).toArray

  override def eval(input: InternalRow): Any = {
    // inputs left to right, stopping at the first NULL
    val in = children.iterator.map(_.eval(input)).takeWhile(_ != null).toArray[Any]
    if (in.length < children.length) return null
    val out = kernel.eval(in ++ ints, state)
    if (flagged && state.last.asInstanceOf[Array[Boolean]](0)) null else out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = if (slotTypes.isEmpty) "" else ctx.addReferenceObj("kernel", this)
    val slots = slotTypes.zipWithIndex.map { case (t, i) =>
      ctx.addMutableState(t, "kernelState", v => s"$v = ($t) $ref.state()[$i];")
    }
    val ins = children.map(_.genCode(ctx))
    val args = ins.map(_.value.toString) ++ ints.map(_.toString) ++ slots
    val call = s"${ev.value} = ${kernel.owner}.kernel(${args.mkString(", ")});"
    val result = kernel.nullRule match {
      case NullRule.Never => call
      case NullRule.Returned => s"$call\nif (${ev.value} == null) { ${ev.isNull} = true; }"
      case NullRule.Flagged => s"$call\nif (${slots.last}[0]) { ${ev.isNull} = true; }"
    }
    val decl = s"${CodeGenerator.javaType(dataType)} ${ev.value} = " +
      s"${CodeGenerator.defaultValue(dataType)};"
    val shape =
      if (!nullable) s"${ins.map(_.code).mkString("\n")}\n$decl\n$result"
      else if (ins.length == 1) // UnaryExpression.nullSafeCodeGen's shape
        s"${ins.head.code}\nboolean ${ev.isNull} = ${ins.head.isNull};\n$decl\n" +
          ctx.nullSafeExec(children.head.nullable, ins.head.isNull.toString)(result)
      else // BinaryExpression's: each input evaluates under the earlier ones' non-null
        s"boolean ${ev.isNull} = true;\n$decl\n" +
          ins.zip(children).foldRight(s"${ev.isNull} = false;\n$result") {
            case ((g, c), acc) =>
              s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(acc)
          }
    ev.copy(code = code"$shape", isNull = if (nullable) ev.isNull else FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}
