package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentBatchTimestamp, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A per-query constant that generated code reads from its reference
  * array instead of inlining it as a literal.
  *
  * A micro-batch replaces `current_timestamp()` with its own batch
  * time, and codegen inlines that literal, so every batch of a stage
  * that reads it is new Java source and compiles again. Behind this
  * wrapper the source stays the same from batch to batch, and Spark's
  * generated-class cache serves it; the value itself is unchanged.
  * Any other child generates its code as usual.
  */
case class ByReference(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // folding would turn the wrapper back into an inlined literal
  override def foldable: Boolean = false

  override def eval(input: InternalRow): Any = child.eval(input)

  private def constant: Option[Any] = child match {
    case b: CurrentBatchTimestamp => Some(b.toLiteral.value)
    case l: Literal => Some(l.value)
    case _ => None
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    constant match {
      case Some(v) =>
        val ref = ctx.addReferenceObj("constant", v, CodeGenerator.boxedType(dataType))
        val javaType = CodeGenerator.javaType(dataType)
        ev.copy(code = code"""
          boolean ${ev.isNull} = $ref == null;
          $javaType ${ev.value} =
            ${ev.isNull} ? ${CodeGenerator.defaultValue(dataType)} : ($javaType) $ref;""")
      case None => child.genCode(ctx)
    }

  override protected def withNewChildInternal(newChild: Expression): ByReference =
    copy(child = newChild)
}
