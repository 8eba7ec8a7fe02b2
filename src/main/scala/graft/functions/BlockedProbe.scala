package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst predicate: is `receiver ':' sender` one of the
  * broadcast [[BlockedKeys]]? The reference checks each record against
  * its blocked-users store (KafkaStreamApp.java:157-166); this is that
  * check, against a key set built once and shipped as a broadcast.
  *
  * Never null: a null receiver or sender gives false, as the
  * null-propagating `concat` key never matches. Whole-stage-codegen
  * friendly: the broadcast is one codegen reference object, and each
  * partition reads its value once into a field of the generated class.
  */
case class BlockedProbe(receiver: Expression, sender: Expression, keys: Broadcast[BlockedKeys])
    extends BinaryExpression {

  override def left: Expression = receiver
  override def right: Expression = sender
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "blocked_probe"
  override protected def stringArgs: Iterator[Any] = Iterator(receiver, sender)

  @transient private lazy val set = keys.value

  override def eval(input: InternalRow): Any =
    set.contains(receiver.eval(input).asInstanceOf[UTF8String],
      sender.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[BlockedKeys].getName
    val bc = ctx.addReferenceObj("blockedKeys", keys, classOf[Broadcast[_]].getName)
    val set = ctx.addMutableState(cls, "blockedKeys", v => s"$v = ($cls) $bc.value();",
      forceInline = true)
    val r = receiver.genCode(ctx)
    val s = sender.genCode(ctx)
    ev.copy(code = code"""
      |${r.code}
      |${s.code}
      |boolean ${ev.value} = !${r.isNull} && !${s.isNull} && $set.contains(${r.value}, ${s.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BlockedProbe =
    copy(receiver = newLeft, sender = newRight)
}

object BlockedProbe {

  /** Column-API entry point; both sides are cast to string, as `concat`
    * does.
    */
  def apply(receiver: Column, sender: Column, keys: Broadcast[BlockedKeys]): Column =
    GraftSqlBridge.column(BlockedProbe(
      GraftSqlBridge.expression(receiver.cast(StringType)),
      GraftSqlBridge.expression(sender.cast(StringType)), keys))
}
