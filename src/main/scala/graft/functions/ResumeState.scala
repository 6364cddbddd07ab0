package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.tables.ResumeIndex

object ResumeFunctions {

  /** `resume_state(url_key)`: the key's state in the broadcast chain index
    * (-1 done, n >= 1 prior failed attempts, 0 never attempted). */
  def resumeState(urlKey: Column, index: Broadcast[ResumeIndex]): Column =
    ColumnBridge.column(ResumeState(ColumnBridge.expression(urlKey), index))
}

/** resume_state(url_key): a binary search of the broadcast [[ResumeIndex]],
  * evaluated in the scan projection. Generated code fetches the index from
  * the broadcast once per task, when the stage initializes. */
case class ResumeState(child: Expression, index: Broadcast[ResumeIndex])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[LongType.type] = Seq(LongType)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = index.value.state(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[ResumeIndex].getName
    val bc = ctx.addReferenceObj("resumeBroadcast", index)
    val idx = ctx.addMutableState(cls, "resumeIndex", v => s"$v = ($cls) $bc.value();")
    defineCodeGen(ctx, ev, k => s"$idx.state($k)")
  }
  override protected def withNewChildInternal(c: Expression): ResumeState = copy(child = c)
  override def prettyName: String = "resume_state"
}
