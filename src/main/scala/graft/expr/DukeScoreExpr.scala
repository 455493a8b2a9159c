package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.core.DukeArrayKernel
import graft.model.MatchConfig

/** The production Duke kernel (`graft.core.DukeArrayKernel`) as a Catalyst
  * expression. children = [a_p0, b_p0, a_p1, b_p1, ...] (array<string>,
  * pre-cleaned); each child array is decoded to Scala strings once per row.
  * Null children mean "property missing on that side" (P3 skip), so the
  * expression is null-TOLERANT and never returns null itself. Built only by
  * `functions.duke_score_cleaned`; the reference fold is
  * `Duke.CompiledConfig.score`.
  */
case class DukeScoreExpr(children: Seq[Expression], config: MatchConfig)
    extends Expression {

  require(children.length == 2 * config.properties.length,
    s"need 2 children per property: ${children.length} vs ${config.properties.length} props")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def prettyName: String = "duke_score"

  @transient private lazy val kernel = new DukeArrayKernel(config)

  override def eval(input: InternalRow): Any =
    kernel.score(DukeScoreExpr.decode(children.map(_.eval(input).asInstanceOf[ArrayData]).toArray))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("dukeKernel", kernel, classOf[DukeArrayKernel].getName)
    val arrs = ctx.freshName("arrs")
    val evals = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""
         |${e.code}
         |if (!${e.isNull}) $arrs[$i] = ${e.value};
       """.stripMargin
    }
    ev.copy(
      code = code"""
        |org.apache.spark.sql.catalyst.util.ArrayData[] $arrs =
        |  new org.apache.spark.sql.catalyst.util.ArrayData[${children.length}];
        |${evals.mkString("\n")}
        |double ${ev.value} = $kernelRef.score(graft.expr.DukeScoreExpr.decode($arrs));
      """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DukeScoreExpr = copy(children = newChildren)
}

object DukeScoreExpr {
  /** Evaluated children -> the kernel's input: each array decoded to Scala
    * strings once per row; a null child stays null (missing side).
    */
  def decode(arrs: Array[ArrayData]): Array[Array[String]] = {
    val vals = new Array[Array[String]](arrs.length)
    var i = 0
    while (i < arrs.length) {
      val d = arrs(i)
      if (d != null) {
        val v = new Array[String](d.numElements())
        var j = 0
        while (j < v.length) {
          if (!d.isNullAt(j)) v(j) = d.getUTF8String(j).toString
          j += 1
        }
        vals(i) = v
      }
      i += 1
    }
    vals
  }
}
