package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** True for a row whose (file URI, in-file row position) is one of
  * `positions`' pairs — a deletion vector as a driver-held predicate:
  * each file's positions ride the plan as one sorted `long[]`, found by
  * a hash lookup of the file and a binary search of the position. No
  * join and no broadcast exchange, so applying it starts no Spark job;
  * the task binary carries 8 bytes per position. Each array must be
  * sorted ascending ([[AtPositions.column]] sorts).
  */
case class AtPositions(file: Expression, pos: Expression,
    positions: Map[String, Array[Long]])
    extends BinaryExpression with Predicate {

  override def left: Expression = file
  override def right: Expression = pos

  @transient private lazy val index = {
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    positions.foreach { case (f, ps) =>
      m.put(UTF8String.fromString(f), ps)
    }
    m
  }

  def contains(f: UTF8String, p: Long): Boolean = {
    val ps = index.get(f)
    ps != null && java.util.Arrays.binarySearch(ps, p) >= 0
  }

  override protected def nullSafeEval(f: Any, p: Any): Any =
    contains(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("atPositions", this)
    defineCodeGen(ctx, ev, (f, p) => s"$self.contains($f, $p)")
  }

  override def toString: String =
    s"at_positions($file, $pos, ${positions.size} files, " +
      s"${positions.valuesIterator.map(_.length).sum} positions)"

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): AtPositions = copy(file = l, pos = r)
}

object AtPositions {
  def column(file: Column, pos: Column,
      positions: Map[String, Array[Long]]): Column =
    Bridge.column(AtPositions(Bridge.toExpression(file),
      Bridge.toExpression(pos),
      positions.map { case (f, ps) => f -> ps.sorted }))
}
