package graft.functions

import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, If, IsNotNull, IsNull, Literal, Or}
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

/** `argmax_cell(score, cell)` — the cell of the row with the largest
  * score, ties preferring the LARGER cell: exactly the
  * `max(struct(score, cell))` lexicographic rule the broadcast-relation
  * quantizers need ([[graft.ops.QuantizerRelation]] /
  * [[graft.ops.PqRelation]]), as a HASH-aggregable aggregate.
  *
  * Why not `max(struct(…))`: a struct-typed aggregation buffer is not
  * a mutable type, so Spark plans a **SortAggregate** — and in the
  * quantizer's scoring relation the partial aggregation sits directly
  * on the k-fold join blowup, which means the SORT runs over
  * |docs|·k rows (2·10⁸ at the k=10⁴ cutover scale, spilling long
  * before it cuts — measured unusable, SCALING.md "Round 13"). This
  * aggregate's buffer is two primitive fields (best score, best cell),
  * so HashAggregate partial-collapses the blowup in-task with no sort
  * and no spill, at any k.
  *
  * Null contract: rows with a null score are IGNORED (the PQ form
  * feeds `when(sub = mi, …)` columns that are null for other
  * subspaces); an all-null group evaluates to null. Order-free: update
  * and merge both apply the same strict (score, cell) dominance test,
  * so partial/merge composition cannot change the winner.
  */
case class ArgMaxCell(score: Expression, cell: Expression)
    extends DeclarativeAggregate with BinaryLike[Expression] {

  override def left: Expression = score
  override def right: Expression = cell
  override def prettyName: String = "argmax_cell"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  private lazy val bestScore =
    AttributeReference("bestScore", DoubleType)()
  private lazy val bestCell =
    AttributeReference("bestCell", IntegerType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bestScore, bestCell)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, IntegerType))

  private def dominates(s: Expression, c: Expression,
      s0: Expression, c0: Expression): Expression =
    And(IsNotNull(s), Or(IsNull(s0),
      Or(GreaterThan(s, s0), And(EqualTo(s, s0), GreaterThan(c, c0)))))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = dominates(score, cell, bestScore, bestCell)
    Seq(If(take, score, bestScore), If(take, cell, bestCell))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val take = dominates(bestScore.right, bestCell.right,
      bestScore.left, bestCell.left)
    Seq(If(take, bestScore.right, bestScore.left),
      If(take, bestCell.right, bestCell.left))
  }

  override lazy val evaluateExpression: Expression = bestCell

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ArgMaxCell = copy(score = l, cell = r)
}
