package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.operators.{SimilarityJoin, TiledSelfJoin}

/** Whole-operator form of the cosine all-pairs similarity join
  * (SURVEY §2.4): a custom logical node, planned by [[SimilarityStrategy]]
  * into [[CosineSelfJoinExec]] — the (c) rung of the custom-operator
  * ladder, for semantics the relational surface can't express without
  * materializing the N² intermediate ("emit only pairs above threshold
  * from an all-pairs scan").
  *
  * The exec shuffles the child once into block-pair tiles
  * ([[graft.operators.TiledSelfJoin]]) and runs the primitive cosine
  * loop per tile, emitting UnsafeRows directly — same kernel as
  * [[SimilarityJoin.cosinePairs]], but composable inside a larger plan:
  * downstream operators see ordinary attributes, EXPLAIN shows the
  * operator, and neither the driver nor any single task ever holds the
  * corpus (per-task memory is 2·N/b rows).
  */
case class CosineSelfJoin(
    child: LogicalPlan,
    idAttr: Attribute,
    vecAttr: Attribute,
    threshold: Double,
    // constructor field (not a def): exprIds must survive case-class
    // copies made by optimizer transforms, or parent references dangle
    override val output: Seq[Attribute] = Seq(
      AttributeReference("a_id", LongType, nullable = false)(),
      AttributeReference("b_id", LongType, nullable = false)(),
      AttributeReference("sim", DoubleType, nullable = false)())) extends UnaryNode {

  // a_id/b_id/sim are generated here, not consumed from the child —
  // without this, CheckAnalysis reports them as missing inputs
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): CosineSelfJoin =
    copy(child = newChild)
}

/** Plans [[CosineSelfJoin]] into [[CosineSelfJoinExec]]. Register via
  * `spark.experimental.extraStrategies` or [[GraftExtensions]]. */
object SimilarityStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: CosineSelfJoin =>
      CosineSelfJoinExec(planLater(j.child), j.idAttr, j.vecAttr, j.threshold,
        j.output) :: Nil
    case _ => Nil
  }
}

case class CosineSelfJoinExec(
    child: SparkPlan,
    idAttr: Attribute,
    vecAttr: Attribute,
    threshold: Double,
    output: Seq[Attribute]) extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val idOrd = child.output.indexWhere(_.exprId == idAttr.exprId)
    val vecOrd = child.output.indexWhere(_.exprId == vecAttr.exprId)
    require(idOrd >= 0 && vecOrd >= 0, "id/vec attributes not found in child output")

    // The child executes EXACTLY ONCE: its RDD feeds the one tile
    // shuffle, so both sides of every comparison come from the same
    // materialization (running child.execute() twice would double
    // upstream work and, with nondeterministic children — sample,
    // limit — would produce mismatched sides). Primitives are extracted
    // before the shuffle: the incoming UnsafeRows are buffer-reused.
    val data = child.execute().mapPartitions(_.map { row =>
      (row.getLong(idOrd), row.getArray(vecOrd).toDoubleArray())
    })
    val blocks = org.apache.spark.sql.SparkSession.getActiveSession
      .map(TiledSelfJoin.defaultBlocks)
      .getOrElse(TiledSelfJoin.blocksFor(sparkContext.defaultParallelism))
    val t = threshold
    val out = output
    TiledSelfJoin(data, blocks)(SimilarityJoin.cosineTile(t))
      .mapPartitions { it =>
        val proj = UnsafeProjection.create(out.map(_.dataType).toArray)
        it.map { case (a, b, s) => proj(InternalRow(a, b, s)).copy() }
      }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CosineSelfJoinExec =
    copy(child = newChild)
}

object CosineSelfJoin {
  /** DataFrame entry: installs [[SimilarityStrategy]] on the session
    * (idempotent) and wraps `df` — columns must be (id: LONG,
    * vec: ARRAY<DOUBLE>). */
  def pairs(df: DataFrame, idCol: String, vecCol: String,
            threshold: Double): DataFrame = {
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(SimilarityStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ SimilarityStrategy
    val analyzed = df.queryExecution.analyzed
    val id = analyzed.output.find(_.name == idCol).get
    val vec = analyzed.output.find(_.name == vecCol).get
    GraftShim.ofRows(spark, CosineSelfJoin(analyzed, id, vec, threshold))
  }
}
