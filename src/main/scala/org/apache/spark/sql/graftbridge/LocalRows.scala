package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, InterpretedOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, BroadcastMode, BroadcastPartitioning, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LeafExecNode, PlanLater, SparkPlan, SparkStrategy}

import graft.util.PlanSize

/** Rows the driver already holds, used where they are: no Spark job moves
  * them. A non-streaming `LocalRelation` in an optimised plan is such a
  * table; [[localRows]] reads it, and [[setup]] installs two planner hooks
  * that use it.
  *
  *  - A join Spark plans as a broadcast of a local relation takes the
  *    relation's rows in the broadcast's form straight from the driver. The
  *    join is planned by Spark's own `JoinSelection` (join type, build side,
  *    hints and `autoBroadcastJoinThreshold` stay Spark's decisions), and
  *    the build side's `BroadcastMode` is the one the chosen join requires
  *    of it, so a null-aware anti join or a nested-loop join gets its own.
  *    No job, `BroadcastExchange` or AQE query stage runs for it.
  *  - A global sort of a local relation of at most one partition's worth of
  *    data ([[PlanSize.partitionBytes]]) by deterministic keys becomes the
  *    relation with its rows sorted on the driver, by the interpreted form
  *    of the ordering `SortExec` uses. `collect` reads it with no job.
  *
  * It lives in Spark's package because `SparkPlan.doExecuteBroadcast` is
  * `protected[sql]` (see [[ColumnBridge]]).
  */
object LocalRows {

  /** The rows of a table held in driver memory, read off its local
    * relation: no Spark job and no generated class. None for any other
    * table.
    */
  def localRows(df: DataFrame): Option[Seq[Row]] =
    Held.unapply(df.queryExecution.optimizedPlan).map { l =>
      val toRow = CatalystTypeConverters.createToScalaConverter(l.schema)
      l.data.map(toRow(_).asInstanceOf[Row])
    }

  /** True when `df` is a table held in driver memory. */
  def isLocal(df: DataFrame): Boolean = Held.unapply(df.queryExecution.optimizedPlan).isDefined

  /** Installs [[DriverBroadcast]] and [[DriverSort]] in `spark`'s session,
    * each once, however often it is called.
    */
  def setup(spark: SparkSession): Unit = {
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(DriverBroadcast)) x.extraStrategies = DriverBroadcast +: x.extraStrategies
      if (!x.extraOptimizations.contains(DriverSort)) x.extraOptimizations = x.extraOptimizations :+ DriverSort
    }
  }

  /** A non-streaming local relation: rows the driver holds. */
  private object Held {
    def unapply(plan: LogicalPlan): Option[LocalRelation] = plan match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  /** A join whose chosen plan broadcasts a local relation, with that
    * relation's broadcast built on the driver ([[DriverBroadcastExec]]).
    * Any other join is left to the planner's own strategies.
    */
  object DriverBroadcast extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case j: Join if j.children.exists(Held.unapply(_).isDefined) =>
        val planner = org.apache.spark.sql.classic.SparkSession.active.sessionState.planner
        planner.JoinSelection(j).headOption.toSeq.flatMap { join =>
          val children = join.children.zip(join.requiredChildDistribution).map {
            case (PlanLater(Held(l)), BroadcastDistribution(mode)) => DriverBroadcastExec(mode, l.output, l.data)
            case (child, _) => child
          }
          if (children == join.children) Nil else Seq(join.withNewChildren(children))
        }
      case _ => Nil
    }
  }

  /** A global sort of a small local relation, done on the driver. */
  object DriverSort extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case Sort(order, true, Held(l), _)
          if order.forall(_.deterministic) && l.stats.sizeInBytes <= PlanSize.partitionBytes(conf) =>
        l.copy(data = l.data.sortBy(identity)(new InterpretedOrdering(order, l.output)))
    }
  }

  /** `rows` in the form `mode` gives them, broadcast from the driver when
    * the join first asks for them; it has no rows of its own to execute.
    */
  case class DriverBroadcastExec(
      mode: BroadcastMode,
      output: Seq[Attribute],
      @transient rows: Seq[InternalRow]) extends LeafExecNode {

    override def outputPartitioning: Partitioning = BroadcastPartitioning(mode)

    override def simpleString(maxFields: Int): String =
      s"DriverBroadcast ${rows.size} rows ${output.mkString("[", ", ", "]")}"

    @transient private lazy val relation: Broadcast[Any] = {
      val unsafe = UnsafeProjection.create(output, output)
      sparkContext.broadcast(mode.transform(rows.map(unsafe(_).copy()).toArray))
    }

    override protected[sql] def doExecuteBroadcast[T](): Broadcast[T] = relation.asInstanceOf[Broadcast[T]]

    override protected def doExecute(): RDD[InternalRow] =
      throw SparkException.internalError("DriverBroadcastExec is read only as a broadcast")
  }
}
