package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition}
import org.apache.spark.sql.classic

/** Narrow bridge to two `private[sql]` constructors the SQLite dialect
  * layer needs: building a DataFrame from a rewritten parsed plan, and a
  * Column from a rewritten parsed expression. Spark exposes both shapes
  * publicly only through the SQL text path (`spark.sql`, `expr`), which
  * would bypass the dialect rewrite — this file exists solely so the
  * rewrite can sit between the parser and the analyzer, which is the
  * injection point Spark itself uses for dialect work. The other
  * reach-in is driver-local execution: [[toLocal]] decides whether a
  * frame is held on the driver, and [[driverLocalInternalRows]] computes
  * a small plan's partitions in-process without a job.
  */
object SqlInternals {
  /** DataFrame from an (unresolved) logical plan — the analyzer runs as
    * part of the Dataset construction, exactly like `spark.sql`. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column wrapping an (unresolved) expression — like `functions.expr`
    * but taking the expression tree instead of SQL text. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** The expression tree under a Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Row cap for driver-local frames: a trough segment table (a small
    * database) under it is held on the driver as one LocalRelation;
    * over it, frames stay distributed. */
  val LocalMaxRows = 65536

  /** The one decision whether a frame is driver-local: within the cap,
    * the same rows as a single-partition LocalRelation frame in the
    * frame's own session (fresh attribute ids, so a later self-join
    * cannot alias-collide); over it, None. Tries, in order:
    *  1. an optimizer fold — OneRowRelation leaves become a one-row
    *     LocalRelation, so a VALUES list (an N-way UNION ALL of
    *     `SELECT <exprs>`) and any project/filter over local leaves
    *     evaluate driver-side with no job and no codegen;
    *  2. a driver-side read of a plan with at most 2 splits
    *     ([[driverLocalInternalRows]]; per-file open cost is serial on
    *     the driver, so wider scans read faster as one job);
    *  3. one bounded `limit(LocalMaxRows + 1)` collect.
    * Deciding that a frame is over the cap never reads more than
    * LocalMaxRows + 1 rows. Anything that fails on the way answers None, so the
    * caller keeps the lazy frame and a bad expression fails at the
    * same point it always did. */
  def toLocal(df: DataFrame): Option[DataFrame] = {
    val cap = LocalMaxRows
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation,
      OneRowRelation, Union}
    localRelation(df) match {
      case Some(lr) => return if (lr.data.length <= cap) Some(df) else None
      case None => ()
    }
    try {
      // from the OPTIMIZED plan: a parsed N-way UNION ALL is N levels
      // deep until CombineUnions flattens it, too deep to walk again
      val leaves = df.queryExecution.optimizedPlan.transformUp {
        case _: OneRowRelation => LocalRelation(Nil, Seq(InternalRow.empty))
        case Repartition(1, false, lr: LocalRelation) => lr
      }
      val folded = df.sparkSession.sessionState.optimizer.execute(leaves) match {
        case l: LocalRelation => Some(l.data)
        case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
          Some(u.children.flatMap(_.asInstanceOf[LocalRelation].data))
        case _ => None
      }
      val rows = folded
        .orElse(driverLocalInternalRows(df, cap + 1, maxPartitions = 2))
        .getOrElse(df.limit(cap + 1).queryExecution.executedPlan.executeCollect().toSeq)
      if (rows.length > cap) None
      else Some(localFrame(df.sparkSession, df.queryExecution.analyzed.output, rows))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** A single-partition frame over `rows` (fresh ids for `output`). */
  def localFrame(spark: SparkSession, output: Seq[Attribute],
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow]): DataFrame =
    ofRows(spark, Repartition(1, shuffle = false,
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
        output.map(_.newInstance()), rows)))

  /** The relation under a driver-local frame (a [[toLocal]] or
    * [[localFrame]] result), else None. */
  def localRelation(df: DataFrame)
      : Option[org.apache.spark.sql.catalyst.plans.logical.LocalRelation] =
    df.queryExecution.logical match {
      case Repartition(1, false,
          lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation) => Some(lr)
      case _ => None
    }

  /** Compute a no-shuffle physical plan's InternalRows ON THE DRIVER,
    * iterating its partitions sequentially under one TaskContext — no
    * job, no task launch. The serving path's pipelines over its
    * LocalRelation-backed views, and the context-build snapshot of a
    * small segment table, need nothing from the cluster: the ~10 ms
    * local-mode job floor (and CollectLimit's one-job-per-round
    * escalation over a segment's part files, 40-110 ms; ServeProbe
    * r19) was their whole cost. A live TaskMemoryManager lets codegen'd
    * aggregates and sorters acquire pages normally; rows are copied out
    * inside the task-context window. Reads at most `limit` rows (then
    * stops, so an over-cap table costs at most that much work). None —
    * caller falls back to the job path — when the plan shuffles, is
    * adaptive, has more than `maxPartitions` partitions, or anything at
    * all goes wrong. Adaptive plans (the write session keeps AQE on)
    * are refused: run this way under concurrent writers, they lost a
    * whole INSERT's rows now and then. */
  def driverLocalInternalRows(df: DataFrame, limit: Int,
      maxPartitions: Int): Option[Seq[org.apache.spark.sql.catalyst.InternalRow]] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    try {
      val plan = df.queryExecution.executedPlan
      if (plan.exists(p => p.isInstanceOf[ShuffleExchangeLike] ||
          p.isInstanceOf[AdaptiveSparkPlanExec])) return None
      val rdd = plan.execute()
      val parts = rdd.partitions
      // an empty relation's RDD has ZERO partitions — a trivially
      // computable empty result, not a reason to schedule a job
      if (parts.length == 0) return Some(Seq.empty)
      if (parts.length > maxPartitions) return None
      val env = org.apache.spark.SparkEnv.get
      if (env == null) return None
      val tmm = new org.apache.spark.memory.TaskMemoryManager(
        env.memoryManager, Long.MaxValue)
      // taskAttemptId MUST be BlockInfo.NON_TASK_WRITER (-1024): it is
      // the only id BlockInfoManager pre-registers, and block-lock
      // bookkeeping (e.g. the parquet scan's Hadoop-conf broadcast
      // read) NPEs on any unregistered id — which silently kicked
      // every parquet-backed snapshot off this fast path (r20).
      val ctx = new org.apache.spark.TaskContextImpl(0, 0, 0, -1024L, 0, 1,
        tmm, new java.util.Properties, null,
        org.apache.spark.executor.TaskMetrics.empty, 1, Map.empty)
      org.apache.spark.TaskContext.setTaskContext(ctx)
      try {
        val buf = new scala.collection.mutable.ArrayBuffer[
          org.apache.spark.sql.catalyst.InternalRow]
        var p = 0
        while (p < parts.length && buf.length < limit) {
          val it = rdd.iterator(parts(p), ctx)
          while (it.hasNext && buf.length < limit) buf += it.next().copy()
          p += 1
        }
        Some(buf.toSeq)
      } finally {
        try ctx.markTaskCompleted(None)
        catch { case scala.util.control.NonFatal(_) => () }
        org.apache.spark.TaskContext.unset()
        tmm.cleanUpAllAllocatedMemory()
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
