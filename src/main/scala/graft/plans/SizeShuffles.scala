package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** Sizes a small linear query's shuffles from its input bytes.
  *
  * `EnsureRequirements` plans every exchange it adds with the session's
  * shuffle partition count (200 by default), whatever the input. AQE
  * coalesces the reduce side afterwards, but the map side still writes
  * that many blocks, and a global sort still samples its input in a job of
  * its own for a range exchange it then coalesces away. On a query over a
  * few megabytes, such as Days Apart over one compacted day, that fixed
  * cost outweighs the work.
  *
  * Injected as an AQE query-stage preparation rule, so it runs right after
  * `EnsureRequirements` on the first plan and on every re-plan:
  *  - Scope: a shrink-only linear plan, every node a file scan, a
  *    materialized shuffle stage, a filter, a project, an aggregate, a
  *    sort, an exchange or an AQE shuffle read, and every expression
  *    deterministic (partition counts feed `rand`,
  *    `monotonically_increasing_id` and `first`). A join, generate,
  *    window or any other node leaves the plan as it is.
  *  - Size: on a re-plan, the materialized stage's runtime shuffle bytes,
  *    the bytes AQE's own `CoalesceShufflePartitions` measures. On the
  *    first plan, before any shuffle has run, the scans' selected file
  *    bytes, and only when they fit in one advisory-size partition: a
  *    shuffle carries decompressed rows, so file bytes can undercount it,
  *    and AQE can merge partitions planned too small but never split ones
  *    planned too large. Within that bound a file-sized plan has at most
  *    the default parallelism's partitions (one without
  *    `parallelismFirst`); a larger input keeps the session count until
  *    its first stage has run.
  *  - Count: the target size `CoalesceShufflePartitions` would use (the
  *    advisory size, or with `parallelismFirst` bytes over the default
  *    parallelism, never below the minimum partition size), and
  *    n = ceil(bytes / target).
  *  - Rewrite: when n is below the session count, every
  *    `ENSURE_REQUIREMENTS` exchange at the session count gets n
  *    partitions. At n = 1 such an exchange becomes `SinglePartition`, or
  *    goes when its child already is one partition: a global sort over a
  *    single-partition aggregate needs no range exchange and no sampling
  *    job.
  *  - Safety: the rewrite is kept only if `ValidateRequirements` accepts
  *    it. A partition count changes no deterministic result. With
  *    partition coalescing off the session count is the user's choice and
  *    is kept.
  *
  * The scan size comes from the scan's file index, not from the scan's
  * own `selectedPartitions`: that lazy listing sets the scan's `numFiles`
  * and `filesSize` metrics once, and an action resets every metric of
  * its plan after planning, so listing through the scan here would leave
  * them at 0. The index lists the files the scan will list; the scan's
  * own listing of a catalog table then reads the session's file-status
  * cache.
  */
case class SizeShuffles(session: SparkSession) extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = {
    val count = conf.numShufflePartitions
    if (!conf.coalesceShufflePartitionsEnabled || plan.exists(!linear(_)) ||
        !plan.exists(atCount(_, count))) plan
    else inputBytes(plan).map(partitions).filter(_ < count) match {
      case Some(n) =>
        val sized = resize(plan, n, count)
        if (ValidateRequirements.validate(sized)) sized else plan
      case None => plan
    }
  }

  private def linear(p: SparkPlan): Boolean = p.expressions.forall(_.deterministic) && (p match {
    case _: FileSourceScanExec | _: FilterExec | _: ProjectExec | _: BaseAggregateExec |
         _: SortExec | _: ShuffleExchangeExec | _: AQEShuffleReadExec => true
    case s: ShuffleQueryStageExec => s.isMaterialized
    case _ => false
  })

  private def atCount(p: SparkPlan, count: Int): Boolean = p match {
    case e: ShuffleExchangeExec =>
      e.shuffleOrigin == ENSURE_REQUIREMENTS && e.outputPartitioning.numPartitions == count
    case _ => false
  }

  /** The runtime shuffle bytes of the plan's materialized stage, or on a
    * first plan its scan's file bytes if they fit in one advisory-size
    * partition; else None.
    */
  private def inputBytes(plan: SparkPlan): Option[BigInt] = plan.collectFirst {
    case s: ShuffleQueryStageExec => Some(s.getRuntimeStatistics.sizeInBytes)
    case s: FileSourceScanExec =>
      val static = s.partitionFilters.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
      Some(BigInt(s.relation.location.listFiles(static, s.dataFilters)
        .iterator.flatMap(_.files).map(_.getLen).sum))
        .filter(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
  }.flatten

  /** ceil(bytes / target), with `CoalesceShufflePartitions`' target. */
  private def partitions(bytes: BigInt): Int = {
    val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse(
      if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) {
        session.sparkContext.defaultParallelism
      } else 1)
    val target = ceilDiv(bytes, minNum)
      .min(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
      .max(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
      .max(1)
    ceilDiv(bytes, target).max(1).min(Int.MaxValue).toInt
  }

  private def ceilDiv(a: BigInt, b: BigInt): BigInt = (a + b - 1) / b

  private def resize(plan: SparkPlan, n: Int, count: Int): SparkPlan = plan.transformUp {
    case e: ShuffleExchangeExec if atCount(e, count) =>
      if (n == 1 && e.child.outputPartitioning == SinglePartition) e.child
      else e.copy(outputPartitioning = e.outputPartitioning match {
        case _ if n == 1 => SinglePartition
        case h: HashPartitioning => h.copy(numPartitions = n)
        case r: RangePartitioning => r.copy(numPartitions = n)
        case other => other
      })
  }
}
