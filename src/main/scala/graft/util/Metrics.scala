package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.LongType

import graft.plans.{CapFilter, CapFilterExec, CapFilterStrategy}

/** Recall-loss observability for the engine's capped skew guards.
  *
  * The LSH pair stages, the incremental signature stores, the
  * substring seed gates and SemDeDup all DROP over-cap groups (a viral
  * band bucket or seed, an oversized cluster) to keep one hot key from
  * quadratic pair explosion — a recall-only loss, never precision. At
  * 100 TB a silently-vanishing recall fraction is an operational
  * hazard, so every cap is one [[capped]] operator
  * ([[graft.plans.CapFilter]]) that drops the over-cap groups and
  * counts them, with their combined membership, in the job that
  * filters. [[drops]] reads those counts from the executed plan; the
  * eager builders warn-log them from the run that filled their
  * hand-off ([[logDrops]]), so no report job runs.
  *
  * Why a plan node's `SQLMetric`s instead of an in-flight
  * `Dataset.observe`: a `CollectMetrics` node inside an AQE shuffle
  * stage never surfaces its metrics — `Observation` delivers an empty
  * row under `spark.sql.adaptive.enabled=true` unless the node sits
  * in the final result stage (verified empirically on Spark 4.1; the
  * cap filters here are mid-pipeline by construction). AQE is
  * non-negotiable at scale (skew-join splitting is the other half of
  * the same skew story), so the counters must not depend on its
  * absence.
  *
  * What a count means: the drops of ONE execution of one physical
  * plan. A second action through the same frame re-runs only its
  * result stage; every cap feeds a join, so its node ran in a shuffle
  * or broadcast stage that is reused, and the counts stay those of the
  * first run. Other actions (`count()`, `foreach`, a write) plan the
  * frame anew, with their own counters. Metric updates are accumulator adds,
  * so a retried task or stage (a lost executor, a fetch failure, an
  * evicted cache block rebuilt) adds its groups again: the counts can
  * over-count, never under-count, a run that retried. */
object Metrics {

  /** `sizes` (one row per group, its size in `sizeCol`) without the
    * groups above `cap`, which are counted, and without those below
    * `min`, which are not. */
  def capped(sizes: DataFrame, sizeCol: String, cap: Long,
             min: Long = 0L): DataFrame = {
    val spark = sizes.sparkSession
    val x = spark.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(CapFilterStrategy))
        x.extraStrategies = x.extraStrategies :+ CapFilterStrategy
    }
    val plan = sizes.queryExecution.analyzed
    val size = plan.output.find(_.name == sizeCol).getOrElse(
      throw new IllegalArgumentException(s"capped: no column '$sizeCol' " +
        s"in [${plan.output.map(_.name).mkString(", ")}]"))
    require(size.dataType == LongType,
      s"capped: '$sizeCol' must be a long count, got ${size.dataType}")
    Bridge.dataFrame(spark, CapFilter(size, cap, min, plan))
  }

  /** (dropped_groups, dropped_members) over every cap in the plan that
    * ran `df`: its own plan after an action that executes it
    * (`collect`, `toLocalIterator`), or the plan that filled its
    * cache. Fails if a cap's plan has not run. The walk descends into
    * AQE query stages (also those a rewrite took out of the final
    * plan), reused exchanges and the plans behind cached scans. Each
    * cap counts once: copies of one cap over the same input (a subtree
    * planned once per join side, both run) drop the same groups. */
  def drops(df: DataFrame): (Long, Long) = {
    val caps = scala.collection.mutable.ArrayBuffer.empty[CapFilterExec]
    def walk(p: SparkPlan, ran: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan, a.isFinalPlan)
        // a join with an empty side (a cap that dropped every group) is
        // rewritten away, and the stages that ran for it with it; the
        // query's stage cache still holds them
        a.context.stageCache.values.foreach(walk(_, a.isFinalPlan))
      case q: QueryStageExec => walk(q.plan, ran)
      case r: ReusedExchangeExec => walk(r.child, ran)
      case s: InMemoryTableScanExec =>
        walk(s.relation.cacheBuilder.cachedPlan, ran = true)
      case c: CapFilterExec =>
        if (!ran) throw new IllegalStateException("Metrics.drops: the " +
          "plan holding a cap has not run — run an action through the " +
          "frame's own plan (collect, toLocalIterator) or fill its " +
          "cache; count(), foreach and writes plan the frame anew")
        caps += c
        walk(c.child, ran)
      case _ => p.children.foreach(walk(_, ran))
    }
    walk(df.queryExecution.executedPlan, ran = true)
    caps.groupBy(c => c.logicalLink.map(_.canonicalized).getOrElse(c))
      .values.foldLeft((0L, 0L)) { case ((g, m), same) =>
        def most(k: String) = same.map(_.longMetric(k).value).max
        (g + most("droppedGroups"), m + most("droppedMembers"))
      }
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.metrics")

  /** Warn-log the caps' recall loss in the run that computed `ran`
    * (the eager builders call this after filling their hand-off). */
  def logDrops(site: String, ran: DataFrame): Unit = {
    val (g, m) = drops(ran)
    if (g > 0L)
      log.warn(s"$site: dropped $g over-cap group(s) ($m members) — " +
        "recall loss; raise the cap or pre-split the hot keys")
  }
}
