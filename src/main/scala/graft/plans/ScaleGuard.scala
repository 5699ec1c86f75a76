package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** A query carrying a plan shape that cannot scale was submitted while the
  * scale guard was active. The message names the operator and the
  * engine-native alternative. */
final class ScaleGuardViolation(msg: String) extends RuntimeException(msg)

/** ScaleGuard — plan-time linting for the two shapes that quietly work at
  * test SF and fall over at cluster scale, enforced INSIDE the optimizer
  * instead of only in this repo's PlanShapeSpec pins:
  *
  *  - a Window with an EMPTY partitionSpec funnels the whole input through
  *    ONE task (Spark itself only WARNs — at 100 TB that's a job that runs
  *    for a week before failing);
  *  - a condition-less inner/cross Join with NO broadcast hint on either
  *    side is an accidental cartesian product (every deliberate cross join
  *    in this engine attaches a one-row/fit frame via
  *    `crossJoin(broadcast(…))`, which the guard admits).
  *
  * OPT-IN via `spark.graft.scaleguard=true` (a runtime conf — per-session
  * or per-job), because bounded exceptions are legitimate and DOCUMENTED:
  * l51 sorts its VOCAB (type-level, not corpus-level) under a global
  * window, and a platform deploys the guard deny-by-default for ETL job
  * classes while the proven-bounded jobs run with it off. This is the
  * judgement a human reviewer applies to a plan diff, folded into the
  * session so SQL users — who never see `explain()` — get it too.
  *
  * Injected by [[GraftExtensions]] through `injectOptimizerRule`, so it
  * sees the OPTIMIZED operator tree: ResolvedHint nodes are already folded
  * into each Join's `JoinHint`, and windows introduced by rewrites are
  * visible. The rule never rewrites — it either throws
  * [[ScaleGuardViolation]] or returns the plan untouched. */
object ScaleGuardRule extends Rule[LogicalPlan] {
  private val confKey = "spark.graft.scaleguard"

  private def broadcastHinted(j: Join): Boolean = {
    def hinted(h: Option[HintInfo]) = h.exists(_.strategy.contains(BROADCAST))
    hinted(j.hint.leftHint) || hinted(j.hint.rightHint)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (SQLConf.get.getConfString(confKey, "false") == "true") {
      plan.foreach {
        case w: Window if w.partitionSpec.isEmpty =>
          throw new ScaleGuardViolation(
            "ScaleGuard: Window with no PARTITION BY moves every row to one " +
              "task. Partition the window, or use the engine's distributed " +
              "form (graft.ml.Metrics.binaryStats' segment-offset pattern " +
              "for global cumulative sums). If the input is provably bounded " +
              "(e.g. a vocabulary), run this job class with " +
              s"$confKey=false and document the bound.")
        case j @ Join(_, _, Inner | Cross, None, _) if !broadcastHinted(j) =>
          throw new ScaleGuardViolation(
            "ScaleGuard: condition-less join with no broadcast hint is an " +
              "accidental cartesian product at scale. Attach the small side " +
              "with crossJoin(broadcast(df)) — every deliberate cross join " +
              "in this engine carries a one-row or fit-sized frame — or " +
              "supply a join condition.")
        case _ => ()
      }
    }
    plan
  }
}
