package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Row- and task-level quality policies (SURVEY.md §2.1).
  *
  * Reference: RowLevelPolicy (gobblin-api/.../qualitychecker/row/
  * RowLevelPolicy.java:33-68) with types FAIL | ERR_FILE | OPTIONAL,
  * enforced by RowLevelPolicyChecker (gobblin-core/.../
  * RowLevelPolicyChecker.java:51,101,177-184): failed records are
  * dropped, written to an err file, or merely counted. TaskLevelPolicy
  * (gobblin-api/.../qualitychecker/task/TaskLevelPolicy.java:24-51)
  * asserts after the write; MANDATORY failure blocks publish.
  *
  * Spark-first: row policies are filters; ERR_FILE is a quarantine
  * side-output; OPTIONAL uses `observe()` so the count rides the same
  * job with zero extra passes over the data — critical at 100 TB where
  * a second "count the failures" scan would double the I/O.
  */
object Quality {

  sealed trait PolicyType
  case object Fail extends PolicyType      // drop failing rows
  case object ErrFile extends PolicyType   // drop + quarantine failing rows
  case object Optional extends PolicyType  // keep rows, count failures

  final case class RowPolicy(name: String, passes: Column, policyType: PolicyType)

  /** @param observation non-empty iff OPTIONAL policies were given;
    *   `observation.get` (after an action on `passed`) yields
    *   `<policy>_failed` counts. Observation is the reliable way to
    *   read observe() metrics — they attach to the *action's* query
    *   execution, not the DataFrame's.
    */
  final case class CheckedFrame(passed: DataFrame, quarantined: Option[DataFrame],
      observation: Option[Observation])

  /** Apply row policies. Returns the passing rows plus (lazily) the
    * quarantined rows for ERR_FILE policies; the caller writes the
    * quarantine frame to its err path. The input is NOT cached here —
    * for a single output sink Catalyst collapses both branches into one
    * scan; callers forking both branches to sinks should persist().
    */
  def checkRows(df: DataFrame, policies: Seq[RowPolicy]): CheckedFrame = {
    // a predicate that evaluates to NULL FAILS (as the Optional count
    // already treats it): it drops the row AND quarantines it, never
    // silently losing it from both outputs
    def passes(p: RowPolicy): Column = coalesce(p.passes, lit(false))
    val dropping = policies.filter(_.policyType != Optional)
    val optional = policies.filter(_.policyType == Optional)
    val passPred = dropping.map(passes).reduceOption(_ && _).getOrElse(lit(true))
    val (observed, observation) =
      if (optional.isEmpty) (df, None)
      else {
        val obs = Observation()
        val metrics = optional.map(p => sum(when(p.passes, 0L).otherwise(1L)).as(s"${p.name}_failed"))
        (df.observe(obs, metrics.head, metrics.tail: _*), Some(obs))
      }
    val passed = observed.filter(passPred)
    val errPolicies = policies.filter(_.policyType == ErrFile)
    val quarantined =
      if (errPolicies.isEmpty) None
      else Some(df.filter(errPolicies.map(p => !passes(p)).reduce(_ || _)))
    CheckedFrame(passed, quarantined, observation)
  }

  /** Task-level policy: an assertion over the written result's metrics.
    * MANDATORY failure => caller must not publish (SafeDatasetCommit
    * semantics, gobblin-runtime/.../SafeDatasetCommit.java:64-248).
    */
  final case class TaskPolicy(name: String, mandatory: Boolean, passes: Map[String, Any] => Boolean)

  def checkTask(metrics: Map[String, Any], policies: Seq[TaskPolicy]): Either[Seq[String], Unit] = {
    val failed = policies.filter(p => !p.passes(metrics))
    val mandatoryFailed = failed.filter(_.mandatory)
    if (mandatoryFailed.nonEmpty) Left(mandatoryFailed.map(_.name)) else Right(())
  }
}
