package graft.operators

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.plans.logical.CollectMetrics
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

/** Eager exact reductions that ride one observed pass.
  *
  * An `agg(…).collect()` on the driver pays an AQE map-stage job, a
  * single-partition result job and a second planning round; a
  * `count()` after a checkpoint pays the same again. Here the
  * aggregates are observed (Spark's `Observation`) on the pass that
  * has to run anyway: a `noop` write for [[stats]] (one job over an
  * exchange-free input), the job that materializes the checkpoint for
  * [[checkpoint]]. Observed partials merge in task-completion order,
  * so only order-free results are accepted — counts, integer and
  * decimal sums, min/max; a floating-point result is refused before
  * any job runs. */
private[graft] object Eager {

  /** Lineage truncation on the session's checkpoint policy. With no
    * checkpoint dir configured it is `localCheckpoint` (executor-local
    * blocks — fastest, but an executor loss mid-job kills a 30-round
    * computation on a real cluster). A session with a checkpoint dir
    * (`spark.checkpoint.dir` or `sparkContext.setCheckpointDir`) gets
    * RELIABLE checkpoints instead: blocks land in that shared
    * filesystem, so a lost executor recomputes from the last round, not
    * from round zero. */
  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)

  /** Exact aggregates of `df`, in `aggs` order, from one `noop` pass. */
  def stats(df: DataFrame, aggs: Column*): Row = {
    val (observed, obs) = observe(df, aggs)
    observed.write.format("noop").mode("overwrite").save()
    result(obs)
  }

  /** `df` truncated (see [[truncate]]) and its exact aggregates, in
    * `aggs` order, measured by the job that materializes it. */
  def checkpoint(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val (observed, obs) = observe(df, aggs)
    val cp = truncate(observed)
    (cp, result(obs))
  }

  /** [[checkpoint]] with its row count. */
  def truncateCounted(df: DataFrame): (DataFrame, Long) = {
    val (cp, r) = checkpoint(df, count(lit(1)))
    (cp, r.getLong(0))
  }

  private def floating(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case a: ArrayType => floating(a.elementType)
    case m: MapType => floating(m.keyType) || floating(m.valueType)
    case _ => false
  }

  /** `df` observing `aggs`, refused before any job when a result is
    * floating-point. The types come from the observed plan, analyzed
    * when it is built, so the check costs no second analysis. */
  private def observe(df: DataFrame,
      aggs: Seq[Column]): (DataFrame, Observation) = {
    require(aggs.nonEmpty, "Eager: at least one aggregate is required")
    val obs = Observation()
    val observed = df.observe(obs, aggs.head, aggs.tail: _*)
    val bad = observed.queryExecution.analyzed match {
      case m: CollectMetrics =>
        m.metrics.filter(e => floating(e.dataType)).map(_.name)
    }
    require(bad.isEmpty,
      s"Eager: floating-point aggregate ${bad.mkString(", ")} " +
        "— observed partials merge in task-completion order, so only " +
        "exact (integer/decimal) results are returned")
    (observed, obs)
  }

  private def result(obs: Observation): Row = {
    val r = Await.result(obs.future, 10.minutes)
    require(r.length > 0, s"Eager: observation ${obs.name} came back empty")
    r
  }
}
