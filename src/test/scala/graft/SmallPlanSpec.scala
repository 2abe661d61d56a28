package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallPlanOneTask]]: a plan whose inputs fit under the
  * broadcast threshold plans no shuffle; a plan whose layout is part
  * of its answer keeps the exchanges it has at scale. */
class SmallPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def shuffles(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeExec => e }.size

  private def shuffles(df: DataFrame): Int = shuffles(df.queryExecution.executedPlan)

  private def withThreshold[T](v: String)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", v)(body)

  private def drawdown(s: SparkSession = spark): DataFrame =
    SparkEntry.queries("ts_drawdown")(s, sf001)

  test("ts_drawdown at sf0.01 plans no shuffle and runs one job") {
    val df = drawdown()
    assert(shuffles(df) == 0, df.queryExecution.executedPlan)
    val (rows, jobs) = jobsDuring(df.collect())
    assert(jobs == 1)
    val (atScaleRows, atScaleJobs) = atScale {
      val d = drawdown()
      assert(shuffles(d) >= 2, d.queryExecution.executedPlan)
      jobsDuring(d.collect())
    }
    assert(atScaleJobs > 1)
    assert(rows.toSeq == atScaleRows.toSeq)
  }

  test("a global sort above a full outer join plans no range exchange") {
    // growth_accounting: two windowed aggregates, full outer joined,
    // then ordered; a full outer join reports an unknown partitioning
    val df = SparkEntry.queries("growth_accounting")(spark, sf001)
    assert(shuffles(df) == 0, df.queryExecution.executedPlan)
    val (rows, jobs) = jobsDuring(df.collect())
    val (atScaleRows, atScaleJobs) = atScale(
      jobsDuring(SparkEntry.queries("growth_accounting")(spark, sf001).collect()))
    assert(jobs < atScaleJobs, s"$jobs vs $atScaleJobs")
    assert(rows.toSeq == atScaleRows.toSeq)
  }

  test("the rule is idempotent and leaves a bare scan alone") {
    val analyzed = drawdown().queryExecution.analyzed
    val once = graft.plans.SmallPlanOneTask(analyzed)
    assert(once != analyzed)
    assert(graft.plans.SmallPlanOneTask(once) == once)
    val bare = Tables.events(spark, sf001).select($"event_type").queryExecution.analyzed
    assert(graft.plans.SmallPlanOneTask(bare) eq bare)
  }

  test("a plan whose layout is part of its answer keeps its exchanges") {
    val li = () => Tables.lineitem(spark, sf001)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "sample" -> (() => li().sample(0.5, 7L).groupBy($"l_returnflag").count()),
      "rand" -> (() => li().withColumn("r", rand(7L))
        .groupBy($"l_returnflag").agg(sum($"r"))),
      "monotonically_increasing_id" -> (() => li()
        .withColumn("id", monotonically_increasing_id())
        .groupBy($"l_returnflag").agg(max($"id"))),
      "Tables.wide" -> (() => Tables.wide(li()).groupBy($"l_returnflag").count()))
    cases.foreach { case (name, df) =>
      val (rule, scale) = (shuffles(df()), atScale(shuffles(df())))
      assert(scale > 0 && rule == scale, s"$name: $rule vs $scale")
    }
  }

  test("a streaming plan keeps its exchanges") {
    implicit val sqlCtx = spark.sqlContext
    def run(name: String): Int = {
      val mem = MemoryStream[(Long, String)]
      val q = mem.toDF().groupBy($"_2").count()
        .writeStream.outputMode("complete").format("memory").queryName(name).start()
      try {
        mem.addData((1L, "a"), (2L, "b"), (3L, "a"))
        q.processAllAvailable()
        assert(spark.table(name).count() == 2)
        shuffles(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan)
      } finally q.stop()
    }
    val rule = run("small_plan_stream")
    val scale = atScale(run("small_plan_stream_at_scale"))
    assert(scale > 0 && rule == scale, s"$rule vs $scale")
  }

  test("a threshold below the input size, or -1, restores the exchanges") {
    val scale = atScale(shuffles(drawdown()))
    assert(scale > 0)
    // events at sf0.01 is about 216 KB on disk
    withThreshold("65536")(assert(shuffles(drawdown()) == scale))
    withThreshold("-1")(assert(shuffles(drawdown()) == scale))
    withThreshold("10485760")(assert(shuffles(drawdown()) == 0))
  }

  test("the coalesced scans keep their ReadSchema and PushedFilters") {
    def scans(df: DataFrame): Seq[(Option[String], Option[String])] =
      collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
        .map(s => (s.metadata.get("ReadSchema"), s.metadata.get("PushedFilters")))
        .sortBy(_.toString)
    Seq("q1_agg", "ts_drawdown", "q5_region_revenue", "catalog_table_roundtrip")
      .foreach { name =>
        val q = SparkEntry.queries(name)
        val rule = scans(q(spark, sf001))
        assert(rule.nonEmpty && rule.forall(_._1.isDefined), name)
        assert(rule == atScale(scans(q(spark, sf001))), name)
      }
    // a filter on top of a join still reaches the parquet scan
    val f = () => Tables.orders(spark, sf001).filter($"o_totalprice" > 1000)
      .join(Tables.customer(spark, sf001), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").count()
    assert(shuffles(f()) == 0)
    val pushed = scans(f())
    assert(pushed.exists(_._2.exists(_.contains("GreaterThan(o_totalprice"))), pushed)
    assert(pushed == atScale(scans(f())))
  }

  test("a session from spark.newSession() applies the rule too") {
    val fresh = spark.newSession()
    assert(shuffles(drawdown(fresh)) == 0)
    val df = SparkEntry.queries("catalog_persistent_roundtrip")(spark, sf001)
    assert(df.sparkSession ne spark)
    assert(shuffles(df) == 0, df.queryExecution.executedPlan)
    assert(df.collect().nonEmpty)
  }
}
