package graft

import org.apache.spark.TestAccess
import org.apache.spark.sql.functions._

import graft.operators.{Eager, Features, Graph}

/** `operators.Eager`: exact aggregates observed on the pass that runs
  * anyway, and the build-job counts of the operators routed through
  * it. */
class EagerSpec extends SparkSpec {
  import spark.implicits._

  private def numbers = spark.range(0, 1000, 1, 4)
    .select(col("id"), (col("id") % 7).as("m"))

  test("Eager.stats equals agg().collect() and is one job over an exchange-free input") {
    val aggs = Seq(count(lit(1)).as("n"), sum(col("m")).as("s"),
      sum(col("id").cast("decimal(38,0)") * col("id")).as("q"),
      min(col("id")).as("lo"), max(col("m")).as("hi"))
    val want = numbers.agg(aggs.head, aggs.tail: _*).head()
    val (got, jobs) = jobsDuring(Eager.stats(numbers, aggs: _*))
    assert(got == want)
    assert(jobs == 1, s"Eager.stats ran $jobs jobs")
  }

  test("Eager.stats refuses a double sum before any job") {
    val (err, jobs) = jobsDuring(intercept[IllegalArgumentException](
      Eager.stats(numbers, count(lit(1)).as("n"),
        sum(col("m").cast("double")).as("s"))))
    assert(err.getMessage.contains("floating-point aggregate s"))
    assert(jobs == 0, s"the refusal ran $jobs jobs")
  }

  test("Eager.stats over an empty input: count 0, sum NULL; an empty basket table has no co-occurrences") {
    val r = Eager.stats(numbers.filter(col("id") < 0),
      count(lit(1)).as("n"), sum(col("m")).as("s"))
    assert(r.getLong(0) == 0L && r.isNullAt(1))
    // the group-size guard reads a NULL max on empty input
    val baskets = Seq.empty[(Long, Long)].toDF("g", "item")
    assert(Graph.coOccurrence(baskets, "g", "item").isEmpty)
  }

  test("Eager.checkpoint's count equals count() under localCheckpoint and a session checkpoint dir") {
    val df = numbers.filter(col("m") =!= 3).groupBy(col("m"))
      .agg(count(lit(1)).as("c"))
    val (local, n) = Eager.truncateCounted(df)
    assert(n == local.count() && n == 6L)
    val dir = java.nio.file.Files.createTempDirectory("graft_eager").toFile
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir.toString)
    try {
      val (reliable, m) = Eager.truncateCounted(numbers.filter(col("m") =!= 3))
      assert(m == reliable.count() && m == 857L)
      def files(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(files).sum else 1
      assert(files(dir) > 0, "the reliable path wrote no checkpoint files")
    } finally TestAccess.clearCheckpointDir(sc)
  }

  private val iters = 4

  test("construction jobs: logisticGdMulti = iters + 1, posthocPairs = 2, coOccurrence guard = 3") {
    // at scale: over sf0.001 the small-plan rule drops the shuffles
    // under these checkpoints, and with them their map-stage jobs
    atScale(constructionJobs(iters + 1, 2, 3))
  }

  test("construction jobs on the default session: posthocPairs = 1, coOccurrence guard = 1") {
    // the guard first, on a fresh read, then again after the other
    // operators: the rule plans the same DataFrame the same way
    assert(coOccurrenceJobs() == 1)
    constructionJobs(iters + 1, 1, 1)
  }

  private def coOccurrenceJobs(): Int = {
    val lineitem = Tables.lineitem(spark, sf0001)
    lineitem.schema // the schema read is not the operators' job
    jobsDuring(Graph.coOccurrence(lineitem,
      "l_orderkey", "l_partkey", weighted = true))._2
  }

  private def constructionJobs(gd: Int, posthoc: Int, guard: Int): Unit = {
    val orders = Tables.orders(spark, sf0001)
    orders.schema
    val (_, gdJobs) = jobsDuring(Features.logisticGdMulti(orders,
      Seq(least($"o_totalprice" / 600000.0, lit(1.0)),
        month($"o_orderdate").cast("double") / 12.0),
      $"o_orderpriority".isin("1-URGENT", "2-HIGH"), iters = iters))
    assert(gdJobs == gd, s"logisticGdMulti ran $gdJobs build jobs")
    val (_, phJobs) = jobsDuring(Features.posthocPairs(orders,
      $"o_orderpriority", round($"o_totalprice" * 100).cast("long")))
    assert(phJobs == posthoc, s"posthocPairs ran $phJobs build jobs")
    val coJobs = coOccurrenceJobs()
    assert(coJobs == guard, s"the coOccurrence guard ran $coJobs jobs")
  }
}
