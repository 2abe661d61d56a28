package graft

import org.apache.spark.TestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one local SparkSession per forked test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    var jobs = 0
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        synchronized(jobs += 1)
    }
    TestAccess.drainListeners(sc)
    sc.addSparkListener(counter)
    val out = try body finally {
      TestAccess.drainListeners(sc)
      sc.removeSparkListener(counter)
    }
    (out, jobs)
  }

  /** `body` with the session conf `key` set to `value`, then restored. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `body` planned as at scale: with [[graft.plans.SmallPlanOneTask]]
    * excluded through Spark's `spark.sql.optimizer.excludedRules`, so a
    * plan over the small test tables keeps the exchanges it has over
    * large ones. Force the plan (explain, executedPlan) inside `body`. */
  def atScale[T](body: => T): T = withConf("spark.sql.optimizer.excludedRules",
    graft.plans.SmallPlanOneTask.ruleName)(body)

  /** Replace the id sidecar at `path` by ONE parquet file holding the
    * same rows: readers still see the sidecar, but a write to `path`
    * fails (a file, not a directory). Returns the restore action. */
  def sidecarAsFile(path: String): () => Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (p, bak, one) = (new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "_bak"),
      new org.apache.hadoop.fs.Path(path + "_one"))
    assert(fs.rename(p, bak))
    spark.read.parquet(bak.toString).coalesce(1).write.parquet(one.toString)
    val part = fs.listStatus(one).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    assert(fs.rename(part, p))
    fs.delete(one, true)
    () => { assert(fs.delete(p, false) && fs.rename(bak, p)) }
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("8")
}
