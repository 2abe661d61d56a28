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
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local("8")
}
