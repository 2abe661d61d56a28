package graft

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated-execution compile census: runs every `benchQueries` entry
  * (or a comma-separated filter) once, then the whole list a second
  * time, in one session, each through the `noop` sink as `graft.Bench`
  * times it, and counts the generated classes Spark compiles for each
  * execution (cache misses of its generated-code cache). A query whose
  * second execution compiles anything either makes code that differs
  * per execution or was evicted by the cache's bound.
  *
  * {{{
  * sbt "Test/runMain graft.CompileCensus <testdata>/sf0.01 census.tsv"
  * }}}
  *
  * Writes one `query, first, second, first_s, second_s` line per query
  * to the output file and the totals (classes compiled per pass,
  * Metaspace in use after session start and at the end, heap in use
  * after a GC, and the mean size of the generated source, which the
  * cache keeps as its key) to stdout. */
object CompileCensus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: CompileCensus <sfDir> <out.tsv> [queries]")
    val Array(sfDir, out) = args.take(2)
    val spark = Sessions.local()
    val names =
      if (args.length > 2) SparkEntry.select(SparkEntry.benchQueries, args(2), "bench")
      else SparkEntry.benchQueries
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def usedMb(pool: String) = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName == pool).map(_.getUsage.getUsed / 1048576.0).sum
    val metaspace0 = usedMb("Metaspace")
    def run(n: String): (Long, Double) = {
      val (c0, t0) = (compiled, System.nanoTime())
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[census] $n failed: ${e.getMessage}")
      }
      (compiled - c0, (System.nanoTime() - t0) / 1e9)
    }
    val first = names.map(run)
    val second = names.map(run)
    val rows = names.indices.map { i =>
      f"${names(i)}\t${first(i)._1}\t${second(i)._1}\t${first(i)._2}%.3f\t${second(i)._2}%.3f"
    }
    val w = new java.io.PrintWriter(out)
    try w.println(("query\tfirst\tsecond\tfirst_s\tsecond_s" +: rows).mkString("\n"))
    finally w.close()
    val recompiled = names.indices.filter(second(_)._1 > 0)
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val sourceKb = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getMean / 1024
    println(f"queries ${names.size}; classes compiled: first pass " +
      f"${first.map(_._1).sum}, second pass ${second.map(_._1).sum}; " +
      f"pass wall ${first.map(_._2).sum}%.1f s then ${second.map(_._2).sum}%.1f s; " +
      f"Metaspace $metaspace0%.1f MB after session start, " +
      f"${usedMb("Metaspace")}%.1f MB at the end, " +
      f"compressed class space ${usedMb("Compressed Class Space")}%.1f MB; " +
      f"heap in use after GC $heapMb%.0f MB; mean generated source $sourceKb%.1f KB; " +
      s"second execution compiles > 0: " +
      recompiled.map(i => s"${names(i)} (${second(i)._1})").mkString(", "))
    spark.stop()
  }
}
