package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess

import graft.{Sessions, SparkEntry}

/** One benchmark run in one JVM: set-up (session start plus one warm
  * pass over the panel), a fixed number of timed passes, and
  * optionally traced passes (alternating with untraced ones) followed by
  * the layer probes. The results the output check reads are dumped last,
  * untimed: each panel result of a `noop` workload, and the gates paired
  * to rows-only panel queries. (A `parquet` workload's last pass has
  * already written its results where the check reads them.)
  *
  * The engine is driven only through `Sessions.local`,
  * `SparkEntry.queries`/`noOracleGates`/`oracleSql`, `Tables.table`/
  * `Tables.wide` and `graft.functions`; each call is timed from
  * outside. Usage: `perfbench.Harness <config.properties>` (written by
  * `perfbench/run.py`); the result is a JSON file at `result`.
  */
object Harness {

  /** One query execution. `kind` is warm, timed, traced, interleaved
    * (an untraced pass between traced ones) or dump; `endMs` is the
    * wall clock at the action's end, which `Layers` uses to split a
    * traced write into its exec and sink spans. */
  final case class Sample(name: String, seq: Int, pass: Int, kind: String,
      lookup: Double, build: Double, exec: Double, sink: Double, total: Double,
      endMs: Long, error: Option[String])

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val cfg = new java.util.Properties
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try cfg.load(in) finally in.close()
    def get(k: String): String = Option(cfg.getProperty(k))
      .getOrElse(sys.error(s"config key '$k' missing"))
    val sfDir = get("sf_dir")
    val panel = get("panel").split(",").toSeq.filter(_.nonEmpty)
    val sink = get("sink")
    val sinkParquet = sink == "parquet"
    val passes = get("passes").toInt
    val traced = get("trace") == "1"
    val outDir = get("out_dir")
    val cpus = get("cpus")
    val checkDir = s"$outDir/check"
    new File(checkDir).mkdirs()

    val unknown = panel.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries in panel: ${unknown.mkString(",")}")

    val t0 = now()
    val spark = Sessions.local(cpus)
    val sc = spark.sparkContext
    val sessionS = secs(t0, now())

    var seq = 0
    /** One closed-loop call: registry lookup, build, then the action:
      * a `noop` write, or for "parquet" the result written as parquet
      * where the output check reads it. The action is one span here;
      * a traced run splits a parquet write into exec and sink later.
      * Exceptions are caught and recorded, never rethrown. */
    def runQuery(name: String, pass: Int, kind: String, sink: String): Sample = {
      seq += 1
      val tag = s"$name#$seq"
      val q0 = now()
      var (l1, b1) = (q0, q0)
      val error = try {
        val fn = SparkEntry.queries(name)
        l1 = now()
        sc.setJobGroup(s"$tag|build", name, interruptOnCancel = false)
        val df = fn(spark, sfDir)
        b1 = now()
        sc.setJobGroup(s"$tag|exec", name, interruptOnCancel = false)
        if (sink == "parquet") df.write.mode("overwrite").parquet(s"$checkDir/$name")
        else df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(String.valueOf(e.getMessage).take(300))
      } finally sc.clearJobGroup()
      val q1 = now()
      val endMs = System.currentTimeMillis()
      if (b1 == q0) { b1 = q1; if (l1 == q0) l1 = q1 }
      Sample(name, seq, pass, kind, secs(q0, l1), secs(l1, b1), secs(b1, q1),
        0.0, secs(q0, q1), endMs, error)
    }

    /** One pass over the panel with the workload's sink. */
    def onePass(pass: Int, kind: String): (Seq[Sample], Double) = {
      val p0 = now()
      val samples = panel.map(runQuery(_, pass, kind, sink))
      (samples, secs(p0, now()))
    }

    // Set-up: one warm pass with the workload's sink.
    val warm = onePass(0, "warm")._1
    val setupS = secs(t0, now())

    val timedRuns = (1 to passes).map(onePass(_, "timed"))
    val (timed, walls) = (timedRuns.flatMap(_._1), timedRuns.map(_._2))

    // Traced passes alternate with untraced ones in ABBA order, so the
    // overhead is measured against passes equally far into the JIT
    // warm-up.
    var interleaved = Seq.empty[Sample]
    val tracedRecord: Map[String, Any] = if (!traced) Map.empty else {
      val trace = new Trace(new File(sfDir).getCanonicalPath)
      val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      def gcMs: Long = gcBeans.map(_.getCollectionTime).sum
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      var gcS = 0.0
      def tracedPass(pass: Int): (Seq[Sample], Double) = {
        // events of untraced passes must not reach the listeners
        PerfbenchAccess.drainListeners(sc)
        sc.addSparkListener(trace)
        spark.listenerManager.register(trace)
        val gc0 = gcMs
        try onePass(pass, "traced") finally {
          gcS += (gcMs - gc0) / 1e3
          PerfbenchAccess.drainListeners(sc)
          sc.removeSparkListener(trace)
          spark.listenerManager.unregister(trace)
        }
      }
      // two traced passes keep a traced run well inside the per-run time
      // limit; counts are per pass anyway
      val pairs = (1 to 2).map { i =>
        val (a, b) = (passes + 2 * i - 1, passes + 2 * i)
        if (i % 2 == 1) { val plain = onePass(a, "interleaved"); (tracedPass(b), plain) }
        else { val t = tracedPass(a); (t, onePass(b, "interleaved")) }
      }
      val (tSamples, tWalls) = (pairs.flatMap(_._1._1), pairs.map(_._1._2))
      interleaved = pairs.flatMap(_._2._1)
      val tracedWall = tWalls.sum
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val (groups, skews, scanned) = trace.snapshot()
      val layers = Layers.summarize(tSamples, tWalls, tracedWall, groups,
        skews, cpus.toInt, gcS, heapPeakMb, pairs.map(_._2._2), sinkParquet)
      val probes = Probes.scan(spark, sfDir, scanned) ++ Probes.expr(spark)
      val sinkStats = if (sinkParquet) Probes.sinkFiles(checkDir, panel) else
        Map("sink.mb" -> 0.0, "sink.files" -> 0.0)
      Map("layers" -> (layers.metrics ++ probes ++ sinkStats),
        "per_query" -> layers.perQuery,
        "tables_scanned" -> scanned,
        "samples" -> layers.samples.map(sampleJson),
        "pass_walls_s" -> tWalls)
    }

    // Untimed dumps for the output check: the panel results of a noop
    // workload, and the gates of rows-only panel queries.
    val gates = panel.flatMap(SparkEntry.noOracleGates.get).distinct
    val dumps = ((if (sinkParquet) Nil else panel.distinct) ++ gates)
      .map(runQuery(_, -1, "dump", "parquet"))
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$checkDir/oracle_sql.json"), Json.render(
      (panel ++ gates).filter(oracle.contains).map(n => n -> oracle(n)).toMap))

    val rt = Runtime.getRuntime
    val result = Map(
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "warm" -> warm.map(sampleJson),
      "samples" -> timed.map(sampleJson),
      "pass_walls_s" -> walls,
      "gates" -> panel.flatMap(n => SparkEntry.noOracleGates.get(n).map(n -> _)).toMap,
      // every other execution, so a throw anywhere counts as a failure
      "other_executions" -> (interleaved ++ dumps).map(sampleJson),
      "traced" -> tracedRecord,
      "jvm" -> Map(
        "driver_heap_mb" -> rt.maxMemory / 1048576.0,
        "jdk" -> System.getProperty("java.runtime.version"),
        "spark" -> spark.version,
        "cpus" -> cpus,
        "available_processors" -> rt.availableProcessors))
    spark.stop()
    Files.writeString(Paths.get(get("result")), Json.render(result))
  }

  def sampleJson(s: Sample): Map[String, Any] = Map(
    "name" -> s.name, "seq" -> s.seq, "pass" -> s.pass, "kind" -> s.kind,
    "registry_s" -> s.lookup,
    "build_s" -> s.build, "exec_s" -> s.exec, "sink_s" -> s.sink,
    "total_s" -> s.total, "error" -> s.error.orNull)
}
