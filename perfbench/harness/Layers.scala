package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.functions.{cosine_similarity, doc_fingerprint, jaro_winkler, kll_sketch_agg, simhash64, token_ngrams}

/** Per-layer figures of a traced window, normalised to one pass over
  * the panel (counts and times are window totals divided by the
  * number of traced passes). */
object Layers {
  final case class Summary(metrics: Map[String, Double],
      samples: Seq[Harness.Sample], perQuery: Seq[Map[String, Any]])

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** A parquet write is one action: its last job runs the final stage,
    * whose tasks write the files, and the driver then commits them. The
    * sink span runs from that job's submission to the action's end; the
    * exec span is the rest of the action. */
  def splitSink(s: Harness.Sample, groups: Map[String, Trace#Acc]): Harness.Sample =
    groups.get(s"${s.name}#${s.seq}|exec").filter(_.lastJobStartMs > 0)
      .fold(s) { a =>
        val sink = math.min(s.exec, math.max(0L, s.endMs - a.lastJobStartMs) / 1e3)
        s.copy(exec = s.exec - sink, sink = sink)
      }

  def summarize(rawSamples: Seq[Harness.Sample], walls: Seq[Double],
      tracedWall: Double, groups: Map[String, Trace#Acc], skews: Seq[Double],
      cores: Int, gcS: Double, heapPeakMb: Double,
      untracedWalls: Seq[Double], parquetSink: Boolean): Summary = {
    val samples = if (parquetSink) rawSamples.map(splitSink(_, groups)) else rawSamples
    val passes = walls.size.toDouble
    def phase(p: String): Seq[Trace#Acc] =
      groups.collect { case (g, a) if g.endsWith(s"|$p") => a }.toSeq
    def perPass(v: Double): Double = v / passes
    val all = groups.values.toSeq
    val jobs = all.map(_.jobs).sum
    val tasks = all.map(_.tasks).sum
    val taskS = all.map(_.taskMs).sum / 1e3
    val mb = 1e6
    val metrics = Map(
      "registry.lookup_s" -> perPass(samples.map(_.lookup).sum),
      "build.s" -> perPass(samples.map(_.build).sum),
      "build.jobs" -> perPass(phase("build").map(_.jobs).sum),
      "build.tasks" -> perPass(phase("build").map(_.tasks).sum),
      "exec.s" -> perPass(samples.map(_.exec).sum),
      "exec.jobs" -> perPass(phase("exec").map(_.jobs).sum),
      "exec.stages" -> perPass(phase("exec").map(_.stages).sum),
      "exec.tasks" -> perPass(phase("exec").map(_.tasks).sum),
      "exec.exchanges" -> perPass(phase("exec").map(_.exchanges).sum),
      "sink.s" -> perPass(samples.map(_.sink).sum),
      "run.self_s" -> perPass(walls.sum - samples.map(_.total).sum),
      "spark.tasks_per_job" -> (if (jobs == 0) 0.0 else tasks.toDouble / jobs),
      "spark.task_s" -> perPass(taskS),
      "spark.cpu_util" -> taskS / (tracedWall * cores),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else median(skews)),
      "spark.shuffle_read_mb" -> perPass(all.map(_.shuffleRead).sum / mb),
      "spark.shuffle_write_mb" -> perPass(all.map(_.shuffleWrite).sum / mb),
      "spark.spill_mb" -> perPass(all.map(_.spill).sum / mb),
      "spark.input_mb" -> perPass(all.map(_.input).sum / mb),
      "spark.peak_exec_mem_mb" -> all.map(_.peakMem).foldLeft(0L)(math.max) / mb,
      "jvm.gc_s" -> perPass(gcS),
      "jvm.heap_peak_mb" -> heapPeakMb,
      "trace.wall_s" -> median(walls),
      "trace.overhead_s" -> (median(walls) - median(untracedWalls)),
      "trace.overhead_frac" ->
        (median(walls) - median(untracedWalls)) / median(untracedWalls))
    val perQuery = samples.map { s =>
      def ph(p: String): Map[String, Any] = groups.get(s"${s.name}#${s.seq}|$p")
        .fold(Map.empty[String, Any])(a => Map("jobs" -> a.jobs,
          "stages" -> a.stages, "tasks" -> a.tasks, "task_s" -> a.taskMs / 1e3,
          "shuffle_read_mb" -> a.shuffleRead / mb,
          "shuffle_write_mb" -> a.shuffleWrite / mb, "spill_mb" -> a.spill / mb,
          "input_mb" -> a.input / mb, "exchanges" -> a.exchanges))
      Harness.sampleJson(s) ++ Map("build" -> ph("build"), "exec" -> ph("exec"))
    }
    Summary(metrics, samples, perQuery)
  }
}

/** Layer probes that run outside the panel: a `noop` scan of each table
  * the traced panel read (plain and through the `Tables.wide` spread),
  * and rows/s of the codegen'd `graft.functions` on a fixed in-memory
  * input. Each timing is the median of three runs after one warm run. */
object Probes {
  private def timeNoop(df: DataFrame): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Layers.median(Seq(once(), once(), once()))
  }

  def scan(spark: SparkSession, sfDir: String, tables: Seq[String]): Map[String, Double] = {
    val known = tables.filter(Tables.all.contains)
    val plain = known.map(t => timeNoop(Tables.table(spark, sfDir, t))).sum
    val wide = known.map(t => timeNoop(Tables.wide(Tables.table(spark, sfDir, t)))).sum
    val mb = known.map(t => new File(s"$sfDir/$t.parquet").length).sum / 1e6
    Map("scan.s" -> plain, "scan.mb_per_s" -> (if (plain > 0) mb / plain else 0.0),
      "scan.wide_s" -> wide)
  }

  val exprRows = 200000L

  def expr(spark: SparkSession): Map[String, Double] = {
    val parts = spark.sparkContext.defaultParallelism
    val vocab = array(("spark window merge table column vector stream value " +
      "data small join filter big group hash customer sort order slow line " +
      "part fast row the agg key query a scan batch").split(" ").map(lit): _*)
    val ids = spark.range(0, exprRows, 1, parts)
    val text = ids.select(col("id"), concat_ws(" ",
      transform(sequence(lit(1), (col("id") % 40 + 20).cast("int")),
        i => element_at(vocab, (pmod(xxhash64(col("id"), i), lit(30L)) + 1).cast("int"))))
      .as("text")).persist(StorageLevel.MEMORY_ONLY)
    val vecs = ids.select(
      transform(sequence(lit(1), lit(64)), i => sin(col("id") * i).cast("float")).as("a"),
      transform(sequence(lit(1), lit(64)), i => cos(col("id") + i).cast("float")).as("b"))
      .persist(StorageLevel.MEMORY_ONLY)
    val nums = ids.select((col("id") % 16).as("g"), (rand(7) * 1000).as("x"))
      .persist(StorageLevel.MEMORY_ONLY)
    Seq(text, vecs, nums).foreach(_.count())
    def rate(df: DataFrame): Double = exprRows / timeNoop(df)
    val out = Map(
      "expr.jaro_winkler.rows_per_s" -> rate(text.select(jaro_winkler(
        substring(col("text"), 1, 24), substring(col("text"), 4, 24)).as("v"))),
      "expr.simhash64.rows_per_s" -> rate(text.select(simhash64(col("text")).as("v"))),
      "expr.token_ngrams.rows_per_s" -> rate(text.select(token_ngrams(col("text"), 3).as("v"))),
      "expr.doc_fingerprint.rows_per_s" -> rate(text.select(doc_fingerprint(col("text")).as("v"))),
      "expr.cosine_similarity.rows_per_s" -> rate(vecs.select(
        cosine_similarity(col("a"), col("b")).as("v"))),
      "expr.kll_sketch_agg.rows_per_s" -> rate(nums.groupBy(col("g"))
        .agg(kll_sketch_agg(col("x")).as("v"))))
    Seq(text, vecs, nums).foreach(_.unpersist(blocking = true))
    out
  }

  /** Size and file count of the panel's parquet outputs (one pass). */
  def sinkFiles(checkDir: String, panel: Seq[String]): Map[String, Double] = {
    val files = panel.distinct.flatMap(n =>
      Option(new File(s"$checkDir/$n").listFiles).toSeq.flatten)
      .filter(f => f.getName.startsWith("part-"))
    Map("sink.mb" -> files.map(_.length).sum / 1e6, "sink.files" -> files.size.toDouble)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
