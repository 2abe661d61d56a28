package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths, StandardCopyOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Loss-proofing (round 7 recorded `{}` for the whole round): oracle_sql
  * .json is written FIRST (it needs no Spark jobs, so a later timeout or
  * crash cannot erase it), every query logs a one-line ok/fail marker to
  * stderr, and `$outDir/progress.json` is atomically rewritten after each
  * query — a driver-side timeout still leaves per-query evidence of
  * everything that finished.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name filter (local iteration);
    // an unknown name fails before anything is written
    val only: Option[Set[String]] =
      if (args.length > 2)
        Some(SparkEntry.select(SparkEntry.queries.keys.toSeq, args(2)).toSet)
      else None
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def writeAtomic(path: String, content: String): Unit = {
      val tmp = Paths.get(path + ".tmp")
      Files.writeString(tmp, content)
      Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    def jsonObject(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    writeAtomic(s"$outDir/oracle_sql.json", jsonObject(SparkEntry.oracleSql))
    // rows-only dump → paired oracle-checked gate (see
    // SparkEntry.noOracleGates): the correctness artifact carries the
    // pairing so `err: no_oracle` rows are auditable in place
    writeAtomic(s"$outDir/no_oracle_gates.json",
      jsonObject(SparkEntry.noOracleGates))

    val done = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def flushProgress(): Unit =
      writeAtomic(s"$outDir/progress.json", jsonObject(done))

    val toRun = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val n = toRun.size
    var i = 0
    toRun.foreach { case (name, fn) =>
      i += 1
      val t0 = System.nanoTime()
      try {
        // No coalesce(1): without a shuffle, coalesce pulls the ENTIRE
        // upstream plan into one task, serializing every query through
        // a single thread. The driver's DuckDB mirror reads the whole
        // directory (`/*.parquet` glob), so multi-file output is fine —
        // and the plan runs at full local[32] parallelism.
        fn(spark, sfDir).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val secs = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[verify] ($i%d/$n%d) $name%s ok $secs%.1fs")
        done(name) = "ok"
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ($i/$n) $name FAILED: ${e.getMessage}")
        done(name) = s"error: ${e.getMessage}".take(300)
      }
      flushProgress()
    }
    spark.stop()
  }
}
