package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session configuration so Verify, Bench, and
  * tests agree (SURVEY.md §7).
  *
  * - shuffle partitions = cpu count, not the 200 default (local mode);
  *   AQE coalesces further at runtime;
  * - UTC session timezone for oracle parity;
  * - `nanosAsLong`: the events table stores TIMESTAMP(NANOS), which
  *   Spark otherwise refuses to read (see [[Tables.events]]).
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // AQE off measured as a loss on the iterative family (r20: 61.1 s
      // vs 48.7 s), so it is always on
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // corrupt-row policy (sources.Csv) must be projection-independent:
      // with pruning on, a narrow projection parses only the referenced
      // columns and under-length/banner rows silently pass as valid
      .config("spark.sql.csv.parser.columnPruning.enabled", "false")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }
}
