package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session configuration so Verify, Bench, and
  * tests agree (SURVEY.md §7).
  *
  * - shuffle partitions = cpu count, not the 200 default (local mode);
  *   AQE coalesces further at runtime;
  * - UTC session timezone for oracle parity;
  * - `nanosAsLong`: the events table stores TIMESTAMP(NANOS), which
  *   Spark otherwise refuses to read (see [[Tables.events]]);
  * - a generated-code cache that holds the engine's working set
  *   (8192 entries, stage ids kept out of the class names), so a query
  *   executed again reuses its compiled classes instead of recompiling
  *   them (the measurement is beside the setting).
  */
object Sessions {
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // generated-code cache sized to the engine's working set: all 426
      // bench queries at sf0.01 compile 4,957 distinct classes (250 MB
      // of Metaspace), so a repeated execution compiles nothing
      // (plans/warm_path/compile_census.md). Spark's default of 100
      // entries evicted a pass's classes before the next pass: every
      // pass over perfbench's `iterative` panel (~126 classes)
      // recompiled 97-128 of them, 2.0-2.9 s of Janino per pass.
      // Static conf: it takes effect only when the SparkContext starts.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // the cache is keyed by the generated source; with the stage id
      // in the class name, the same stage planned under another id (AQE
      // numbers stages in the order it plans them, which varies from
      // run to run) missed the cache and was compiled again
      .config("spark.sql.codegen.useIdInClassName", "false")
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
