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
  *   them (the measurement is beside the setting);
  * - small plans run as one task: [[graft.plans.SmallPlanOneTask]]
  *   coalesces each scan of a plan whose leaves together weigh no more
  *   than `spark.sql.autoBroadcastJoinThreshold` (10 MB; ≤ 0 turns it
  *   off) to one partition, and the input of each global sort too (a
  *   full outer join or a union reports an unknown partitioning, and a
  *   range exchange above it would run the whole one-task plan twice),
  *   so the plan plans no shuffle exchange and pays no job and AQE
  *   re-plan per exchange. It leaves streaming
  *   plans, samples, explicit repartitions/coalesces (the
  *   [[Tables.wide]] spreads) and nondeterministic expressions alone,
  *   since their layout is part of their answer. The bar is the
  *   broadcast threshold, not Spark's 64 MB advisory partition size:
  *   under 64 MB dq_expectations (four leaves, 35 MB at sf0.1) ran in
  *   0.89 s instead of 0.55 s, its three lineitem branches having lost
  *   their concurrent stages. The rule runs once after the
  *   operator-optimization fixed point (`injectPreCBORule`); a
  *   session from `newSession()` shares the extensions and so the
  *   rule. `spark.sql.optimizer.excludedRules` set to the rule's name
  *   shows the plan as it runs at scale.
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
      .withExtensions(_.injectPreCBORule(_ => graft.plans.SmallPlanOneTask))

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.registerAll(spark)
    spark
  }
}
