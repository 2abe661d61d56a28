package graft

import java.io.FileNotFoundException

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, pmod, timestamp_micros, xxhash64}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table access layer: every engine query reads the driver-generated
  * parquet star schema from a scale-factor directory (TESTDATA.md).
  *
  * Parquet is the at-rest columnar format (the reference converts text
  * to ORC for the same reason — /root/reference/README.md:111-118);
  * Catalyst pushes predicates + column pruning into these scans, which
  * is the 100 TB story: a query touching 3 of 27 columns reads 3
  * column chunks, not the table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Plain scan — NO automatic parallelism spread (round-21 reversal
    * of the r20 blanket spread, VERDICT r20 "Next round" #1, decided
    * by a full quiet-box A/B: `plans/r21/spread_ab_full.txt`).
    *
    * Background: the testdata tables are single-row-group parquet
    * files, and a parquet row group is the unit of split — so every
    * scan runs as ONE task regardless of core count. Round 20
    * therefore repartitioned every table > 128 KiB to the full core
    * count. The r21 A/B (426 queries, spread on vs off, same quiet
    * box) measured that policy at 191 s of tax across 383 queries
    * against 29 s of win across 42: the exchange pays ONLY where the
    * downstream per-byte map work is heavy (shingling, n-gram builds,
    * perceptual encode/decode/hash, Jaro-Winkler, unbounded percentile
    * buffers), and those consumers are a small, known set. So the
    * spread is now strictly OPT-IN at the consumer: the winner queries
    * wrap their heavy input in [[wide]]; everything else scans
    * naturally (and at 100 TB a table has many row groups and scans
    * wide with no help).
    *
    * A small plan now stays in that one task: when a plan's inputs
    * together fit under the broadcast threshold,
    * [[graft.plans.SmallPlanOneTask]] coalesces each scan to one
    * partition, so the aggregates, joins, windows and sorts above it
    * need no shuffle either ([[Sessions]]).
    *
    * Some consumers are PINNED to this natural layout and must never
    * go through [[wide]], because their OUTPUT depends on the physical
    * layout: `sample_first_n` (limit tie-winners follow scan order),
    * the seeded samplers (`df.sample` draws per (partition, position))
    * and the seeded spark.ml fits (floating-point sum order moves
    * centroids — see [[embeddings]]). Each such call site says so.
    *
    * SCHEMA CACHE: a plain `spark.read.parquet` infers the schema from
    * a parquet footer, which starts a one-task Spark job (72–84 ms on
    * 4 cores) on EVERY read, although the input tables never change.
    * So the first read of a table in a session infers it and keeps the
    * schema; later reads pass it in (`spark.read.schema(s)`, 7–10 ms,
    * no job). Spark makes the data schema nullable on both paths, so
    * the relation is the same. The key is the session (inference
    * follows its parquet settings, e.g. `nanosAsLong`), the qualified
    * path, and the (path, length, modification time) of every file
    * under it: a table rewritten in place is inferred again. Only the
    * schema is kept, never the DataFrame: each call still returns a
    * fresh relation with fresh attribute ids, so a self-join built
    * from two reads resolves as before. The artifact directories that
    * `llm/`, `streaming/` and `operators.Merge` read are rewritten
    * while a session runs and are read directly, not through here. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    fingerprint(spark, path) match {
      case None => spark.read.parquet(path) // missing: Spark's own error
      case Some((qualified, files)) =>
        val known = schemas.synchronized {
          schemas.computeIfAbsent(spark, _ => mutable.Map.empty).get(qualified)
        }
        known match {
          case Some((`files`, schema)) => spark.read.schema(schema).parquet(path)
          case _ =>
            val df = spark.read.parquet(path)
            schemas.synchronized { schemas.get(spark)(qualified) = (files, df.schema) }
            df
        }
    }
  }

  private type Files = Seq[(String, Long, Long)]

  /** Per session: qualified path -> (its files, their schema). Weak
    * in the session, so a stopped session's entries go with it. */
  private val schemas = new java.util.WeakHashMap[SparkSession,
    mutable.Map[String, (Files, StructType)]]

  /** The qualified path and the sorted (path, length, modification
    * time) of every file under it; None when nothing is there.
    *
    * Walks `listStatus`, not `listFiles`: the located statuses
    * `listFiles` builds load each file's permissions, which Hadoop's
    * local filesystem (without native libhadoop) gets by forking
    * `ls -ld`, about 4 ms per file; a plain status loads them only
    * when asked. */
  private def fingerprint(spark: SparkSession,
      path: String): Option[(String, Files)] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(s: FileStatus): Iterator[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).iterator.flatMap(walk)
      else Iterator(s)
    try {
      val files = fs.listStatus(p).iterator.flatMap(walk)
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSeq.sorted
      Some((fs.makeQualified(p).toString, files))
    } catch { case _: FileNotFoundException => None }
  }

  /** The spread exchange: hash-on-key, NOT round-robin and NOT
    * all-columns — a keyless repartition(n) first SORTS its input
    * partition (sortBeforeRepartition, needed for retry determinism),
    * a single-task full-table sort; and hashing EVERY column forces
    * the scan to read every column, silently defeating column pruning
    * (measured in r20: +2 s on closeness via the 16-column lineitem).
    * The leading columns are the generator's keys — high-cardinality,
    * usually read anyway — so hashing just the first two is
    * deterministic, retry-safe (guide §2.5), pruning-friendly, and
    * spreads at ~row cardinality. */
  private def spreadTo(df: DataFrame, width: Int): DataFrame =
    df.repartition(width, pmod(
      xxhash64(df.columns.take(2).map(col): _*), lit(width * 64)))

  /** Scan size at or below which [[wide]] keeps the natural layout. */
  private val smallScanBytes = 131072L

  /** FULL-WIDTH spread for heavy per-byte map work (shingling,
    * n-gram builds, perceptual hash/decode, Jaro-Winkler scoring,
    * unbounded percentile buffers): these consumers measured 0.4-4.5 s
    * wins from a full-core spread in the r21 A/B even on KB-scale
    * tables, because their cost per byte is orders of magnitude above
    * a scan's. Fires only when the input scans narrower than the core
    * count AND exceeds [[smallScanBytes]] (128 KiB — so Verify's
    * sf0.001/sf0.01 sweeps keep the narrow layouts the oracle record
    * was built under, and per-task overhead never
    * dominates); deterministic 2-leading-column hash — exactly the
    * r20 partitioning these consumers were oracle-swept under. On a
    * production multi-split table the parts-vs-cores guard makes this
    * a no-op. Layout-sensitive consumers never call it (see [[table]]). */
  def wide(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes > smallScanBytes)
      spreadTo(df, par)
    else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` normalizes to session-zoned TIMESTAMP whatever the
    * generator emitted:
    * - parquet TIMESTAMP(NANOS) (older testdata) reads as a nanos long
    *   under `spark.sql.legacy.parquet.nanosAsLong=true` (set by
    *   [[Sessions.builder]]); convert with integer `div` (a double
    *   division would lose precision above 2^53). Sub-microsecond data
    *   means queries emitting raw `ts` must truncate to a precision
    *   both engines share (e.g. date_trunc('second', ...)).
    * - parquet timestamp[us] with isAdjustedToUTC=false reads as
    *   TIMESTAMP_NTZ, which Spark 4 refuses to cast to numeric types;
    *   cast to TIMESTAMP here (the session zone is pinned UTC, so the
    *   stored micros value is unchanged and matches DuckDB's reading). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  /** PINNED to the natural scan (never [[wide]]): embeddings is a
    * 2k-row vector table whose heavy consumers either shuffle by a
    * join key immediately (brute top-k, band joins) or run seeded
    * spark.ml KMeans fits — and a seeded fit is
    * PARTITIONING-SENSITIVE (floating-point sum order changes the
    * centroids), so spreading this scan changes what the recall-gated
    * ANN queries compute (measured in r20: sim_recall_ivf /
    * sim_filtered_ivf_recall dipped below their floors under a spread
    * scan). */
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}
