package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.TreeMap

import graft.queries._

/** Driver contract — registry of named queries (SURVEY.md §2 inventory).
  *
  * Each query is declared once, as a [[QuerySpec]] in its family's file
  * under `graft.queries`; the maps below are derived from those
  * declarations once, when this object initializes.
  */
object SparkEntry {

  /** Every declared query, in name order. */
  val specs: Seq[QuerySpec] = {
    val all = Seq(TpchQueries.specs, AggregationQueries.specs,
      JoinQueries.specs, QualityQueries.specs, FeatureQueries.specs,
      ExperimentQueries.specs, SamplingQueries.specs,
      TimeSeriesQueries.specs, EventQueries.specs, GraphQueries.specs,
      TextQueries.specs, DedupQueries.specs, SimilarityQueries.specs,
      MultimodalQueries.specs, MlQueries.specs, PipelineQueries.specs,
      SourceQueries.specs).flatten.sortBy(_.name)
    val twice = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(twice.isEmpty, s"queries declared twice: ${twice.mkString(", ")}")
    all
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** The names of `pool` selected by `filter` (comma-separated query
    * names), in pool order. Every filter name must be in the pool, so
    * a typo fails loudly instead of producing an empty-but-green run;
    * `kind` qualifies the pool in the message ("bench" → "unknown bench
    * queries: …"). */
  def select(pool: Seq[String], filter: String,
      kind: String = ""): Seq[String] = {
    val only = filter.split(",").toSet
    val unknown = only -- pool
    require(unknown.isEmpty,
      s"unknown ${if (kind.isEmpty) "" else kind + " "}queries: " +
        unknown.toSeq.sorted.mkString(", "))
    pool.filter(only.contains)
  }

  /** Every query's plan builder, iterated in name order. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    TreeMap(specs.map(q => q.name -> q.build): _*)

  /** Headline bench set: every relational/text/events operator plus
    * the cheap north-star paths. Excluded: ML model fits (word2vec,
    * tfidf, pca — training benchmarks, not query benchmarks), the
    * LSH joins whose cost is threshold-dependent rather than
    * scan-dependent, and ALL verification gates (`*_gate`,
    * agreement/recall checks such as feat_percentile_buckets_kll or
    * sim_quantized_recall) — those run a production plan PLUS a
    * ground-truth replay, so benching them double-counts work no
    * production user pays for. Gates stay in `queries` (correctness)
    * only; the production shape they verify is benched directly
    * (e.g. dedup_clusters, not dedup_clusters_gate). */
  val benchQueries: Seq[String] = specs.filter(_.bench).map(_.name)

  /** For each oracle-checked query, equivalent ANSI SQL runnable by
    * DuckDB on the same parquet tables. */
  val oracleSql: Map[String, String] =
    TreeMap(specs.collect { case QuerySpec(n, _, Oracle(sql), _, _) => n -> sql }: _*)

  /** The rows-only dumps (no DuckDB-replayable oracle — seeded RNG,
    * zlib, fitted models, tokenizers) and the ORACLE-CHECKED gate each
    * is spec-paired to. Emitted by [[Verify]] as no_oracle_gates.json
    * next to oracle_sql.json so the correctness artifact carries the
    * pairing instead of requiring a cross-reference into SURVEY.md. */
  val noOracleGates: Map[String, String] =
    TreeMap(specs.collect { case QuerySpec(n, _, Gate(g), _, _) => n -> g }: _*)
}
