package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a query's result is graded. */
sealed trait Check

/** DuckDB SQL that must hash-match the query's result on the same
  * parquet tables. */
final case class Oracle(sql: String) extends Check

/** No SQL-replayable oracle (seeded RNG, zlib, fitted models,
  * tokenizers): the result is graded rows-only, and it is honest only
  * because the named companion query — which must itself carry an
  * [[Oracle]] — pins its contract. */
final case class Gate(gateName: String) extends Check

/** One named query of the registry, declared once: the Spark
  * plan, the check that grades it, and its flags. [[SparkEntry]]
  * derives `queries`, `benchQueries`, `oracleSql` and `noOracleGates`
  * from these values.
  *
  * Conventions shared by every query + oracle pair:
  *  - reads `$sfDir/<table>.parquet` via [[Tables]];
  *  - deterministic output: explicit ORDER BY on key columns in both
  *    the Spark plan and the DuckDB oracle SQL;
  *  - double aggregation goes through decimal (exact, associative,
  *    partition-order independent) and is cast back to double at the
  *    end — identical bits in Spark and DuckDB;
  *  - column names aliased identically on both sides.
  *
  * @param build      the plan builder, `(session, sfDir) => result`
  * @param bench      in the headline bench set (see
  *                   [[SparkEntry.benchQueries]])
  * @param eagerBuild `build` itself runs Spark jobs beyond the parquet
  *                   schema reads of [[Tables]]: it writes a tmp dataset,
  *                   fits or collects something, localCheckpoints a
  *                   multi-consumer table, runs an iterative loop or a
  *                   guard count. Callers that only want a plan should
  *                   skip these. Unflagged queries are pure plan
  *                   builders; QueriesSpec measures that they run no
  *                   job at build time. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    check: Check,
    bench: Boolean = false,
    eagerBuild: Boolean = false)
