package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The persisted-index protocol of the daily-crawl loop (dedup or
  * censor a new batch against history, then append the survivors):
  * one create/append/open contract for every appendable side-file
  * index — the simhash/hamming band index, the MinHash and embedding
  * LSH indexes, the n-gram posting index ([[Dedup]]), the BM25
  * postings and the line census ([[TextAnalysis]]).
  *
  * An index is a parquet body at `dir` plus sidecars beside it:
  *  - `dir + "__meta"`, one row holding the index's LAYOUT (band
  *    count, shingle width, seed, tokenizer, …). Create writes it;
  *    append and every reader check it, because an index read or
  *    grown under a different layout silently loses recall or
  *    mis-scores — the worst failure an index can have, so it fails
  *    loudly instead. Values compare by position and type, so the
  *    column names are labels only. An index without layout
  *    parameters (the line census) has no `__meta`.
  *  - an optional ID-KEYED sidecar (`__sets`, `__vecs`, `__sizes`,
  *    `__docs`, `__docids`: one row per indexed id). Appending an id
  *    the index already holds would double-count its rows (posting
  *    tf, census counts) or, in the LSH indexes, report its later
  *    near-dups twice, so an append whose batch shares an id with the
  *    sidecar is refused, naming the id. The guard is one semi-join
  *    of the sidecar's id column against the batch's ids, cut at the
  *    first hit — index-scale, small next to the append's own pass.
  *    The sidecar is written BEFORE the body: a crash between the two
  *    writes leaves sidecar-only ids (they never match a probe), and
  *    a retry of the same batch then trips the guard instead of
  *    appending a second copy of the body. The reverse order would
  *    let the retry pass the guard and corrupt every id in the batch.
  *
  * Indexes whose rows repeat per id by design (the signature index
  * holds one band row per frame) carry no id sidecar and are not
  * guarded; their readers' distinct or per-pair min absorbs repeated
  * rows. */
private[graft] object SideIndex {

  /** An index's layout: labelled values, compared by position and
    * type (Int, Long or String). */
  type Layout = Seq[(String, Any)]

  /** The batch's id-keyed sidecar: `rows` are written at
    * `dir + suffix`; `ids`, one column named as the sidecar's id
    * column, are the batch ids the append guard checks. */
  final case class IdSidecar(suffix: String, rows: DataFrame, ids: DataFrame)

  /** `true` for `"append"`, `false` for `"overwrite"`; any other mode
    * (case variants included) is refused before any job runs. */
  def isAppend(mode: String): Boolean = mode match {
    case "append" => true
    case "overwrite" => false
    case other => throw new IllegalArgumentException(
      s"""mode must be "overwrite" or "append" (got "$other")""")
  }

  /** Create (`overwrite`) or grow (`append`) the index at `dir`:
    * append checks the layout and the id guard, then the id sidecar
    * is written before the body; create writes `__meta` last. */
  def write(op: String, dir: String, mode: String, layout: Layout,
      body: DataFrame, sidecar: Option[IdSidecar] = None): Unit = {
    val append = isAppend(mode)
    val spark = body.sparkSession
    if (append) {
      if (layout.nonEmpty)
        requireLayout(op, spark, dir, layout, "append requested")
      sidecar.foreach(s => requireDisjoint(op, s.ids, dir + s.suffix))
    }
    sidecar.foreach(s => s.rows.write.mode(mode).parquet(dir + s.suffix))
    body.write.mode(mode).parquet(dir)
    if (!append && layout.nonEmpty)
      spark.range(0L, 1L, 1L, 1)
        .select(layout.map { case (k, v) => lit(v).as(k) }: _*)
        .write.mode("overwrite").parquet(dir + "__meta")
  }

  /** The body of the index at `dir`, after its layout check. */
  def open(op: String, spark: SparkSession, dir: String,
      layout: Layout): DataFrame = {
    requireLayout(op, spark, dir, layout, "queried")
    spark.read.parquet(dir)
  }

  private def requireLayout(op: String, spark: SparkSession, dir: String,
      layout: Layout, action: String): Unit = {
    val m = spark.read.parquet(dir + "__meta").head()
    val built = m.toSeq
    if (built.length != layout.length || built.zip(layout).exists {
        case (b, (_, v)) => !java.util.Objects.equals(b, v) }) {
      val names =
        if (built.length == layout.length) layout.map(_._1)
        else m.schema.fieldNames.toSeq
      def show(kv: Seq[(String, Any)]) =
        kv.map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")
      throw new IllegalArgumentException(
        s"$op: index at $dir was built with ${show(names.zip(built))}, " +
          s"$action with ${show(layout)} — rebuild or re-query to match")
    }
  }

  /** Refuse a batch sharing an id with the id sidecar at `sidecar`. */
  def requireDisjoint(op: String, ids: DataFrame, sidecar: String): Unit = {
    val id = ids.columns.head
    val dup = ids.sparkSession.read.parquet(sidecar).select(col(id))
      .join(ids, Seq(id), "left_semi").limit(1).collect()
    require(dup.isEmpty,
      s"$op: id ${dup.headOption.map(_.get(0)).orNull} is already indexed " +
        s"at $sidecar — an index's batches must have disjoint ids, or " +
        "their rows double-count; dedup the batch against the index first")
  }
}
