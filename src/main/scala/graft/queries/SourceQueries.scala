package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Quality
import graft.sources.{Csv, Deletes, Writers}

import Shared.{medicareCsv, medicareReadCsv, tmpPath}

/** Sources and sinks: CSV/ORC/JSON ingest, round trips, layouts, pruning
  * indexes, compaction and deletes. */
object SourceQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("hilbert_layout", (s, dir) => {
      import s.implicits._
      // Hilbert-clustered writes vs the linear layout — the
      // zorder_layout experiment with the locality-tighter curve:
      // per-file suppkey span must shrink below 0.5x linear while the
      // partkey span stays bounded (skipping on BOTH columns).
      // SIDE-EFFECTING (writes both layouts at construction).
      val out = tmpPath("hilbert", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"),
          $"l_suppkey".cast("int").as("sk"))
      li.repartitionByRange(16, $"pk")
        .write.mode("overwrite").parquet(s"$out/linear")
      // same 16-bit min/max normalization as the Morton layout — the
      // curve wants a uniform square grid
      val b = li.agg(min($"pk").as("pk0"), max($"pk").as("pk1"),
        min($"sk").as("sk0"), max($"sk").as("sk1"))
      def norm(c: Column, lo: Column, hi: Column): Column =
        ((c - lo).cast("long") * 65535L / greatest(hi - lo, lit(1))).cast("long")
      li.crossJoin(broadcast(b))
        .repartitionByRange(16, graft.functions.hilbert_index(
          norm($"pk", $"pk0", $"pk1"), norm($"sk", $"sk0", $"sk1")))
        .select($"pk", $"sk")
        .write.mode("overwrite").parquet(s"$out/hilbert")
      def spans(path: String) = s.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max($"sk") - min($"sk")).as("span_sk"),
          (max($"pk") - min($"pk")).as("span_pk"))
        .agg(avg($"span_sk").as("avg_sk"), avg($"span_pk").as("avg_pk"))
      val lin = spans(s"$out/linear")
        .select($"avg_sk".as("lin_sk"), $"avg_pk".as("lin_pk"))
      val hi = spans(s"$out/hilbert")
        .select($"avg_sk".as("h_sk"), $"avg_pk".as("h_pk"))
      val range = li.agg((max($"pk") - min($"pk")).as("pk_range"))
      li.agg(count(lit(1)).as("n_rows"))
        .crossJoin(lin).crossJoin(hi).crossJoin(range)
        .select($"n_rows".cast("bigint").as("n_rows"),
          ($"h_sk" < $"lin_sk" * 0.5).as("h_sk_improves"),
          ($"h_pk" < $"pk_range" * 0.5).as("h_pk_bounded"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  true AS h_sk_improves, true AS h_pk_bounded
        |FROM lineitem""".stripMargin),
    eagerBuild = true),

    QuerySpec("partition_dynamic_overwrite", (s, dir) => {
      import s.implicits._
      // Dynamic partition overwrite: rewrite ONLY the click partition
      // (doubled cents); every other partition must survive — static
      // overwrite mode would atomically drop the whole table.
      // SIDE-EFFECTING (two writes at construction).
      val base = java.nio.file.Files.createTempDirectory("dynpart")
        .toString + "/t"
      val ev = Tables.events(s, dir).select($"event_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"))
      Writers.dynamicOverwrite(s, ev, base, Seq("event_type"))
      val patch = ev.filter($"event_type" === "click")
        .withColumn("cents", $"cents" * 2L)
      Writers.dynamicOverwrite(s, patch, base, Seq("event_type"))
      s.read.parquet(base)
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"cents").cast("bigint").as("sum_cents"))
        .orderBy($"event_type")
    },
    // only the click partition was rewritten; the others must read
    // back exactly as first written
    Oracle("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN event_type = 'click'
        |    THEN 2 * CAST(round(value * 100) AS BIGINT)
        |    ELSE CAST(round(value * 100) AS BIGINT) END) AS BIGINT)
        |    AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
    eagerBuild = true),

    QuerySpec("csv_medicare_ingest", (s, dir) => {
      import s.implicits._
      // the reference's flagship ingest (README.md:29-71) over the
      // fixture with the §1.4 pathologies: quoted commas survive,
      // banner/header/short rows are quarantined, npi != '' applied,
      // money parsed at query time
      Csv.readMedicare(s, medicareCsv)
        .select($"npi", $"provider_type", $"hcpcs_code", $"hcpcs_description",
          $"line_srvc_cnt",
          graft.functions.parse_money($"average_submitted_chrg_amt")
            .cast("double").as("avg_submitted"))
        .orderBy($"npi", $"hcpcs_code")
    },
    Oracle(s"""SELECT npi, provider_type, hcpcs_code, hcpcs_description, line_srvc_cnt,
         |  CAST(CAST(replace(replace(average_submitted_chrg_amt, '$$', ''), ',', '') AS DECIMAL(18,2)) AS DOUBLE) AS avg_submitted
         |FROM $medicareReadCsv
         |WHERE npi IS NOT NULL AND npi != ''
         |ORDER BY npi, hcpcs_code""".stripMargin)),

    QuerySpec("csv_corrupt_rows", (s, dir) => {
      import s.implicits._
      // SIDE-EFFECTING (not a pure plan builder): the corrupt-record
      // projection needs a cached scan (Spark disallows corrupt-column-
      // only queries on a raw scan), but a 100 TB ingest must not stay
      // pinned in storage memory after the report — so the one-row
      // report runs eagerly AT QUERY-CONSTRUCTION TIME (a full scan),
      // is unpersisted, and comes back as a local DataFrame. coalesce
      // guards the empty-file case, where sum() over zero rows is NULL.
      val raw = Csv.read(s, medicareCsv, Csv.medicareSchema, cache = true)
      val report = raw.agg(
        coalesce(sum(when(col(Csv.corruptCol).isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_corrupt"),
        coalesce(sum(when(col(Csv.corruptCol).isNull, 1L).otherwise(0L)), lit(0L))
          .as("n_valid")).head()
      raw.unpersist()
      Seq((report.getLong(0), report.getLong(1))).toDF("n_corrupt", "n_valid")
    },
    Oracle(s"""WITH all_lines AS (
         |  SELECT count(*) AS n FROM read_csv('$medicareCsv', header=false,
         |    delim=e'\\x01', quote='', columns={'line':'VARCHAR'}, auto_detect=false)),
         |parsed AS (
         |  -- count(col), not count(*): DuckDB's ignore_errors only
         |  -- enforces the INTEGER parse on columns it actually reads
         |  SELECT count(line_srvc_cnt) AS n FROM $medicareReadCsv)
         |SELECT CAST(a.n - p.n AS BIGINT) AS n_corrupt, CAST(p.n AS BIGINT) AS n_valid
         |FROM all_lines a, parsed p""".stripMargin),
    eagerBuild = true),

    QuerySpec("fixed_width_ingest", (s, dir) => {
      import s.implicits._
      // Fixed-width record ingest — the mainframe/ERP extract format
      // no delimited reader touches: render orders into genuine
      // padded fixed-offset lines, slice them back through the
      // declared (name, width) spec, and aggregate. The oracle
      // restates the aggregate from the RAW columns, so the values
      // agree only if every offset, pad, and trim round-tripped
      // faithfully (the xml_event_stats grading device).
      val spec = Seq(("o_orderkey", 12), ("o_orderstatus", 2),
        ("cents", 14), ("odate", 10))
      val src = Tables.orders(s, dir).select($"o_orderkey",
        $"o_orderstatus",
        round($"o_totalprice" * 100).cast("long").as("cents"),
        date_format($"o_orderdate", "yyyy-MM-dd").as("odate"))
      val lines = graft.sources.FixedWidth.render(src, spec)
      val parsed = graft.sources.FixedWidth.parse(lines, "line", spec)
      parsed
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).cast("bigint").as("n_orders"),
          sum($"cents".cast("long")).cast("bigint").as("total_cents"),
          min($"odate").as("first_date"),
          max($"odate").as("last_date"))
        .orderBy($"o_orderstatus")
    },
    // restated from the raw columns: equality proves the fixed-width
    // render -> slice -> trim chain was offset-faithful
    Oracle("""SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS total_cents,
        |  min(strftime(o_orderdate, '%Y-%m-%d')) AS first_date,
        |  max(strftime(o_orderdate, '%Y-%m-%d')) AS last_date
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),
    bench = true),

    QuerySpec("orc_roundtrip", (s, dir) => {
      import s.implicits._
      // the reference's text→ORC+ZLIB CTAS with ingest predicate
      // (README.md:111-118): convert a filtered projection to ORC, read
      // it back, aggregate. The oracle computes the same aggregate from
      // the parquet source directly — the roundtrip must be lossless.
      val out = tmpPath("orc", dir)
      Writers.toOrcZlib(Tables.orders(s, dir)
        .filter($"o_orderpriority" =!= "")
        .select($"o_orderkey", $"o_totalprice", $"o_orderpriority"), out)
      s.read.orc(out)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(24,8)")).cast("double").as("sum_price"))
        .orderBy($"o_orderpriority")
    },
    Oracle("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority != ''
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    eagerBuild = true),

    QuerySpec("csv_roundtrip", (s, dir) => {
      import s.implicits._
      // PigStorage(',') sink + rmf overwrite (README.md:131-132), then
      // re-ingest with a declared schema; doubles round-trip via
      // shortest-representation text. Oracle reads the parquet source —
      // any CSV quoting/parsing loss shows as a hash mismatch.
      val out = tmpPath("csv", dir)
      val cust = Tables.customer(s, dir)
        .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
      Writers.toCsv(cust, out, header = true)
      s.read.option("header", "true").schema(cust.schema).csv(out)
        .orderBy($"c_custkey")
    },
    Oracle("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin),
    eagerBuild = true),

    QuerySpec("partitioned_roundtrip", (s, dir) => {
      import s.implicits._
      // Hive-style partitioned layout (the 100 TB data-lake pattern):
      // write orders partitioned by o_orderpriority, read back with a
      // partition predicate. The scan must prune to ONE directory
      // (PlanSpec pins PartitionFilters) and the result must match the
      // unpartitioned source (oracle).
      val out = tmpPath("part", dir)
      Tables.orders(s, dir).write.mode("overwrite")
        .partitionBy("o_orderpriority").parquet(out)
      s.read.parquet(out)
        .filter($"o_orderpriority" === "1-URGENT")
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum($"o_totalprice".cast("decimal(24,8)")).cast("double").as("sum_price"))
    },
    Oracle("""SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority""".stripMargin),
    eagerBuild = true),

    QuerySpec("catalog_table_roundtrip", (s, dir) => {
      import s.implicits._
      // Persistent-catalog analogue of the reference's HCatalog-shared
      // tables (README.md:126, 223-226): CTAS a managed parquet table
      // into the session catalog, read it back BY NAME — the schema
      // travels with the catalog entry, not the reader. Oracle computes
      // the same aggregate from the parquet source directly, so the
      // catalog hop must be lossless. Stale-location cleanup mirrors
      // Scale.writeBucketed (a crashed prior JVM can orphan the dir).
      val t = "graft_orders_cat"
      s.sql(s"DROP TABLE IF EXISTS `$t`")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
      Tables.orders(s, dir).write.format("parquet").saveAsTable(t)
      s.read.table(t)
        .groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy($"o_orderstatus")
    },
    Oracle("""SELECT o_orderstatus, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    eagerBuild = true),

    QuerySpec("catalog_persistent_roundtrip", (s, dir) => {
      // The persistence half of the HCatalog analogue: save a
      // file-backed catalog (name/format/location/schema), then load
      // it into a FRESH session (newSession() — empty temp-view
      // registry, isolated SQL state) and query BY NAME there. The
      // aggregate can only match the oracle if the catalog carried
      // the registration across the session boundary with the
      // declared schema intact.
      val meta = tmpPath("cat", dir)
      Catalog.saveCatalog(s, meta, Seq(
        ("orders_cat", "parquet", s"$dir/orders.parquet"),
        ("customer_cat", "parquet", s"$dir/customer.parquet")))
      val fresh = s.newSession()
      val loaded = Catalog.loadCatalog(fresh, meta)
      require(loaded.toSet == Set("orders_cat", "customer_cat"),
        s"catalog load returned $loaded")
      fresh.sql("""
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            AS sum_price
        FROM orders_cat JOIN customer_cat ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    },
    // persistence half: the fresh session's by-name query must equal
    // the same join/aggregate straight off the parquet sources
    Oracle("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("jsonl_roundtrip", (s, dir) => {
      import s.implicits._
      // JSON-lines interchange (the LLM-corpus wire format): write a
      // documents projection as JSONL, read it back with a declared
      // schema — string escaping (quotes, newlines) must round-trip.
      // Oracle reads the parquet source directly.
      val out = tmpPath("jsonl", dir)
      val docs = Tables.documents(s, dir).select($"doc_id", $"lang", $"text")
      docs.write.mode("overwrite").json(out)
      s.read.schema(docs.schema).json(out).orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, lang, text FROM documents ORDER BY doc_id"""),
    eagerBuild = true),

    QuerySpec("schema_evolution", (s, dir) => {
      import s.implicits._
      // Data-lake schema evolution: an old writer produced 2-column
      // files, a new writer adds o_totalprice; a mergeSchema read must
      // see the union schema with NULLs for the old files' missing
      // column. Oracle recomputes the same counts from the source —
      // any row lost or column misaligned in the merge shifts them.
      val out = tmpPath("evo", dir)
      val orders = Tables.orders(s, dir)
      orders.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey")
        .write.mode("overwrite").parquet(s"$out/v1")
      orders.filter($"o_orderkey" % 2 =!= 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode("overwrite").parquet(s"$out/v2")
      s.read.option("mergeSchema", "true").parquet(s"$out/v1", s"$out/v2")
        .agg(count(lit(1)).as("n_rows"),
          count($"o_totalprice").as("n_with_price"),
          sum($"o_totalprice".cast("decimal(24,8)")).cast("double").as("sum_price"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN o_orderkey % 2 <> 0 THEN 1 END) AS BIGINT)
        |    AS n_with_price,
        |  CAST(sum(CASE WHEN o_orderkey % 2 <> 0
        |    THEN CAST(o_totalprice AS DECIMAL(24,8)) END) AS DOUBLE) AS sum_price
        |FROM orders""".stripMargin),
    eagerBuild = true),

    QuerySpec("incremental_agg", (s, dir) => {
      import s.implicits._
      // Incremental materialization: persist a daily aggregate table
      // once (the only pass over raw history), then derive the monthly
      // report FROM THE DAILY TABLE — at 100 TB new days append to the
      // daily table and history never rescans. The oracle computes the
      // monthly directly from the source, so the two-level rollup must
      // be lossless (counts and decimal sums re-aggregate exactly;
      // averages are re-derived from sums, never averaged-of-averages).
      // SIDE-EFFECTING (writes the daily table at construction).
      val out = tmpPath("incr", dir)
      Tables.lineitem(s, dir)
        .groupBy($"l_shipdate".cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum($"l_quantity".cast("decimal(18,2)")).as("qty"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy(date_trunc("month", $"day").cast("date").as("month"))
        .agg(sum($"n").cast("bigint").as("n_items"),
          sum($"qty").cast("double").as("sum_qty"))
        .orderBy($"month")
    },
    Oracle("""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY month ORDER BY month""".stripMargin),
    eagerBuild = true),

    QuerySpec("zorder_layout", (s, dir) => {
      import s.implicits._
      // Multi-dimensional clustering for data skipping: the same
      // projection written 16-file range-partitioned linearly (by
      // partkey) vs by Morton key. Gates (computed from per-file
      // min/max, the statistics parquet readers prune on): the Z
      // layout must shrink the per-file suppkey span to <0.5x the
      // linear layout's (theory: ~0.25x at 16 files) while keeping
      // the per-file partkey span under half its full range — i.e. it
      // buys skipping on BOTH columns. SIDE-EFFECTING (writes both
      // layouts at construction).
      val out = tmpPath("zorder", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"), $"l_suppkey".cast("int").as("sk"),
          $"l_orderkey".cast("int").as("ok"))
      li.repartitionByRange(16, $"pk")
        .write.mode("overwrite").parquet(s"$out/linear")
      // dims must share a bit-width before interleaving (partkey uses
      // ~2x the bits of suppkey; raw interleave would leave the morton
      // key's high bits all-partkey and never cluster suppkey) — scale
      // all to 16-bit with their in-plan min/max, a 1-row broadcast
      val b = li.agg(min($"pk").as("pk0"), max($"pk").as("pk1"),
        min($"sk").as("sk0"), max($"sk").as("sk1"),
        min($"ok").as("ok0"), max($"ok").as("ok1"))
      def norm(c: Column, lo: Column, hi: Column): Column =
        ((c - lo).cast("long") * 65535L / greatest(hi - lo, lit(1))).cast("long")
      li.crossJoin(broadcast(b))
        .repartitionByRange(16, graft.functions.interleave_bits(
          norm($"pk", $"pk0", $"pk1"), norm($"sk", $"sk0", $"sk1")))
        .select($"pk", $"sk", $"ok")
        .write.mode("overwrite").parquet(s"$out/zorder")
      // 3-D variant: same normalize-then-interleave, 21 bits per dim
      li.crossJoin(broadcast(b))
        .repartitionByRange(16, graft.functions.interleave_bits(
          norm($"pk", $"pk0", $"pk1"), norm($"sk", $"sk0", $"sk1"),
          norm($"ok", $"ok0", $"ok1")))
        .select($"pk", $"sk", $"ok")
        .write.mode("overwrite").parquet(s"$out/zorder3")
      def spans(path: String) = s.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max($"sk") - min($"sk")).as("span_sk"),
          (max($"pk") - min($"pk")).as("span_pk"),
          (max($"ok") - min($"ok")).as("span_ok"))
        .agg(avg($"span_sk").as("avg_sk"), avg($"span_pk").as("avg_pk"),
          avg($"span_ok").as("avg_ok"))
      val lin = spans(s"$out/linear")
        .select($"avg_sk".as("lin_sk"), $"avg_pk".as("lin_pk"), $"avg_ok".as("lin_ok"))
      val zo = spans(s"$out/zorder").select($"avg_sk".as("z_sk"), $"avg_pk".as("z_pk"))
      val z3 = spans(s"$out/zorder3")
        .select($"avg_sk".as("z3_sk"), $"avg_pk".as("z3_pk"), $"avg_ok".as("z3_ok"))
      val range = li.agg((max($"pk") - min($"pk")).as("pk_range"),
        (max($"ok") - min($"ok")).as("ok_range"))
      li.agg(count(lit(1)).as("n_rows"))
        .crossJoin(lin).crossJoin(zo).crossJoin(z3).crossJoin(range)
        .select($"n_rows",
          ($"z_sk" < $"lin_sk" * 0.5).as("z_sk_improves"),
          ($"z_pk" < $"pk_range" * 0.5).as("z_pk_bounded"),
          // 3-D: all three per-file spans must beat the unclustered
          // dims of the linear layout / stay bounded on the sort dim.
          // 16 Z-ranges over 3 cycled dims split each dim 1-2 times
          // (spans 1/4-1/2 of range); 0.7 leaves correlation margin.
          ($"z3_sk" < $"lin_sk" * 0.7 && $"z3_ok" < $"lin_ok" * 0.7 &&
            $"z3_pk" < $"pk_range" * 0.7).as("z3_improves_all"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  true AS z_sk_improves, true AS z_pk_bounded,
        |  true AS z3_improves_all
        |FROM lineitem""".stripMargin),
    eagerBuild = true),

    QuerySpec("range_layout", (s, dir) => {
      import s.implicits._
      // Range-partitioned SORTED write — the 1-D data-skipping layout
      // (ORDER BY at write time): repartitionByRange + sortWithin
      // Partitions gives pairwise-disjoint per-file key ranges, so a
      // point/range predicate prunes to one file via parquet min/max.
      // Gates (from the re-read files' own statistics columns): row
      // count preserved, >= 8 non-empty files, and NO file's range
      // strictly overlaps its predecessor's (equal boundary keys may
      // touch — RangePartitioner keeps equal keys together, but the
      // gate only needs disjoint-or-touching for skipping to work).
      // SIDE-EFFECTING (writes the layout at construction).
      val out = tmpPath("rangelayout", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"), $"l_suppkey".cast("int").as("sk"))
      li.repartitionByRange(16, $"pk").sortWithinPartitions($"pk")
        .write.mode("overwrite").parquet(out)
      val stats = s.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min($"pk").as("lo"), max($"pk").as("hi"), count(lit(1)).as("n"))
      val w = Window.orderBy($"lo", $"hi", $"f") // ~16 rows: single-task window is fine
      stats.withColumn("prev_hi", lag($"hi", 1).over(w))
        .agg(sum($"n").cast("bigint").as("n_rows"),
          (count(lit(1)) >= 8).as("files_ge_8"),
          (sum(when($"lo" < $"prev_hi", 1L).otherwise(0L)) === 0)
            .as("ranges_disjoint"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  true AS files_ge_8, true AS ranges_disjoint
        |FROM lineitem""".stripMargin),
    eagerBuild = true),

    QuerySpec("zonemap_prune", (s, dir) => {
      import s.implicits._
      // Data skipping end-to-end: range-sorted layout → per-file zone
      // map → a METADATA-pruned read whose filtered aggregate must
      // equal the full-scan answer (the oracle states it from the
      // source table), while the gates pin that pruning genuinely
      // skipped files and an impossible range prunes to zero files.
      // The pruned read returns whole files, so the predicate still
      // applies — skipping only removes IO, never rows.
      // SIDE-EFFECTING (writes layout + zone map at construction).
      val out = tmpPath("zonemap", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"), $"l_extendedprice")
      li.repartitionByRange(16, $"pk").sortWithinPartitions($"pk")
        .write.mode("overwrite").parquet(out)
      Writers.writeZoneMap(s, out, Seq("pk"))
      val (pruned, kept, total) = Writers.prunedRead(s, out, "pk", 1, 100)
      val (empty, kept0, _) = Writers.prunedRead(s, out, "pk", -200, -100)
      pruned.filter($"pk".between(1, 100))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .select($"n_rows", $"cents",
          lit(kept < total).as("files_skipped"),
          lit(kept0 == 0L && empty.count() == 0L).as("empty_range_prunes_all"))
    },
    // the pruned+filtered aggregate must equal the full-scan answer
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS files_skipped, true AS empty_range_prunes_all
        |FROM lineitem WHERE CAST(l_partkey AS INT) BETWEEN 1 AND 100""".stripMargin),
    eagerBuild = true),

    QuerySpec("bloommap_prune", (s, dir) => {
      import s.implicits._
      // Equality-predicate data skipping: round-robin layout makes
      // every file's min/max span the whole key range (zone maps are
      // USELESS here by construction) — the per-file bloom still
      // skips, because a key's hash lands in few files. The pruned
      // filtered aggregate must equal the full-scan answer (oracle
      // states it from the source table); the gates pin genuine
      // skipping and that a never-present key prunes to zero files.
      // SIDE-EFFECTING (writes layout + bloom map at construction).
      val out = tmpPath("bloommap", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey".cast("long").as("ok"), $"l_extendedprice")
      li.repartition(16).write.mode("overwrite").parquet(out)
      Writers.writeBloomMap(s, out, "ok",
        expectedItemsPerFile = 1000000L)
      // probe keys: one present (the min orderkey — exists at every
      // sf), one impossible (negative). Gates are stated so a bloom
      // FALSE POSITIVE (possible by design) can never flip them:
      // `kept < total` needs only ONE true negative among 16 files,
      // and the missing-key read is checked by its FILTERED count
      // (a FP file contains no matching rows), not by kept0 == 0.
      val (pruned, kept, total) = Writers.prunedReadEquals(s, out, "ok", 1L)
      val (miss, kept0, _) = Writers.prunedReadEquals(s, out, "ok", -42L)
      pruned.filter($"ok" === 1L)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .select($"n_rows", $"cents",
          lit(kept < total).as("files_skipped"),
          lit(kept0 < total &&
            miss.filter($"ok" === -42L).count() == 0L)
            .as("missing_key_reads_nothing"))
    },
    // equality-skipping twin: full-scan answer for the probed key,
    // skip/miss gates stated as closed-form booleans
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS files_skipped, true AS missing_key_reads_nothing
        |FROM lineitem WHERE CAST(l_orderkey AS BIGINT) = 1""".stripMargin),
    eagerBuild = true),

    QuerySpec("zonemap_append", (s, dir) => {
      import s.implicits._
      // Incremental skipping-index maintenance: build the zone map on
      // the first chunk of a range layout, APPEND the second chunk's
      // files, refresh the map by scanning ONLY them, and prove
      // (a) the pruned filtered aggregate equals the full-scan answer
      // over BOTH chunks (oracle states it from the source table),
      // (b) the appended map prunes identically to a from-scratch
      // rebuild, (c) the append indexed exactly the new files on top
      // of the existing entries. SIDE-EFFECTING (writes layout + maps
      // at construction); starts from a clean dir so verify/bench
      // repeats cannot see a previous run's files.
      val out = tmpPath("zmappend", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("", "__zonemap", "__zonemap__tmp").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(out + sfx), true))
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"), $"l_extendedprice")
      li.filter(pmod($"pk", lit(2)) === 0)
        .repartitionByRange(8, $"pk").sortWithinPartitions($"pk")
        .write.mode("overwrite").parquet(out)
      val n1 = Writers.writeZoneMap(s, out, Seq("pk"))
      li.filter(pmod($"pk", lit(2)) === 1)
        .repartitionByRange(8, $"pk").sortWithinPartitions($"pk")
        .write.mode("append").parquet(out)
      val (nNew, total) = Writers.appendZoneMap(s, out, Seq("pk"))
      val (pruned, kept, totalF) = Writers.prunedRead(s, out, "pk", 1, 100)
      val agg = pruned.filter($"pk".between(1, 100))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
      Writers.writeZoneMap(s, out, Seq("pk")) // from-scratch rebuild
      val (_, keptR, _) = Writers.prunedRead(s, out, "pk", 1, 100)
      agg.select($"n_rows", $"cents",
        lit(nNew > 0 && total == n1 + nNew).as("append_indexed_only_new"),
        lit(kept < totalF).as("files_skipped"),
        lit(kept == keptR).as("matches_rebuild"))
    },
    // incremental-maintenance twin: the appended map must serve the
    // same full-scan answer; maintenance gates as closed-form booleans
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS append_indexed_only_new, true AS files_skipped,
        |  true AS matches_rebuild
        |FROM lineitem WHERE CAST(l_partkey AS INT) BETWEEN 1 AND 100""".stripMargin),
    eagerBuild = true),

    QuerySpec("bloommap_append", (s, dir) => {
      import s.implicits._
      // Equality-skipping twin of zonemap_append: same no-rescan
      // append contract over a round-robin layout (min/max useless by
      // construction — the bloom is what skips). Per-file sketches
      // are bit-insertion order-independent, so the appended map must
      // prune exactly like a rebuild. SIDE-EFFECTING, clean dir per
      // invocation.
      val out = tmpPath("bmappend", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("", "__bloommap", "__bloommap__tmp").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(out + sfx), true))
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey".cast("long").as("ok"), $"l_extendedprice")
      li.filter(pmod($"ok", lit(2)) === 0)
        .repartition(8).write.mode("overwrite").parquet(out)
      val n1 = Writers.writeBloomMap(s, out, "ok", 100000L)
      li.filter(pmod($"ok", lit(2)) === 1)
        .repartition(8).write.mode("append").parquet(out)
      val (nNew, total) = Writers.appendBloomMap(s, out, "ok", 100000L)
      val (pruned, kept, totalF) = Writers.prunedReadEquals(s, out, "ok", 1L)
      val agg = pruned.filter($"ok" === 1L)
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
      Writers.writeBloomMap(s, out, "ok", 100000L) // rebuild
      val (_, keptR, _) = Writers.prunedReadEquals(s, out, "ok", 1L)
      agg.select($"n_rows", $"cents",
        lit(nNew > 0 && total == n1 + nNew).as("append_indexed_only_new"),
        lit(kept < totalF).as("files_skipped"),
        lit(kept == keptR).as("matches_rebuild"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS append_indexed_only_new, true AS files_skipped,
        |  true AS matches_rebuild
        |FROM lineitem WHERE CAST(l_orderkey AS BIGINT) = 1""".stripMargin),
    eagerBuild = true),

    QuerySpec("compact_refresh", (s, dir) => {
      import s.implicits._
      // FULL table-maintenance cycle: clustered layout with BOTH
      // skipping maps → small-files compaction (the rewrite changes
      // the file set, so both maps go stale BY CONTRACT — the pruned
      // read must refuse, not serve wrong answers) →
      // refreshSkippingIndexes re-derives each map from its own
      // persisted metadata → both pruned reads serve the same
      // answers the oracle states from the source table. Compaction
      // round-robins the layout, so only the bloom's skip survives
      // structurally; the zone map is pinned on correctness +
      // freshness. SIDE-EFFECTING; clean dir per invocation.
      val out = tmpPath("cref", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("", "__zonemap", "__bloommap", "__zonemap__tmp",
          "__bloommap__tmp", "__compact_tmp", "__compact_old")
        .foreach(sfx =>
          fs.delete(new org.apache.hadoop.fs.Path(out + sfx), true))
      val li = Tables.lineitem(s, dir)
        .select($"l_partkey".cast("int").as("pk"),
          $"l_orderkey".cast("long").as("ok"), $"l_extendedprice")
      li.repartitionByRange(64, $"pk").sortWithinPartitions($"pk")
        .write.mode("overwrite").parquet(out)
      Writers.writeZoneMap(s, out, Seq("pk"))
      Writers.writeBloomMap(s, out, "ok", 100000L)
      val n = li.count()
      val (before, after) = Writers.compactParquet(s, out,
        targetRowsPerFile = math.max(1L, n / 8))
      val staleDetected =
        try { Writers.prunedRead(s, out, "pk", 1, 100); false }
        catch { case e: IllegalArgumentException =>
          e.getMessage.contains("stale") }
      val (zr, br) = Writers.refreshSkippingIndexes(s, out)
      val (pruned, _, _) = Writers.prunedRead(s, out, "pk", 1, 100)
      val (bpruned, _, _) = Writers.prunedReadEquals(s, out, "ok", 1L)
      pruned.filter($"pk".between(1, 100))
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .crossJoin(bpruned.filter($"ok" === 1L)
          .agg(count(lit(1)).cast("bigint").as("n_rows_eq"),
            sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
              .as("cents_eq")))
        .select($"n_rows", $"cents", $"n_rows_eq", $"cents_eq",
          lit(after < before).as("compacted"),
          lit(staleDetected).as("stale_detected"),
          lit(zr && br).as("maps_refreshed"))
    },
    // maintenance cycle: both pruned answers stated from the source;
    // compaction/staleness/refresh gates as closed-form booleans
    Oracle("""WITH r AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem WHERE CAST(l_partkey AS INT) BETWEEN 1 AND 100),
        |e AS (SELECT CAST(count(*) AS BIGINT) AS n_rows_eq,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents_eq
        |  FROM lineitem WHERE CAST(l_orderkey AS BIGINT) = 1)
        |SELECT r.n_rows, r.cents, e.n_rows_eq, e.cents_eq,
        |  true AS compacted, true AS stale_detected, true AS maps_refreshed
        |FROM r, e""".stripMargin),
    eagerBuild = true),

    QuerySpec("wap_publish", (s, dir) => {
      import s.implicits._
      // Write-audit-publish firewall, end to end: a clean batch
      // publishes atomically; a poisoned second batch (NULL keys) is
      // REFUSED by the staged-file audit and the published table keeps
      // serving the first version unchanged — value-matched against
      // the source table by the oracle. SIDE-EFFECTING (stages +
      // publishes at construction); starts from a clean dir so
      // verify/bench repeats cannot see a previous run's state.
      val out = tmpPath("wap", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("", "__wap_staged", "__wap_old").foreach(sfx =>
        fs.delete(new org.apache.hadoop.fs.Path(out + sfx), true))
      val ords = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      val rules = Seq(
        Quality.Expectation.notNull("o_orderkey"),
        Quality.Expectation.unique("o_orderkey"),
        Quality.Expectation.between("o_totalprice", 0.0, 1e9))
      val (ok1, _) = Writers.writeAuditPublish(s, ords, out, rules)
      // the poison is INSIDE the staged write: 5 NULL keys appended
      val bad = ords.union(ords.limit(5)
        .select(lit(null).cast(ords.schema("o_orderkey").dataType)
          .as("o_orderkey"), $"o_custkey", $"o_totalprice"))
      val (ok2, report2) = Writers.writeAuditPublish(s, bad, out, rules)
      val nViol = report2.agg(sum($"n_violations")).head().getLong(0)
      s.read.parquet(out).agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"o_totalprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .select($"n_rows", $"cents",
          lit(ok1).as("first_published"),
          lit(!ok2 && nViol >= 5L).as("bad_batch_refused"))
    },
    // write-audit-publish: the published table is exactly the clean
    // first batch (the refused second batch must leave no trace)
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS first_published, true AS bad_batch_refused
        |FROM orders""".stripMargin),
    eagerBuild = true),

    QuerySpec("compact_small_files", (s, dir) => {
      import s.implicits._
      // Small-files compaction sweep: scatter lineitem into 64 tiny
      // files (the decay shape of a streaming sink), compact to
      // ~20k-row files, and prove the rewrite both shrank the file
      // count and changed NOTHING — row count and integer-cents mass
      // are value-matched against the source table by the oracle.
      // SIDE-EFFECTING (writes + compacts at construction).
      val out = tmpPath("compact", dir)
      val li = Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_partkey", $"l_extendedprice")
      li.repartition(64).write.mode("overwrite").parquet(out)
      val (before, after) = Writers.compactParquet(s, out,
        targetRowsPerFile = 20000L)
      s.read.parquet(out).agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .select($"n_rows", $"cents",
          lit(after < before).as("files_shrunk"),
          lit(after >= 1L).as("nonempty"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS files_shrunk, true AS nonempty
        |FROM lineitem""".stripMargin),
    eagerBuild = true),

    QuerySpec("delete_vectors", (s, dir) => {
      import s.implicits._
      // Row-level deletes WITHOUT rewriting data files (the Iceberg-v2
      // position-delete / Delta deletion-vector pattern): copy
      // lineitem, log two stacked delete batches as (file, row_index)
      // coordinates, then aggregate the LIVE view. The oracle replays
      // the two predicates as WHERE NOT — one wrong coordinate in the
      // log and the per-flag sums drift. The second deleteWhere also
      // exercises stacking: its predicate runs over the already-
      // thinned live view and its positions append to the same log.
      // SIDE-EFFECTING (writes + logs deletes at construction).
      val out = tmpPath("delvec", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out + "__deletes"), true) // stale log from a prior run
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity", $"l_discount",
          $"l_extendedprice", $"l_returnflag")
        .repartition(8).write.mode("overwrite").parquet(out)
      val n1 = Deletes.deleteWhere(s, out, $"l_quantity" > 45)
      val n2 = Deletes.deleteWhere(s, out, $"l_discount" > 0.05)
      Deletes.readApplyingDeletes(s, out)
        .groupBy($"l_returnflag")
        .agg(count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .withColumn("deletes_logged", lit(n1 > 0 && n2 > 0))
        .orderBy($"l_returnflag")
    },
    // the live view after two stacked position-delete batches must
    // equal the WHERE NOT of both predicates — coordinates, not rows
    Oracle("""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS deletes_logged
        |FROM lineitem
        |WHERE NOT (l_quantity > 45) AND NOT (l_discount > 0.05)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    eagerBuild = true),

    QuerySpec("delete_vectors_materialize", (s, dir) => {
      import s.implicits._
      // The maintenance sweep: after materializeDeletes the PLAIN
      // parquet read (no delete application) must equal the live view,
      // and the log must be retired — merge-on-read folded into
      // copy-on-write at a moment the operator chooses, not the
      // writer. SIDE-EFFECTING (writes + rewrites at construction).
      val out = tmpPath("delmat", dir)
      val fs = new org.apache.hadoop.fs.Path(out)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out + "__deletes"), true)
      Tables.lineitem(s, dir)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
        .repartition(8).write.mode("overwrite").parquet(out)
      Deletes.deleteWhere(s, out, $"l_quantity" > 45)
      val survivors = Deletes.materializeDeletes(s, out, targetRowsPerFile = 20000L)
      s.read.parquet(out).agg(
          count(lit(1)).cast("bigint").as("n_rows"),
          sum(round($"l_extendedprice" * 100).cast("long")).cast("bigint")
            .as("cents"))
        .select($"n_rows", $"cents",
          lit(Deletes.deletedCount(s, out) == 0L).as("log_retired"),
          ($"n_rows" === survivors).as("counts_agree"))
    },
    Oracle("""SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  true AS log_retired, true AS counts_agree
        |FROM lineitem WHERE NOT (l_quantity > 45)""".stripMargin),
    eagerBuild = true),

    QuerySpec("wholefile_scan", (s, dir) => {
      import s.implicits._
      // sc.wholeTextFiles analogue (README.md:297): one row per file
      Writers.wholeTextFiles(s, medicareCsv)
        .select(regexp_extract($"file", "[^/]+$", 0).as("file_name"),
          length($"contents").cast("bigint").as("n_chars"),
          md5($"contents".cast("binary")).as("content_md5"))
    },
    Oracle(s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
         |  CAST(length(content) AS BIGINT) AS n_chars,
         |  md5(content) AS content_md5
         |FROM read_text('$medicareCsv')""".stripMargin)),

    QuerySpec("line_scan", (s, dir) => {
      import s.implicits._
      // sc.textFile analogue (README.md:352,385): one row per line
      Writers.lines(s, medicareCsv)
        .agg(count(lit(1)).as("n_lines"),
          sum(length($"line")).cast("bigint").as("sum_chars"),
          sum(when(length($"line") === 0, 1L).otherwise(0L)).as("n_empty"))
    },
    // read_text + split, not read_csv: the CSV reader's nullstr/skip
    // behavior on blank lines diverges from Spark's text source (which
    // yields an empty row). Unix line endings assumed (the fixture's).
    Oracle(s"""WITH t AS (SELECT content, string_split(content, chr(10)) AS ls0
         |  FROM read_text('$medicareCsv')),
         |x AS (SELECT CASE WHEN ends_with(content, chr(10))
         |    THEN list_slice(ls0, 1, len(ls0) - 1) ELSE ls0 END AS ls FROM t),
         |l AS (SELECT unnest(ls) AS line FROM x)
         |SELECT count(*) AS n_lines,
         |  CAST(sum(length(line)) AS BIGINT) AS sum_chars,
         |  CAST(sum(CASE WHEN length(line) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
         |FROM l""".stripMargin)),

    QuerySpec("binaryfile_scan", (s, dir) => {
      import s.implicits._
      // The `binaryFile` DataSource — the scan a raw multimodal
      // corpus lands on BEFORE anyone parquets it (one row per blob:
      // path, length, content bytes; the mm_* family reads payloads
      // already inside parquet columns, this reads the files
      // themselves). Fixture prep writes 20 document payloads as
      // .bin files driver-side (20 rows by design); the graded part
      // is the scan: id recovered from the path, byte length and
      // md5 from the content column — which the oracle recomputes
      // from the documents table without ever seeing a file.
      import java.nio.file.{Files, Paths}
      val outDir = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_binfiles_${dir.replaceAll("[^0-9a-zA-Z]", "_")}")
      val docs = Tables.documents(s, dir).filter($"doc_id" < 20)
        .select($"doc_id", $"text").collect() // 20-row fixture prep
      if (Files.exists(outDir)) {
        // close the directory stream (Files.list leaks a handle per
        // run otherwise) and only delete regular files — a stray
        // subdirectory must not abort the scan
        val ls = Files.list(outDir)
        try ls.forEach { p =>
          if (Files.isRegularFile(p)) Files.delete(p)
        } finally ls.close()
      } else Files.createDirectories(outDir)
      docs.foreach { r =>
        Files.write(outDir.resolve(s"${r.getLong(0)}.bin"),
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s.read.format("binaryFile").load(outDir.toString)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long")
            .as("doc_id"),
          col("length").cast("long").as("byte_len"),
          md5(col("content")).as("content_hash"))
        .orderBy($"doc_id")
    },
    // the binaryFile scan graded without the oracle seeing a file:
    // length and md5 recomputed from the payload source rows
    Oracle("""SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_hash
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin),
    eagerBuild = true),

    QuerySpec("json_event_stats", (s, dir) => {
      import s.implicits._
      // from_json with a declared schema parses each props string ONCE;
      // get_json_object would re-parse per extracted key
      Tables.events(s, dir)
        .withColumn("k",
          from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"),
          (sum($"k").cast("double") / count($"k")).as("avg_k"))
        .orderBy($"event_type")
    },
    Oracle("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
        |    / count(CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("xml_event_stats", (s, dir) => {
      import s.implicits._
      // Spark 4's NATIVE XML path (spark-xml graduated into core):
      // render each event as an XML document — attribute + two child
      // elements — and parse it back with from_xml under a declared
      // schema (parsed ONCE, the json_event_stats discipline). The
      // oracle restates the aggregate from the raw columns, so the
      // values only agree if the XML was genuinely rendered and
      // parsed (attribute prefix, element text, numeric casts).
      val xml = Tables.events(s, dir)
        .filter($"event_id".isNotNull && $"event_type".isNotNull &&
          $"value".isNotNull)
        .select(concat(lit("<e id=\""), $"event_id", lit("\"><t>"),
          $"event_type", lit("</t><v>"),
          round($"value" * 100).cast("long"), lit("</v></e>")).as("x"))
      xml.select(from_xml($"x",
          org.apache.spark.sql.types.StructType.fromDDL(
            "_id BIGINT, t STRING, v BIGINT")).as("p"))
        .groupBy($"p.t".as("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"p.v").cast("bigint").as("sum_cents"),
          sum($"p._id").cast("bigint").as("sum_ids"))
        .orderBy($"event_type")
    },
    // the engine renders XML and parses it back with from_xml; the
    // oracle restates the aggregate from the raw columns — the values
    // only agree if the render -> parse round-trip is faithful
    Oracle("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  CAST(sum(event_id) AS BIGINT) AS sum_ids
        |FROM events
        |WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("json_variant_stats", (s, dir) => {
      import s.implicits._
      // Spark-4 VariantType path: parse each props string ONCE into
      // the binary variant encoding and extract with variant_get —
      // the schema-on-read shape for semi-structured columns (a 100 TB
      // props column parses once per row into a columnar-shreddable
      // binary, not once per extracted key; and unlike from_json no
      // up-front declared struct is needed).
      Tables.events(s, dir)
        .withColumn("k",
          expr("variant_get(parse_json(props), '$.k', 'int')"))
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum($"k").cast("bigint").as("sum_k"),
          min($"k").cast("int").as("min_k"),
          max($"k").cast("int").as("max_k"))
        .orderBy($"event_type")
    },
    Oracle("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
        |    AS BIGINT) AS sum_k,
        |  CAST(min(CAST(json_extract_string(props, '$.k') AS INT))
        |    AS INT) AS min_k,
        |  CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
        |    AS INT) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    bench = true),

    QuerySpec("parse_money", (s, dir) => {
      import s.implicits._
      // The reference's deferred `$`-string money parsing
      // (README.md:52-56,239-256) exercised as a round-trip.
      Tables.orders(s, dir)
        .withColumn("money_str",
          concat(lit("$"), $"o_totalprice".cast("decimal(18,2)").cast("string")))
        // decimal parse, double output: the decimal intermediate fixes
        // the value exactly; the final double cast makes the dumped
        // dtype identical to DuckDB's (decimal128 hashes differently)
        .withColumn("parsed", graft.functions.parse_money($"money_str").cast("double"))
        .select($"o_orderkey", $"money_str", $"parsed")
        .orderBy($"o_orderkey")
    },
    Oracle("""SELECT o_orderkey,
        |  '$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS money_str,
        |  CAST(CAST(regexp_replace('$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '[$,]', '', 'g') AS DECIMAL(18,2)) AS DOUBLE) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin),
    bench = true),
  )
}
