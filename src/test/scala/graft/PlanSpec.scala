package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the 100 TB posture, checked at sf0.001.
  * These pin the properties that keep working on a 1000-executor
  * cluster: predicate pushdown into parquet, column pruning, broadcast
  * joins for dims, whole-stage codegen over custom expressions. Every
  * plan here is taken [[atScale]]: over the sf0.001 tables the
  * small-plan rule would run it as one task with no exchanges. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  override def withFixture(test: NoArgTest) = atScale(super.withFixture(test))

  private def plan(name: String): String = {
    // other suites cache these tables; a cached scan would mask the
    // parquet-level pushdown this suite asserts on
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(FormattedMode)
  }

  /** Count Exchange operators in a FormattedMode plan (node names and
    * arguments print on separate `(n) Exchange` / `Arguments:` lines —
    * a single-line "Exchange hashpartitioning" match finds nothing). */
  private def countExchanges(p: String): Int =
    p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))

  test("q1_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters"), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q1_agg prunes the scan to the 6 referenced columns") {
    val p = plan("q1_agg")
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_orderkey") && !read.contains("l_comment"))
    assert(read.contains("l_quantity") && read.contains("l_returnflag"))
  }

  test("q5_region_revenue broadcasts every dimension join") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge:\n" + p)
  }

  test("feat_percentile_buckets broadcasts the percentile aggregate back") {
    // UNHINTED: the broadcast must come from Catalyst's size estimate
    // of the aggregate side, not a forced hint that would bypass the
    // safety check at high key cardinality
    val p = plan("feat_percentile_buckets")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("feat_percentile_buckets degrades to sort-merge past the broadcast threshold") {
    // simulate the 10⁸-key regime where the per-key aggregate no
    // longer fits a broadcast: with the threshold off, the unhinted
    // join must fall back to SortMergeJoin instead of OOMing on a
    // forced broadcast
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val p = plan("feat_percentile_buckets")
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("BroadcastHashJoin"), p)
    }
  }

  test("custom expressions stay inside whole-stage codegen") {
    spark.catalog.clearCache()
    val df = Tables.embeddings(spark, sf0001)
      .select(graft.functions.cosine_similarity($"embedding", $"embedding").as("c"))
    // in FormattedMode a leading `* ` marks a WholeStageCodegen stage
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.linesIterator.exists(_.matches("^\\*.*Project.*")), p)
    // and the codegen path is exercised without fallback errors
    assert(df.agg(min($"c")).head().getDouble(0) > 0.99)
  }

  test("deflate_length stays inside whole-stage codegen") {
    spark.catalog.clearCache()
    val df = Tables.documents(spark, sf0001)
      .select(graft.functions.deflate_length($"text").as("dl"))
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.linesIterator.exists(_.matches("^\\*.*Project.*")), p)
    assert(df.agg(min($"dl")).head().getInt(0) > 0)
  }

  test("split_train_test is a row-local projection — only the sort exchange") {
    assert(countExchanges(plan("split_train_test")) <= 1)
  }

  test("topk_sketch aggregates map-side — raw items never shuffle") {
    val p = plan("sketch_topk")
    // partial summaries before the exchange, final merge after: the
    // shuffle carries capacity-sized sketch buffers, not the column
    assert(p.contains("partial_topk_sketch"), p)
    assert(p.contains("topk_sketch"), p)
    assert(countExchanges(p) <= 2, p) // single-partition agg + sort
  }

  test("kll and theta sketch aggregates run map-side partials — raw values never shuffle") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf0001)
    val theta = docs
      .select($"source", explode(split($"text", " ")).as("tok"))
      .groupBy($"source")
      .agg(graft.functions.theta_sketch_agg($"tok").as("sk"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    // partial union sketches before the exchange: the shuffle carries
    // lgK-bounded binaries per (partition, group), never the tokens
    assert(theta.contains("partial_theta_sketch_agg"), theta)
    val kll = Tables.lineitem(spark, sf0001)
      .groupBy($"l_returnflag")
      .agg(graft.functions.kll_sketch_agg($"l_extendedprice").as("sk"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(kll.contains("partial_kll_sketch_agg"), kll)
  }

  test("sample_mixture_epochs broadcasts group totals — the corpus never shuffles") {
    val p = plan("sample_mixture_epochs")
    assert(p.contains("BroadcastHashJoin"), p)
    // two exchanges allowed: the k-row group-totals aggregation that
    // feeds the broadcast, and the final orderBy range partitioning —
    // the corpus itself flows scan -> join -> explode with no shuffle
    assert(countExchanges(p) <= 2, p)
  }

  test("semi/anti joins plan as joins, not subquery re-scans") {
    assert(plan("join_semi").contains("LeftSemi"))
    assert(plan("join_anti").contains("LeftAnti"))
  }

  test("sample_by_key is a scan-level filter — no shuffle before the project") {
    val p = plan("sample_by_key")
    // one exchange allowed: the final orderBy range partitioning
    assert(countExchanges(p) <= 1, p)
  }

  test("evt_funnel reuses one user-key partitioning across all step stages") {
    // 3-step funnel = 3 event-type legs. Each leg may pay at most one
    // hash exchange to land on the user key; the join+groupBy(user)
    // chain must run IN PLACE on that partitioning (a refactor that
    // breaks outputPartitioning silently adds an exchange per stage,
    // turning k steps into 2k shuffles at 100 TB). Only other exchange
    // allowed: the final orderBy range partitioning.
    val p = plan("evt_funnel")
    val hashExchanges = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(hashExchanges <= 3, s"expected <=3 hash exchanges:\n$p")
  }

  test("agg_copartition runs both aggregation levels on one shuffle") {
    val p = plan("agg_copartition")
    // exactly one hash exchange (the explicit copartition); the
    // (l_suppkey, l_returnflag) agg and the l_suppkey rollup both run
    // in place on it. The only other exchange is the orderBy range.
    // FormattedMode prints each Exchange's partitioning on its own
    // `Arguments:` line
    val hashExchanges = p.linesIterator
      .count(_.contains("Arguments: hashpartitioning"))
    assert(hashExchanges == 1, p)
  }

  test("join_salted spreads the join across salt keys, result unchanged") {
    val p = plan("join_salted")
    // the salted key participates in the join (shuffle re-shaped) …
    assert(p.contains("__salt"), p)
    // … and the plan stays a hash/sort join on (key, salt), not a
    // broadcast of the exploded side or a nested loop
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("skew_profile: top-k never global-sorts, one key shuffle, scan prunes to the key") {
    val p = plan("skew_profile")
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort:\n" + p)
    // one hash exchange (the per-key partial agg) + the 1-row total's
    // single-partition exchange — nothing else moves
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges:\n$p")
    // the scan reads ONLY the profiled key column
    val rs = p.linesIterator.find(_.startsWith("ReadSchema")).getOrElse("")
    assert(rs.contains("l_partkey") && !rs.contains("l_quantity"), p)
  }

  test("partitioned_roundtrip prunes the scan to one partition directory") {
    val p = plan("partitioned_roundtrip")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("o_orderpriority"), p)
    // the predicate lives in PartitionFilters (directory pruning), not
    // in the data filters — nothing of the other partitions is read
    assert(pf.contains("1-URGENT"), p)
  }

  test("dedup_exact's winner-election shuffle carries hashes+ids, never text") {
    val p = plan("dedup_exact")
    // locate each hash-partitioned Exchange detail block and check its
    // Input row: the groupBy exchange must carry only bigint columns
    // (fp, fp2, doc_id) — the text payload may appear only in the
    // final orderBy range exchange, where it is the query's output
    val blocks = p.split("\\n\\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"), s"text in winner shuffle:\n$b")
    }
  }

  test("dedup_paragraph's winner-election shuffle carries hashes+ids, never chunk text") {
    val p = plan("dedup_paragraph")
    // same contract as dedup_exact, one level finer: the (fp, fp2)
    // groupBy exchange must not ship chunk_text; the text may appear
    // only in the survivor join-back and the final output sort
    val blocks = p.split("\\n\\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning") &&
        b.contains("fp#"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("chunk_text#"), s"chunk text in winner shuffle:\n$b")
    }
  }

  test("decontaminate broadcasts the benchmark grams; corpus side never shuffles grams") {
    val p = plan("decontaminate")
    // the overlap probe must be a broadcast semi-join (the benchmark is
    // the small side by construction) — no gram-keyed hash exchange
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val blocks = p.split("\\n\\n").toSeq
    blocks.filter(b => b.contains("Arguments: hashpartitioning")).foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("gram#"), s"gram-keyed shuffle:\n$b")
    }
  }

  test("text_unigram_nll: document text never shuffles — only (id, token) and aggregates") {
    val p = plan("text_unigram_nll")
    val blocks = p.split("\\n\\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"), s"text in exchange:\n$b")
    }
  }

  test("interval_join_promo: equi-join on (custkey, bucket), never a nested loop") {
    val p = plan("interval_join_promo")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the probe side must hash-partition on the composite key, not
    // broadcast the fact table
    assert(p.contains("hashpartitioning"), p)
  }

  test("ts_resample_ffill: bounded exchanges (bucket agg, span agg, grid join, ffill window)") {
    val p = plan("ts_resample_ffill")
    // one keyed agg + one span agg + the grid equi-join + one window
    // shuffle + the output sort; a refactor that re-shuffles per
    // stage shows up as a jump here
    assert(countExchanges(p) <= 6, s"exchanges=${countExchanges(p)}\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("fuzzy_join_names: variant blocking is an equi-join over distinct strings") {
    val p = plan("fuzzy_join_names")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the levenshtein verify must sit above the variant-hash join,
    // never as a join condition on its own (that would be the
    // quadratic plan)
    assert(p.contains("levenshtein"), p)
  }

  test("pipeline_clean_corpus is one shuffle + the final sort") {
    val p = plan("pipeline_clean_corpus")
    // row-local scoring stages must not introduce exchanges: one for
    // the dedup groupBy, one range partitioning for the orderBy
    assert(countExchanges(p) <= 2, p)
  }

  test("pipeline_curation: bounded exchanges, none keyed by text or grams") {
    val p = plan("pipeline_curation")
    // three scoring stages are row-local; the probe is broadcast; what
    // remains: contamination agg + anti-join + election + final agg on
    // ids/fingerprints, plus the orderBy range exchange
    assert(countExchanges(p) <= 6, p)
    p.split("\\n\\n").toSeq
      .filter(_.contains("Arguments: hashpartitioning")).foreach { b =>
        val args = b.linesIterator
          .find(_.trim.startsWith("Arguments: hashpartitioning")).getOrElse("")
        assert(!args.contains("text#") && !args.contains("gram#")
          && !args.contains("chunk_text#"), s"payload-keyed shuffle:\n$b")
      }
  }

  test("text_normalize: row-local codegen projection — only the output sort shuffles") {
    val p = plan("text_normalize")
    // the single exchange is the deterministic orderBy
    assert(countExchanges(p) <= 1, p)
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("text") && !read.contains("source"),
      s"scan not pruned: $read")
    // codegen asserted on the bare projection (the registered query's
    // AQE wrapper hides codegen ids until execution): leading `* `
    // marks the whole-stage-codegen Project, and it runs with
    // fallback disabled elsewhere in ExtensionsSpec
    spark.catalog.clearCache()
    val bare = Tables.documents(spark, sf0001)
      .select(graft.functions.normalize_text($"text", caseFold = true))
      .queryExecution.explainString(FormattedMode)
    assert(bare.linesIterator.exists(_.matches("^\\*.*Project.*")), bare)
  }

  test("dedup_unicode: normalized election shuffles hashes+ids, never text") {
    val p = plan("dedup_unicode")
    val blocks = p.split("\\n\\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"),
        s"text in normalized winner shuffle:\n$b")
    }
  }

  test("evt_enrich_static broadcasts the dimension — the stream side never shuffles") {
    val p = plan("evt_enrich_static")
    assert(p.contains("BroadcastHashJoin"), p)
    // no hash-partitioned exchange anywhere below the join: the only
    // exchanges allowed are the broadcast itself and the output sort
    val hashEx = p.split("\\n\\n").count(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashEx == 0, s"stream side shuffled:\n$p")
  }

  test("dq_expectations: the whole row-rule suite costs ONE aggregation pass") {
    val p = plan("dq_expectations")
    // exchanges: one single-partition gather for the row-rule agg, one
    // for the unique rule's agg, the FK anti-join's, and the output
    // sort — growing the RULE LIST must not grow the exchange count
    assert(countExchanges(p) <= 6, p)
  }

  test("bpe encode is shuffle-free — tokenization adds zero exchanges") {
    val model = graft.llm.Bpe.BpeModel(Seq(("a", "b")),
      Set("a", "b", graft.llm.Bpe.EndOfWord))
    val p = graft.llm.Bpe.encode(
        Tables.documents(spark, sf0001), "text", "doc_id", model)
      .queryExecution.explainString(FormattedMode)
    assert(countExchanges(p) == 0, p)
  }

  test("q19_disjunctive pushes the per-side implied disjuncts into both scans") {
    // the OR-of-ANDs must not survive as a post-join-only filter: each
    // side's implied union (p_size<=50 / l_quantity<=30 envelope, brand
    // IN-list) belongs in the parquet scan
    val p = plan("q19_disjunctive")
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(_.contains("l_quantity")),
      "lineitem scan lost its quantity envelope:\n" + p)
    assert(scans.exists(_.contains("p_brand")),
      "part scan lost its brand disjuncts:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q7/q8 broadcast every dimension — the fact side never sort-merges") {
    for (q <- Seq("q7_volume_shipping", "q8_market_share")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      // the only SMJ allowed is fact⋈orders (both 100 TB-scale);
      // nation/supplier/customer dims must ride broadcasts
      val smj = p.linesIterator.count(_.matches("\\(\\d+\\) SortMergeJoin.*"))
      assert(smj <= 1, s"$q has $smj sort-merge joins:\n$p")
    }
  }

  test("q21_late_suppliers decorrelation: no more than 3 hash exchanges of the fact") {
    // the EXISTS/NOT-EXISTS reformulation must not reintroduce the two
    // correlated self-shuffles: expected exchanges are the li⋈orders
    // key shuffle (shared), the per-order aggregate, and the
    // aggregate-back join — plus the final single-partition top-k
    val p = plan("q21_late_suppliers")
    assert(countExchanges(p) <= 5, p)
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort:\n" + p)
  }

  test("q22_idle_balances: threshold is a scalar subquery, anti join broadcasts") {
    val p = plan("q22_idle_balances")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "threshold must ride the plan, not a driver collect:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q9/q16/q17 broadcast every dim — at most the fact⋈orders SMJ survives") {
    // q9: part + supplier-nation dims broadcast; q16: part predicate
    // set and the NOT-IN supplier exclusion both broadcast; q17: the
    // brand dim AND the decorrelated per-part rollup broadcast back
    for ((q, maxSmj) <- Seq(("q9_profit", 1), ("q16_supplier_cnt", 0),
        ("q17_small_qty_revenue", 0))) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      val smj = p.linesIterator.count(_.matches("\\(\\d+\\) SortMergeJoin.*"))
      assert(smj <= maxSmj, s"$q has $smj sort-merge joins:\n$p")
    }
  }

  test("q15_top_supplier: max rides the plan as a subquery, supplier broadcasts") {
    val p = plan("q15_top_supplier")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "max(rev) must ride the plan, not a driver collect:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q2/q20 broadcast every dim and never sort-merge the fact side") {
    // q2: part + region-supplier dims and BOTH decorrelated rollups
    // (pair cost, per-part min) broadcast — zero SMJs; q20: bolt
    // parts broadcast, the excess rollup is supplier-key-distinct
    // (metadata-scale) before the semi join
    for (q <- Seq("q2_min_cost_supplier", "q20_excess_shippers")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q:\n$p")
      val smj = p.linesIterator.count(_.matches("\\(\\d+\\) SortMergeJoin.*"))
      assert(smj == 0, s"$q has $smj sort-merge joins:\n$p")
    }
  }

  test("q11_important_parts: threshold is a scalar subquery over the same rollup") {
    val p = plan("q11_important_parts")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      "total must ride the plan, not a driver collect:\n" + p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q18_large_orders: HAVING pre-aggregates before dim joins, top-100 never global-sorts") {
    val p = plan("q18_large_orders")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort:\n" + p)
    // the quantity filter must land on the per-order aggregate, not
    // after the customer/orders joins (post-agg Filter before any join
    // consumes it) — cheap structural proxy: a Filter on sum_qty_dec
    assert(p.contains("sum_qty_dec"), p)
  }

  test("dedup_spans: every hash exchange carries (hash, id, pos) ints — never text") {
    val p = plan("dedup_spans")
    val hashExchanges = p.split("\\n\\n").toSeq.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"), s"text in span shuffle:\n$b")
    }
  }

  test("graph analytics: every join is an equi-join, never a nested loop") {
    // the wedge join, closure join, peel semi-joins, and the banded
    // minhash join must all key on fixed-width columns; a refactor
    // that turns any of them into a cartesian/BNLJ is the quadratic
    // plan these operators exist to avoid (the 1-row totals
    // cross-join in summaries is the one legitimate exception and
    // prints as a broadcast over a single row, not a cartesian)
    for (q <- Seq("graph_triangles", "graph_local_triangles")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("hashpartitioning") || p.contains("SortMergeJoin") ||
        p.contains("BroadcastHashJoin"), s"$q:\n$p")
    }
    val mh = plan("dedup_minhash")
    assert(!mh.contains("CartesianProduct") &&
      !mh.contains("BroadcastNestedLoopJoin"), mh)
  }

  test("dq_drift: verdicts compute in two narrow scans, no nested loop") {
    val p = plan("dq_drift")
    assert(!p.contains("CartesianProduct"), p)
    // the only parquet columns read are the key and the value
    p.linesIterator.filter(_.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("l_extendedprice") && !l.contains("l_comment"), l)
    }
  }

  test("incremental dedup indexes: candidate joins equi-key, text/vectors stay out of band shuffles") {
    import graft.llm.Dedup
    val base = java.nio.file.Files.createTempDirectory("graft_planidx").toString
    val docs = Tables.documents(spark, sf0001).filter($"doc_id" < 100)
    val old = docs.filter($"doc_id" % 2 === 0)
    val nw = docs.filter($"doc_id" % 2 === 1)
    Dedup.writeSimhashIndex(old, "text", "doc_id", base + "/sh", maxHamming = 7)
    Dedup.writeMinhashIndex(old, "text", "doc_id", base + "/mh")
    val shP = Dedup.simhashNearDupIncremental(nw, base + "/sh", "text",
      "doc_id", maxHamming = 7).queryExecution.explainString(FormattedMode)
    val mhP = Dedup.minhashNearDupIncremental(nw, base + "/mh", "text",
      "doc_id").queryExecution.explainString(FormattedMode)
    for ((p, n) <- Seq((shP, "simhash"), (mhP, "minhash"))) {
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
    }
    // the simhash candidate join carries only fixed-width band rows —
    // historical text never shuffles (the minhash verify legitimately
    // ships shingle-hash ARRAYS for semi-filtered candidates, but raw
    // text must not appear in ANY exchange there either)
    for ((p, n) <- Seq((shP, "simhash"), (mhP, "minhash"))) {
      p.split("\\n\\n").toSeq.filter(b =>
        b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*"))).foreach { b =>
        val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("text#"), s"$n text in shuffle:\n$b")
      }
    }
    // incremental CC: star-graph fold keeps every join an equi-join
    val lbl = graft.operators.Graph.connectedComponents(
      Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b"))
    val ccP = graft.operators.Graph.connectedComponentsIncremental(
        lbl, Seq((2L, 3L)).toDF("id_a", "id_b"))
      .queryExecution.explainString(FormattedMode)
    assert(!ccP.contains("CartesianProduct") &&
      !ccP.contains("BroadcastNestedLoopJoin"), ccP)
  }

  test("text_bm25 / dsir_select: document text never shuffles") {
    for (name <- Seq("text_bm25", "dsir_select")) {
      val p = plan(name)
      p.split("\\n\\n").toSeq.filter(b =>
        b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*"))).foreach { b =>
        val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("text#"), s"$name text in exchange:\n$b")
      }
    }
  }

  test("text_bm25 ranks via TakeOrderedAndProject, never a global sort") {
    val p = plan("text_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("position-delete read: the log applies as a broadcast anti-join") {
    // the delete log is fixed-width coordinates — tiny next to the
    // table — so the live view must resolve as one scan plus a
    // broadcast LeftAnti, never a shuffled join of the whole table
    val dir = java.nio.file.Files.createTempDirectory("delplan").toString + "/t"
    spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
      .write.parquet(dir)
    graft.sources.Deletes.deleteWhere(spark, dir, col("v") > 1900)
    val p = graft.sources.Deletes.readApplyingDeletes(spark, dir)
      .queryExecution.explainString(FormattedMode)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("dedup_containment: posting join equi-keys on the gram, text never shuffles") {
    val p = plan("dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    p.split("\\n\\n").toSeq.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*"))).foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("text#"), s"text in exchange:\n$b")
    }
  }

  test("graph_label_prop / text_collocations: equi-joins only, no nested loop") {
    for (name <- Seq("graph_label_prop", "text_collocations")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // the 1-row bigram total in collocations broadcasts; anything
      // bigger must never ride a nested loop
      val bnl = p.linesIterator.count(_.matches(
        "\\(\\d+\\) BroadcastNestedLoopJoin.*"))
      assert(bnl <= 1, s"$name has $bnl nested-loop joins:\n$p")
    }
  }

  test("text_gopher_rules is one scan, zero exchanges before the sort") {
    // every rule is row-local — a shuffle before the presentation
    // sort would mean the rule pack isn't
    val p = plan("text_gopher_rules")
    val shuffles = p.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    // only the rangepartitioning exchange for the final orderBy
    assert(shuffles <= 1, s"expected only the orderBy exchange:\n$p")
  }

  test("feat_target_encode / feat_cuped: the fact table never sort-merges") {
    // target_encode joins its broadcast-sized aggregates back via
    // BroadcastHashJoin; cuped's ONLY join is the 1-row moment-vector
    // broadcast cross — in both, the unit table never hash-shuffles
    // into a SortMergeJoin
    val te = plan("feat_target_encode")
    assert(te.contains("BroadcastHashJoin"), te)
    assert(!te.contains("SortMergeJoin"), te)
    val cu = plan("feat_cuped")
    assert(!cu.contains("SortMergeJoin") && !cu.contains("CartesianProduct"),
      cu)
    val bnl = cu.linesIterator.count(_.matches(
      "\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(bnl <= 1, s"only the 1-row moments cross is allowed:\n$cu")
  }

  test("graph_assoc_rules / text_blocklist: equi-joins only, text stays put") {
    val p = plan("graph_assoc_rules")
    assert(!p.contains("CartesianProduct"), p)
    // the 1-row group-total broadcasts; nothing bigger may nest-loop
    val abnl = p.linesIterator.count(_.matches(
      "\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(abnl <= 1, s"graph_assoc_rules has $abnl nested loops:\n$p")
    // blocklist: the scan is row-local mapPartitions — no exchange
    // before the presentation sort
    val b = plan("text_blocklist")
    val shuffles = b.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(shuffles <= 1, s"expected only the orderBy exchange:\n$b")
  }

  test("dq_ks / feat_auc / feat_gains: two-phase prefix sum — no row-scale single-partition window") {
    for (name <- Seq("dq_ks", "feat_auc", "feat_gains")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      // the within-partition cumsum windows partition by __pid; the
      // only unpartitioned windows run over partition totals / decile
      // grids (bucket-scale). A value-scale global window would show
      // as an Exchange SinglePartition feeding a Window over the raw
      // counts — pin the exchange count instead: hash-agg + range
      // partition + pid window + offsets + final agg stay bounded
      // gains layers a decile agg + grid window on top of the shared
      // prefix-sum core — 9 bounded exchanges; ks/auc use fewer
      val exchanges = countExchanges(p)
      assert(exchanges <= 9, s"$name has $exchanges exchanges:\n$p")
    }
  }

  test("graph_louvain / link_fs_scores / merge_survivorship: equi-joins only, no cartesians") {
    for (name <- Seq("graph_louvain", "link_fs_scores",
        "merge_survivorship")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      val bnl = p.linesIterator.count(_.matches(
        "\\(\\d+\\) BroadcastNestedLoopJoin.*"))
      assert(bnl == 0, s"$name has $bnl nested loops:\n$p")
    }
    // survivorship: ALL fields resolve in ONE window pass — exactly
    // one Window operator (plus the final presentation sort)
    val sv = plan("merge_survivorship")
    val windows = sv.linesIterator.count(_.matches("\\(\\d+\\) Window.*"))
    assert(windows == 1, s"expected one window pass:\n$sv")
  }

  test("graph_modularity: long-keyed equi-joins only; just the 1-row edge total nest-loops") {
    val p = plan("graph_modularity")
    assert(!p.contains("CartesianProduct"), p)
    val bnl = p.linesIterator.count(_.matches(
      "\\(\\d+\\) BroadcastNestedLoopJoin.*"))
    assert(bnl <= 1, s"only the 1-row m broadcast may nest-loop:\n$p")
  }

  test("text_bm25_indexed probes the postings index: term filter pushed, text never read") {
    val p = plan("text_bm25_indexed")
    // the query terms reach the postings parquet scan as a pushed In
    // filter (sorted layout -> row-group pruning does the rest)
    assert(p.contains("PushedFilters"), p)
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("In(tok")), "term isin must push to the postings scan:\n" + p)
    // the documents table's text column is nowhere in the plan — the
    // whole point of the persisted index
    assert(!p.contains("documents.parquet"),
      "indexed search must not rescan the corpus:\n" + p)
  }

  test("dq_psi / dq_woe / dq_benford collapse to grid-sized aggregates") {
    // two (one for benford) narrow scans -> tiny hash-aggs; nothing
    // row-scale crosses an exchange after the counts
    for (name <- Seq("dq_psi", "dq_woe", "dq_benford")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name grid joins must broadcast:\n$p")
    }
  }

  test("ts_cusum: both cumulative-window levels ride ONE keyed shuffle") {
    val p = plan("ts_cusum")
    // exchanges: the hourly-count agg, the key-window repartition, the
    // output sort — the min-of-prefix-sum level must REUSE the first
    // window's partitioning, never add a fourth
    assert(countExchanges(p) <= 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("ts_acf: the indexed series materializes once — one scan feeds all five consumers") {
    val p = plan("ts_acf")
    // the truncated series is an ExistingRDD scan; the caller's
    // row-scale pre-aggregation must appear ZERO times downstream
    assert(!p.contains("events.parquet"),
      "acf plan re-runs the row-scale pre-aggregation:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("surv_kaplan_meier: curve windows run on the study-scale table, not row scale") {
    val p = plan("surv_kaplan_meier")
    // after the per-duration reduction (truncated), no parquet rescan
    // may feed the windows; events appears only in the two upstream
    // passes (per-user firsts, 13th-purchase window)
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"events scanned $scans times:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_adamic_adar: equi-joins only; top-100 never global-sorts") {
    val p = plan("graph_adamic_adar")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be a TakeOrdered, not a global sort:\n" + p)
    // the edge builder materializes once: wedge plan consumers read
    // the truncated RDD, never the lineitem self-join again
    assert(!p.contains("lineitem.parquet"),
      "wedge plan re-runs the upstream edge builder:\n" + p)
  }

  test("text_distinct_ngrams reads the corpus ONCE for every n") {
    // all n-gram sizes expand from one explode over one tokenize —
    // a per-n union would rescan documents.parquet maxN times
    val p = plan("text_distinct_ngrams")
    // count detail headers only (each scan prints a tree line AND a
    // "(n) Scan parquet" detail header)
    val scans = p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet\\s*"))
    assert(scans == 1, s"documents scanned $scans times:\n$p")
    assert(!p.contains("Union"), "per-n union re-reads the corpus:\n" + p)
  }

  test("graph_hits: final hub⋈auth is an equi-join; top-50 never global-sorts") {
    // iterations localCheckpoint eagerly, so the returned plan is the
    // final state join + cut — pin that it stays an equi-join over the
    // truncated RDDs (the per-iteration dataflow is pinned by the
    // identical pageRank posture) and that the cut is a TakeOrdered
    val p = plan("graph_hits")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be a TakeOrdered, not a global sort:\n" + p)
    // state joined by node only: no parquet rescan may feed it
    assert(!p.contains("Scan parquet"),
      "hits final join re-runs the upstream edge builder:\n" + p)
  }

  test("ts_changepoint: one keyed shuffle feeds prefix, totals and argmax windows") {
    val p = plan("ts_changepoint")
    // exchanges: hourly-count agg, the key repartition, the output
    // sort — the three windows must REUSE one key partitioning
    assert(countExchanges(p) <= 3, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dq_referential: parent keys reduce before the probe; no nested loops") {
    val p = plan("dq_referential")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // every relation probes an aggregated (distinct) parent side
    val aggs = p.linesIterator.count(_.matches("\\(\\d+\\) HashAggregate.*"))
    assert(aggs > 0, p)
  }

  test("ab_sequential / ab_poststrat / ab_power: one row-scale pass, no row-scale joins") {
    for (name <- Seq("ab_sequential", "ab_poststrat", "ab_power")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$name must not row-scale join:\n$p")
      val scans = p.linesIterator.count(
        _.matches("\\(\\d+\\) Scan parquet\\s*"))
      assert(scans == 1, s"$name reads events $scans times:\n$p")
    }
  }

  test("ts_theilsen / ts_mann_kendall: pair joins exchange the monthly series only, never order payload") {
    // the pairwise self-join is quadratic per group — it must run over
    // the aggregated (key, month, cents) series; the raw order columns
    // are consumed map-side by the partial aggregate and may never
    // cross a hash exchange
    for (name <- Seq("ts_theilsen", "ts_mann_kendall")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      val blocks = p.split("\\n\\n").toSeq
      val hashExchanges = blocks.filter(b =>
        b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
          b.contains("Arguments: hashpartitioning"))
      assert(hashExchanges.nonEmpty, s"$name:\n$p")
      hashExchanges.foreach { b =>
        val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("o_totalprice#") &&
          !input.contains("o_orderdate#"),
          s"$name ships raw order payload through an exchange:\n$b")
      }
    }
  }

  test("surv_logrank: O-E/V terms run on the checkpointed distinct-time table, events scanned at most twice") {
    val p = plan("surv_logrank")
    // the duration construction may scan events twice (per-user
    // firsts + the 13th-purchase window, the kaplan_meier posture);
    // the cumulative windows and term sums must NOT add a third
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans <= 2, s"events scanned $scans times:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("one-aggregate stats scan their fact table exactly once") {
    // the one-pass contract of the moment-based tests: a second scan
    // means the conditional aggregation silently split
    // formatted explain prints each scan twice (tree line + detail
    // header), so one physical scan = two matching lines
    for (name <- Seq("ab_tost", "ab_delta_method", "ab_effect_size")) {
      val p = plan(name)
      val scans = p.linesIterator.count(_.contains("Scan parquet")) / 2
      assert(scans <= (if (name == "ab_effect_size") 2 else 1),
        s"$name scans $scans times:\n$p")
      assert(!p.contains("CartesianProduct"), name + "\n" + p)
    }
  }

  test("agg_theil: totals/terms/groups read the checkpointed unit table, never orders again") {
    val p = plan("agg_theil")
    assert(!p.contains("orders.parquet"),
      "theil plan re-runs the caller's revenue aggregation:\n" + p)
    assert(!p.contains("customer.parquet"),
      "theil plan re-runs the nation join:\n" + p)
  }

  test("text_novelty: first-occurrence join reads the checkpointed occurrence table, never documents again") {
    val p = plan("text_novelty")
    assert(!p.contains("documents.parquet"),
      "novelty plan re-tokenizes the corpus per consumer:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ab_yuen: boundary and moment passes read the checkpointed prefix table, never events again") {
    val p = plan("ab_yuen")
    // cumCounts localCheckpoints the distinct-value table; the three
    // downstream passes (totals, boundaries, corrections) must all
    // consume it — a parquet rescan means the row-scale reduction
    // re-ran per pass
    assert(!p.contains("events.parquet"),
      "yuen plan re-runs the row-scale reduction:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_betweenness: equi-joins only; top-100 never global-sorts; no parquet rescan") {
    // forward levels and back-sweep deltas localCheckpoint eagerly,
    // so the returned plan is the dependency union + per-id agg + cut:
    // it must stay long-keyed equi-joins over truncated RDDs
    val p = plan("graph_betweenness")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "top-100 must be a TakeOrdered, not a global sort:\n" + p)
    assert(!p.contains("Scan parquet"),
      "betweenness final plan re-runs the upstream edge builder:\n" + p)
  }

  test("graph_katz: final plan is a TakeOrdered over the truncated ranks — no rescan") {
    val p = plan("graph_katz")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be a TakeOrdered, not a global sort:\n" + p)
    assert(!p.contains("Scan parquet"),
      "katz final plan re-runs the upstream edge builder:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("graph_scc: equi-joins only; final plan unions truncated rounds, no parquet rescan") {
    // trim/color/mark rounds localCheckpoint eagerly, so the returned
    // plan is a union of checkpointed assignments under one sort: it
    // must never re-run the trade-graph builder or cross-join
    val p = plan("graph_scc")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Scan parquet"),
      "scc final plan re-runs the upstream edge builder:\n" + p)
  }

  test("graph_mst: final plan unions truncated round picks — equi-only, no parquet rescan") {
    // every round's picked edges localCheckpoint eagerly; the
    // returned plan is their union under one small sort — it must
    // never re-run the pair builder or cross-join
    val p = plan("graph_mst")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Scan parquet"),
      "mst final plan re-runs the upstream pair builder:\n" + p)
  }

  test("graph_matching: final plan unions truncated mutual picks — equi-only, no rescan") {
    val p = plan("graph_matching")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Scan parquet"),
      "matching final plan re-runs the upstream pair builder:\n" + p)
  }

  test("sample_to_mix: quotas ride a broadcast join; the rank window is the only wide work") {
    val p = plan("sample_to_mix")
    assert(p.contains("BroadcastHashJoin"),
      "quota table must broadcast, not shuffle:\n" + p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("evt_bot_screen: top-50 never global-sorts") {
    val p = plan("evt_bot_screen")
    assert(p.contains("TakeOrderedAndProject"),
      "top-50 must be a TakeOrdered, not a global sort:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dq_duplicate_rows: the census shuffle carries only the row fingerprint") {
    // the full-row duplicate census must exchange only the xxhash64
    // fingerprint pair + null-position bitmask (~24 B) + partial
    // counts, never the full lineitem row width (the one shape the
    // dedup module exists to avoid at 100 TB)
    val p = plan("dq_duplicate_rows")
    val blocks = p.split("\\n\\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(input.contains("__h1"), s"fingerprint missing from census shuffle:\n$b")
      assert(!input.contains("l_extendedprice") && !input.contains("l_orderkey"),
        s"full row width in census shuffle:\n$b")
    }
  }

  test("text_boilerplate: no hash shuffle ever carries line text") {
    // the census shuffles (fp, fp2, doc_id) = 24 B rows; the per-doc
    // aggregation partial-aggregates map-side; the boilerplate set
    // joins back by broadcast — so LINE TEXT must appear in no
    // hash-partitioned exchange anywhere in the plan
    val p = plan("text_boilerplate")
    val blocks = p.split("\n\n").toSeq
    val hashExchanges = blocks.filter(b =>
      b.linesIterator.exists(_.matches("\\(\\d+\\) Exchange.*")) &&
        b.contains("Arguments: hashpartitioning"))
    assert(hashExchanges.nonEmpty, p)
    hashExchanges.foreach { b =>
      val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
      assert(!input.contains("line#"), s"line text in a shuffle:\n$b")
    }
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("keyed fleet diagnostics never funnel through a single partition") {
    // the whole point of the ByKey forms: every window partitions by
    // the key, so the fleet distributes — a SinglePartition exchange
    // anywhere before the (tiny) final sort would mean a window
    // silently lost its partition spec and the operator re-grew the
    // single-series funnel
    Seq("ts_runs_test_by_key", "ts_ma_crossover_by_key",
        "ml_isotonic_grouped").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Arguments: SinglePartition"),
        s"$q funnels through SinglePartition:\n$p")
      assert(p.contains("hashpartitioning"), s"$q has no keyed exchange:\n$p")
    }
  }

  test("modelSelectByKey: the fleet fit never funnels through a single partition") {
    // the operator's own plan (the graded query's FIXTURE builds its
    // planted series through one tiny global row_number — that window
    // is fixture scaffolding, not the operator): every window and
    // aggregate partitions by the key, so the only non-hash exchange
    // is the final key-ordered sort's rangepartitioning
    val fleet = spark.range(1, 200)
      .select((col("id") % 4).cast("string").as("k"),
        col("id").as("i"), (col("id") * 7 % 100).as("x"))
    val p = graft.operators.TimeSeries
      .modelSelectByKey(fleet, col("k"), col("i"), col("x"),
        maxPeriod = 12)
      .queryExecution.explainString(FormattedMode)
    assert(!p.contains("Arguments: SinglePartition"),
      s"keyed model select funnels through SinglePartition:\n$p")
    assert(p.contains("hashpartitioning"), p)
  }

  test("sim_topk_filtered_ivf: the inverted-list join carries the slice key") {
    // the sliced index's contract: candidates join on (slice,
    // cluster), so a probe can never scan another slice's lists — if
    // the label ever drops out of the join, the filter silently
    // becomes a post-filter and k under-fills
    val p = plan("sim_topk_filtered_ivf")
    val joinBlock = p.split("\n\n").find(b =>
      b.contains("Join") && b.contains("cluster") && b.contains("label"))
    assert(joinBlock.isDefined,
      s"no join carries (cluster, label) together:\n$p")
  }

  test("text_boilerplate: with broadcast DISABLED the join-back still moves no line text") {
    // the template-flooded-corpus case: when the boiler set exceeds
    // the broadcast threshold the fingerprint join degrades to a
    // shuffle — length(line) is precomputed and the text dropped
    // before the join, so even then NO exchange of any kind carries
    // the line string (the dq_duplicate_rows discipline)
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("text_boilerplate")
      val blocks = p.split("\n\n").toSeq
      val exchanges = blocks.filter(_.linesIterator
        .exists(_.matches("\\(\\d+\\) Exchange.*")))
      assert(exchanges.nonEmpty, p)
      exchanges.foreach { b =>
        val input = b.linesIterator.find(_.startsWith("Input")).getOrElse("")
        assert(!input.contains("line#"), s"line text in an exchange:\n$b")
      }
      assert(!p.contains("BroadcastHashJoin"), p)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }
}
