package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Similarity
import graft.operators.{Sampling, Scale}

import Shared.setsEqual

/** Samplers, splits and budgeted sharding. */
object SamplingQueries {
  val specs: Seq[QuerySpec] = Seq(

    QuerySpec("sample_balanced", (s, dir) => {
      import s.implicits._
      // Class-balanced deterministic downsample: 50 orders per
      // priority by the Lehmer-permuted id order — the imbalance fix
      // a uniform sample preserves. Pure function of the ids; both
      // engines replay the exact pick.
      graft.operators.Sampling.balancedByClass(
          Tables.orders(s, dir), "o_orderpriority", "o_orderkey",
          perClass = 50)
        .select($"o_orderpriority", $"sample_rank", $"o_orderkey")
        .orderBy($"o_orderpriority", $"sample_rank")
    },
    // the Lehmer permutation (id*48271 mod 2^31-1) replays exactly;
    // short classes keep everything
    Oracle("""WITH r AS (SELECT o_orderpriority, o_orderkey,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY ((o_orderkey % 2147483647) * 48271) % 2147483647,
        |        o_orderkey) AS BIGINT) AS sample_rank
        |  FROM orders)
        |SELECT o_orderpriority, sample_rank, o_orderkey
        |FROM r WHERE sample_rank <= 50
        |ORDER BY o_orderpriority, sample_rank""".stripMargin),
    bench = true),

    QuerySpec("sample_neyman", (s, dir) => {
      import s.implicits._
      // Neyman minimum-variance allocation: split a 10k-row sample
      // budget across priority strata proportionally to N_h*S_h —
      // the survey-sampling answer to "where do my sample rows buy
      // the most variance reduction" (proportional allocation
      // over-samples big HOMOGENEOUS strata; Neyman weights by
      // spread too). Exact DECIMAL stratum moments; S_h is one
      // mirrored sqrt of exact integers; the weights quantize to
      // ppm integers BEFORE the budget split so the allocation is
      // a pure integer function (truncating; the documented
      // shortfall is < strata rows).
      import graft.operators.Moments
      val dec = Moments.Dec
      val aggs = Moments.sums("n", Seq("s" -> $"y"), Seq(("q", $"y", $"y")))
      val m = Tables.orders(s, dir)
        .select($"o_orderpriority".as("stratum"),
          expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("y"))
        .groupBy($"stratum")
        .agg(aggs.head, aggs.tail: _*)
        .filter($"n" >= 2L)
      // N_h * S_h with S_h = sqrt((n*q - s^2) / (n*(n-1))): carried
      // as one double tree from exact integers
      val ns = $"n".cast("double") * sqrt(Moments.sampleVar($"n", $"s", $"q"))
      val wtab = m.select($"stratum", $"n",
        round(ns).cast("long").as("__ns"))
      val tot = wtab.agg(sum($"__ns".cast(dec)).as("__tns"))
      wtab.crossJoin(broadcast(tot)) // 1-row weight total
        .filter($"__tns" > 0)
        .select($"stratum", $"n".cast("bigint").as("n_rows"),
          expr("CAST(CAST(__ns AS DECIMAL(38,0)) * 1000000" +
            " div __tns AS BIGINT)").as("weight_ppm"),
          expr("CAST(CAST(__ns AS DECIMAL(38,0)) * 10000" +
            " div __tns AS BIGINT)").as("n_alloc"))
        .orderBy($"stratum")
    },
    // stratum moments exact in HUGEINT; N_h*S_h one mirrored sqrt
    // tree rounded to a long weight; the split all-integer after
    Oracle("""WITH m AS (SELECT o_orderpriority AS stratum,
        |    CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS HUGEINT)) AS s,
        |    sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS HUGEINT) * CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS q
        |  FROM orders GROUP BY 1 HAVING count(*) >= 2),
        |w AS (SELECT stratum, n,
        |    CAST(round(CAST(n AS DOUBLE)
        |      * sqrt(CAST(n * q - s * s AS DOUBLE)
        |        / CAST(n * (n - 1) AS DOUBLE))) AS BIGINT) AS ns
        |  FROM m),
        |t AS (SELECT sum(CAST(ns AS HUGEINT)) AS tns FROM w)
        |SELECT stratum, n AS n_rows,
        |  CAST((CAST(ns AS HUGEINT) * 1000000) // tns AS BIGINT)
        |    AS weight_ppm,
        |  CAST((CAST(ns AS HUGEINT) * 10000) // tns AS BIGINT)
        |    AS n_alloc
        |FROM w, t WHERE tns > 0 ORDER BY stratum""".stripMargin),
    bench = true),

    QuerySpec("sample_to_mix", (s, dir) => {
      import s.implicits._
      // Downsample to a TARGET MIX (the "X% web, Y% code" training
      // recipe): largest subset of orders hitting 30/50/20
      // URGENT/MEDIUM/LOW, untargeted priorities excluded, rows
      // picked by the Lehmer permutation — a pure function of
      // (counts, targets, ids) both engines replay.
      // SIDE-EFFECTING (the attainability pre-flight runs eagerly).
      graft.operators.Sampling.sampleToMix(Tables.orders(s, dir),
          "o_orderpriority", "o_orderkey",
          Seq("1-URGENT" -> 300000L, "3-MEDIUM" -> 500000L,
            "5-LOW" -> 200000L))
        .select($"o_orderpriority", $"sample_rank", $"o_orderkey",
          $"quota")
        .orderBy($"o_orderpriority", $"sample_rank")
    },
    // T = min(n_g*1e6 // w_g), quota = (w_g*T) // 1e6 — all integer;
    // the same Lehmer-permutation pick order as sample_balanced
    Oracle("""WITH tgt AS (SELECT * FROM (VALUES
        |    ('1-URGENT', 300000), ('3-MEDIUM', 500000),
        |    ('5-LOW', 200000)) t(g, w)),
        |cnt AS (SELECT o_orderpriority AS g,
        |    CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY 1),
        |q AS (SELECT tgt.g, tgt.w,
        |    min((CAST(n AS HUGEINT) * 1000000) // w) OVER () AS t
        |  FROM tgt JOIN cnt ON cnt.g = tgt.g),
        |qq AS (SELECT g,
        |    CAST((CAST(w AS HUGEINT) * t) // 1000000 AS BIGINT)
        |      AS quota
        |  FROM q),
        |r AS (SELECT o.o_orderpriority, o.o_orderkey, qq.quota,
        |    CAST(row_number() OVER (PARTITION BY o.o_orderpriority
        |      ORDER BY ((o.o_orderkey % 2147483647) * 48271) % 2147483647,
        |        o.o_orderkey) AS BIGINT) AS sample_rank
        |  FROM orders o JOIN qq ON qq.g = o.o_orderpriority)
        |SELECT o_orderpriority, sample_rank, o_orderkey, quota
        |FROM r WHERE sample_rank <= quota
        |ORDER BY o_orderpriority, sample_rank""".stripMargin),
    bench = true, eagerBuild = true),

    QuerySpec("sample_temperature", (s, dir) => {
      import s.implicits._
      // Temperature (alpha = 1/2) mixture downsample of the document
      // corpus by source — the mBERT/XLM-R sampling rule: quotas
      // proportional to sqrt(n_source), so long-tail sources are
      // over-represented relative to raw share without dominating
      // (sample_to_mix needs an explicit recipe; this derives one
      // from the corpus). sqrt is correctly rounded IEEE, so the
      // one root per group mirrors; everything after is integer.
      graft.operators.Sampling.sampleTemperature(
          Tables.documents(s, dir).select($"doc_id", $"source"),
          "source", "doc_id", budget = 200L)
        .select($"source", $"sample_rank", $"doc_id", $"quota")
        .orderBy($"source", $"sample_rank")
    },
    // one mirrored sqrt per group (correctly rounded IEEE), integer
    // quota algebra and the shared Lehmer pick after
    Oracle("""WITH c AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |w AS (SELECT g, n,
        |    CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT)
        |      AS w
        |  FROM c),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
        |q AS (SELECT g,
        |    least(n, CAST((CAST(200 AS HUGEINT) * w) // sw AS BIGINT))
        |      AS quota
        |  FROM w, sw),
        |r AS (SELECT d.source, d.doc_id, q.quota,
        |    CAST(row_number() OVER (PARTITION BY d.source
        |      ORDER BY ((d.doc_id % 2147483647) * 48271) % 2147483647,
        |        d.doc_id) AS BIGINT) AS sample_rank
        |  FROM documents d JOIN q ON q.g = d.source)
        |SELECT source, sample_rank, doc_id, quota FROM r
        |WHERE sample_rank <= quota
        |ORDER BY source, sample_rank""".stripMargin),
    bench = true),

    QuerySpec("sample_first_n", (s, dir) => {
      import s.implicits._
      // never `wide`: (l_orderkey, l_linenumber) is NOT unique in the
      // generated lineitem, so the limit's tie-winners follow scan
      // order — the oracle's file order, which only the single-split
      // scan reproduces
      Sampling.firstN(Tables.table(s, dir, "lineitem"), 1000,
          $"l_orderkey", $"l_linenumber")
        .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    },
    Oracle("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber
        |LIMIT 1000""".stripMargin),
    bench = true),

    QuerySpec("sample_by_key", (s, dir) => {
      import s.implicits._
      // Keyed sample with a pure-arithmetic gate so DuckDB can
      // replicate it exactly: every o_custkey fully in or fully out
      // (the contract DataFu SampleByKey broke, README.md:173-182).
      Tables.orders(s, dir)
        .filter(pmod(pmod($"o_custkey" * lit(2654435761L), lit(1000003L)), lit(5)) === 0)
        .select($"o_orderkey", $"o_custkey")
        .orderBy($"o_orderkey")
    },
    Oracle("""SELECT o_orderkey, o_custkey FROM orders
        |WHERE ((o_custkey * 2654435761) % 1000003) % 5 = 0
        |ORDER BY o_orderkey""".stripMargin),
    bench = true),

    QuerySpec("sample_rows_det", (s, dir) => {
      import s.implicits._
      // Row-level deterministic ~20% gate, same arithmetic-hash idea.
      Tables.lineitem(s, dir)
        .filter(pmod($"l_orderkey" * lit(7919L) + $"l_linenumber", lit(1000L)) < 200)
        .select($"l_orderkey", $"l_linenumber")
        .orderBy($"l_orderkey", $"l_linenumber")
    },
    Oracle("""SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE (l_orderkey * 7919 + l_linenumber) % 1000 < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    bench = true),

    QuerySpec("sample_mixture", (s, dir) => {
      import s.implicits._
      // Data mixing: resample the corpus toward a target language
      // mixture (50% en / 20% zh / 10% each de-es-fr of a 6000-token
      // budget). The deterministic arithmetic row gate + all-integer
      // thresholds let DuckDB replay the exact keep/drop set.
      val docs = Tables.documents(s, dir).select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tok"))
      Sampling.mixtureByBudget(docs, "lang", "n_tok",
          weightsPermille = Map("en" -> 500, "zh" -> 200, "de" -> 100,
            "es" -> 100, "fr" -> 100),
          budgetTokens = 6000L,
          rowGate = $"doc_id" * lit(7919L) + lit(13L))
        .select($"doc_id", $"lang", $"n_tok")
        .orderBy($"doc_id")
    },
    // Replays mixtureByBudget's all-integer gate exactly: per-group
    // token totals, driver-constant targets budget*w/1000 (6000 tokens
    // at 500/200/100/100/100 permille), permyriad threshold
    // min(10000, 10000*target DIV total), keep iff
    // (doc_id*7919+13) % 10000 < threshold. Langs outside the target
    // mixture get threshold 0 (dropped), same as the Spark CASE fold.
    Oracle("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |tot AS (
        |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot
        |  FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_tok
        |FROM d JOIN tot USING (lang)
        |WHERE (d.doc_id * 7919 + 13) % 10000 <
        |  least(10000, (10000 * (CASE d.lang
        |    WHEN 'en' THEN 3000 WHEN 'zh' THEN 1200
        |    WHEN 'de' THEN 600 WHEN 'es' THEN 600 WHEN 'fr' THEN 600
        |    ELSE 0 END)) // tot.tot)
        |ORDER BY d.doc_id""".stripMargin)),

    QuerySpec("sample_mixture_epochs", (s, dir) => {
      import s.implicits._
      // Data mixing WITH upsampling: a 30k-token budget at
      // 400/300/100/100/100 permille puts en at ~1.02 epochs, zh at
      // ~2.2 (whole-corpus repeats + fractional gate) and downsamples
      // de/es/fr. Integer thresholds + the arithmetic row gate let
      // DuckDB replay the exact copy set, epoch numbers included.
      val docs = Tables.documents(s, dir).select($"doc_id", $"lang",
        size(split($"text", " ")).cast("long").as("n_tok"))
      Sampling.mixtureWithEpochs(docs, "lang", "n_tok",
          weightsPermille = Map("en" -> 400, "zh" -> 300, "de" -> 100,
            "es" -> 100, "fr" -> 100),
          budgetTokens = 30000L,
          rowGate = $"doc_id" * lit(7919L) + lit(13L))
        .select($"doc_id", $"lang", $"n_tok", $"epoch")
        .orderBy($"doc_id", $"epoch")
    },
    // Replays mixtureWithEpochs' copy set: whole epochs target DIV tot
    // plus the fractional-remainder gate, capped at 100, exploded via
    // range(); targets are budget*w/1000 = 12000/9000/3000.
    Oracle("""WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |t AS (
        |  SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot
        |  FROM d GROUP BY lang),
        |p AS (
        |  SELECT d.doc_id, d.lang, d.n_tok, t.tot,
        |    CAST(CASE d.lang WHEN 'en' THEN 12000 WHEN 'zh' THEN 9000
        |      WHEN 'de' THEN 3000 WHEN 'es' THEN 3000 WHEN 'fr' THEN 3000
        |      ELSE 0 END AS BIGINT) AS target
        |  FROM d JOIN t USING (lang)),
        |r AS (
        |  SELECT doc_id, lang, n_tok,
        |    least(100, (target // tot)
        |      + CASE WHEN (doc_id * 7919 + 13) % 10000 <
        |          (10000 * (target - (target // tot) * tot)) // tot
        |        THEN 1 ELSE 0 END) AS rep
        |  FROM p)
        |SELECT doc_id, lang, n_tok,
        |  CAST(unnest(range(1, rep + 1)) AS BIGINT) AS epoch
        |FROM r WHERE rep > 0 ORDER BY doc_id, epoch""".stripMargin)),

    QuerySpec("sample_weighted_pps", (s, dir) => {
      import s.implicits._
      // Poisson PPS: keep each document with probability
      // n_chars/2000 — longer (higher-weight) docs proportionally more
      // likely. All-integer gate → DuckDB replays the exact keep set.
      Sampling.weightedBernoulli(
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars"),
          "n_chars", denom = 2000L,
          gate = $"doc_id" * lit(7919L) + lit(47L))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id, lang, n_chars FROM documents
        |WHERE (doc_id * 7919 + 47) % 2000 < n_chars
        |ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("sample_weighted_topk", (s, dir) => {
      import s.implicits._
      // Fixed-size weighted draw (Efraimidis-Spirakis A-ES): top-100
      // by priority ln(u)/n_chars with a deterministic uniform — the
      // oracle recomputes the same priorities and takes the same 100.
      Sampling.weightedTopK(
          Tables.documents(s, dir).select($"doc_id", $"n_chars"),
          "n_chars", k = 100,
          gate = $"doc_id" * lit(2654435761L) + lit(97L),
          tieBreak = Seq($"doc_id"))
        .orderBy($"doc_id")
    },
    // Replays the A-ES draw: same deterministic uniform, same
    // log-space priority ln(u)/w, same top-100 with doc_id tiebreak.
    Oracle("""WITH pick AS (
        |  SELECT doc_id, n_chars,
        |    ln(((doc_id * 2654435761 + 97) % 1000003 + 1) / 1000004.0)
        |      / n_chars AS aes
        |  FROM documents ORDER BY aes DESC, doc_id LIMIT 100)
        |SELECT doc_id, n_chars FROM pick ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("sample_weighted_by_group", (s, dir) => {
      import s.implicits._
      // Stratified weighted draw: per language, the 20 docs winning
      // the deterministic A-ES draw weighted by n_chars — one window
      // pass, no global sort. The oracle replays priorities and the
      // per-group row_number cut exactly.
      Sampling.weightedTopKPerGroup(
          Tables.documents(s, dir).select($"doc_id", $"lang", $"n_chars"),
          "lang", "n_chars", k = 20,
          gate = $"doc_id" * lit(2654435761L) + lit(97L),
          tieBreak = Seq($"doc_id"))
        .orderBy($"doc_id")
    },
    // Grouped A-ES replay: same priorities, per-language row_number cut
    Oracle("""WITH pr AS (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY
        |      ln(((doc_id * 2654435761 + 97) % 1000003 + 1) / 1000004.0)
        |        / n_chars DESC, doc_id) AS rn
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, lang, n_chars FROM pr WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("split_train_test", (s, dir) => {
      import s.implicits._
      // Reproducible 80/10/10 train/val/test split: the assignment is
      // a pure function of doc_id, so appends never reshuffle old rows
      // across splits (the no-leakage contract randomSplit can't give).
      // Portable arithmetic gate here so DuckDB replays the ladder
      // bit-for-bit; production uses Sampling.splitByKey (xxhash64).
      Sampling.splitByHash(Tables.documents(s, dir).select($"doc_id"),
          splits = Seq("train" -> 800, "val" -> 100, "test" -> 100),
          gate = $"doc_id" * lit(7919L) + lit(31L))
        .orderBy($"doc_id")
    },
    Oracle("""SELECT doc_id,
        |  CASE WHEN (doc_id * 7919 + 31) % 1000 >= 900 THEN 'test'
        |       WHEN (doc_id * 7919 + 31) % 1000 >= 800 THEN 'val'
        |       ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),
    bench = true),

    QuerySpec("sample_bernoulli", (s, dir) =>
      // Seeded Bernoulli (README.md:154-162,220-230) — reproducible in
      // Spark, not replicable in DuckDB → rows-only check + ScalaCheck
      // bounds test. Never `wide`: a seeded df.sample draws per
      // (partition, position), so the kept SET is a function of the
      // scan partitioning — the single-split scan is the one layout
      // that is stable across environments/retries (ADVICE r20).
      Sampling.bernoulli(Tables.table(s, dir, "lineitem"), 0.2)
        .select(col("l_orderkey"), col("l_linenumber")),
    Gate("sample_gates"),
    bench = true),

    QuerySpec("sample_percent", (s, dir) =>
      // Hive TABLESAMPLE(20 PERCENT) analogue (README.md:190-199);
      // seeded RNG → rows-only check + ScalaCheck bounds test.
      // Never `wide`: see sample_bernoulli.
      Sampling.percent(Tables.table(s, dir, "lineitem"), 20.0)
        .select(col("l_orderkey"), col("l_linenumber")),
    Gate("sample_gates"),
    bench = true),

    QuerySpec("sample_stratified", (s, dir) => {
      import s.implicits._
      // per-stratum fractions via df.stat.sampleBy — rows-only check
      // (seeded RNG); the spec asserts per-stratum proportions.
      // Never `wide`: see sample_bernoulli.
      Sampling.stratified(Tables.table(s, dir, "orders"),
          "o_orderpriority",
          Map("1-URGENT" -> 0.3, "2-HIGH" -> 0.2, "3-MEDIUM" -> 0.1,
            "4-NOT SPECIFIED" -> 0.05, "5-LOW" -> 0.02))
        .select($"o_orderkey", $"o_orderpriority")
    },
    Gate("sample_gates"),
    bench = true),

    QuerySpec("sample_kcenter_gate", (s, dir) => {
      import s.implicits._
      // k-center greedy coreset gate: 8 centers over the embedding
      // corpus. Contracts: deterministic (a re-run picks identical
      // centers), the seed is the smallest id at round 0, and the
      // GUARANTEED monotonicity property — the 8-center coverage
      // radius is <= the first-7-greedy-prefix radius (adding a
      // center can only shrink every point's distance-to-nearest;
      // unlike a greedy-vs-arbitrary-baseline comparison, this holds
      // on ANY embedding distribution, so the gate can't flake).
      val emb = Tables.embeddings(s, dir).select($"vec_id", $"embedding")
      val c1 = Similarity.kCenterGreedy(emb, "embedding", "vec_id", k = 8)
      val c2 = Similarity.kCenterGreedy(emb, "embedding", "vec_id", k = 8)
      val rerun = setsEqual(c1, c2, Seq("center_id", "round"),
        "deterministic")
      val seedOk = c1.filter($"round" === 0)
        .join(emb.agg(min($"vec_id").as("center_id")), Seq("center_id"))
        .agg((count(lit(1)) === 1L).as("seed_is_min_id"))
      val rg = Similarity.coverageRadius(emb, "embedding", "vec_id",
        c1.select($"center_id"))
      val rp = Similarity.coverageRadius(emb, "embedding", "vec_id",
        c1.filter($"round" < 7).select($"center_id"))
      c1.agg(count(lit(1)).cast("bigint").as("n_centers"))
        .crossJoin(rerun).crossJoin(seedOk)
        .crossJoin(rg.select($"radius_micros".as("__rg")))
        .crossJoin(rp.select($"radius_micros".as("__rp")))
        .select($"n_centers", $"deterministic", $"seed_is_min_id",
          ($"__rg" <= $"__rp").as("radius_monotone"))
    },
    Oracle("""SELECT CAST(8 AS BIGINT) AS n_centers, TRUE AS deterministic,
        |  TRUE AS seed_is_min_id, TRUE AS radius_monotone""".stripMargin),
    eagerBuild = true),

    QuerySpec("shard_by_budget", (s, dir) => {
      import s.implicits._
      // SIDE-EFFECTING (not a pure plan builder): the per-partition
      // subtotal pass of the distributed prefix sum runs eagerly.
      // Corpus → fixed-token-budget output shards (~2000 tokens each);
      // the oracle recomputes the running sum with a window function,
      // so any drift in the two-phase prefix sum hash-mismatches.
      val docs = Tables.documents(s, dir).select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tok"))
      Scale.tokenShards(docs, "doc_id", "n_tok", budgetTokens = 2000L)
        .select($"doc_id", $"shard_id")
        .orderBy($"doc_id")
    },
    // Recomputes tokenShards' distributed prefix sum with a plain
    // window running-sum: shard = floor(tokens_strictly_before / 2000)
    // in doc_id order. Any drift in the two-phase offset/broadcast
    // machinery hash-mismatches here.
    Oracle("""WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2000
        |    AS BIGINT) AS shard_id
        |FROM d ORDER BY doc_id""".stripMargin),
    eagerBuild = true),

    QuerySpec("sample_gates", (s, dir) => {
      import s.implicits._
      // seeded-RNG samplers: DuckDB can't replay Spark's RNG, but it
      // CAN recompute the population sizes the observed fractions are
      // checked against (5σ Chernoff bounds, deterministic per seed).
      // never `wide`: the gate must draw the SAME samples as the
      // sample_bernoulli/percent/stratified dumps it certifies (seeded
      // draws are partitioning-dependent — see sample_bernoulli).
      val li = Tables.table(s, dir, "lineitem")
      val ords = Tables.table(s, dir, "orders")
      val nLi = li.agg(count(lit(1)).cast("bigint").as("n_lineitem"))
      val bern = Sampling.bernoulli(li, 0.2).agg(count(lit(1)).as("n_b"))
      val pct = Sampling.percent(li, 20.0).agg(count(lit(1)).as("n_p"))
      val fr = Map("1-URGENT" -> 0.3, "2-HIGH" -> 0.2, "3-MEDIUM" -> 0.1,
        "4-NOT SPECIFIED" -> 0.05, "5-LOW" -> 0.02)
      val target = fr.foldLeft(lit(0.0)) { case (acc, (k, v)) =>
        when($"o_orderpriority" === k, lit(v)).otherwise(acc) }
      val strat = Sampling.stratified(ords, "o_orderpriority", fr)
        .groupBy($"o_orderpriority").agg(count(lit(1)).as("n_s"))
        .join(ords.groupBy($"o_orderpriority").agg(count(lit(1)).as("n_t")),
          Seq("o_orderpriority"))
        .select((abs($"n_s".cast("double") / $"n_t" - target)
          <= target * 0.25 + 0.01).as("stratum_ok"))
        .agg(min($"stratum_ok").as("strat_ok"))
      nLi.crossJoin(bern).crossJoin(pct).crossJoin(strat)
        .select($"n_lineitem",
          (abs($"n_b".cast("double") / $"n_lineitem" - 0.2) <= 0.017)
            .as("bern_ok"),
          (abs($"n_p".cast("double") / $"n_lineitem" - 0.2) <= 0.017)
            .as("pct_ok"),
          $"strat_ok")
    },
    Oracle("""SELECT (SELECT count(*) FROM lineitem) AS n_lineitem,
        |  true AS bern_ok, true AS pct_ok, true AS strat_ok""".stripMargin)),
  )
}
