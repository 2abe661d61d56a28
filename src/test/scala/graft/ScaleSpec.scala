package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import graft.operators.Scale

class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin returns the same rows as a plain join") {
    val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_partkey", "l_quantity")
    val part = Tables.part(spark, sf0001).select("p_partkey", "p_brand")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(part, "l_partkey")
    val salted = Scale.saltedJoin(li, part, "l_partkey", salt = 4)
    assert(salted.count() == plain.count())
    assert(salted.select(sum($"l_quantity")).head().getDouble(0) ==
      plain.select(sum($"l_quantity")).head().getDouble(0))
  }

  test("bucketed tables join without a shuffle exchange") {
    Scale.writeBucketed(Tables.orders(spark, sf0001), "orders_b", "o_orderkey", buckets = 4)
    Scale.writeBucketed(
      Tables.lineitem(spark, sf0001).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", "o_orderkey", buckets = 4)
    val joined = spark.table("lineitem_b").join(spark.table("orders_b"), "o_orderkey")
      .groupBy("o_orderstatus").count()
    val nShuffles = atScale(joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }.size)
    // the join itself must be shuffle-free: the only exchange allowed
    // is the final single-partition aggregate
    assert(nShuffles <= 1, s"expected co-located join, got $nShuffles shuffles")
    assert(joined.count() > 0)
  }

  test("copartition reuses one shuffle across two aggregations") {
    val li = Scale.copartition(Tables.lineitem(spark, sf0001), "l_partkey", 8).cache()
    val a = li.groupBy("l_partkey").agg(sum("l_quantity")).count()
    val b = li.groupBy("l_partkey").agg(avg("l_extendedprice")).count()
    assert(a == b)
    li.unpersist()
  }

  test("tokenShards matches a window running-sum reference") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sf0001).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok"))
    val got = Scale.tokenShards(docs, "doc_id", "n_tok", budgetTokens = 2000L)
      .select($"doc_id", $"shard_id")
    // single-partition window is fine at test scale; it is exactly the
    // semantics the distributed prefix sum must reproduce
    val w = Window.orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs
      .withColumn("sum_before", coalesce(sum($"n_tok").over(w), lit(0L)))
      .select($"doc_id", expr("sum_before DIV 2000").as("shard_id"))
    assert(got.except(ref).count() == 0 && ref.except(got).count() == 0)
  }

  test("tokenShards: shards are monotone and respect the budget bound") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok"))
    val got = Scale.tokenShards(docs, "doc_id", "n_tok", budgetTokens = 2000L)
    // monotone non-decreasing shard ids in doc_id order
    val pairs = got.select($"doc_id", $"shard_id")
      .orderBy($"doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.sliding(2).forall {
      case Array((_, s1), (_, s2)) => s1 <= s2; case _ => true })
    // every shard's token sum stays under budget + one max-doc overshoot
    val maxDoc = docs.agg(max($"n_tok")).head().getLong(0)
    val over = got.groupBy($"shard_id").agg(sum($"n_tok").as("s"))
      .filter($"s" > lit(2000L + maxDoc)).count()
    assert(over == 0)
  }

  test("tokenShards: prefix stability — appending rows never re-shards old ones") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok"))
    val full = Scale.tokenShards(docs, "doc_id", "n_tok", 2000L)
      .select($"doc_id", $"shard_id")
    val prefix = Scale.tokenShards(docs.filter($"doc_id" < 250), "doc_id", "n_tok", 2000L)
      .select($"doc_id", $"shard_id".as("shard_id2"))
    assert(full.join(prefix, "doc_id")
      .filter($"shard_id" =!= $"shard_id2").count() == 0)
  }

  test("tokenShards: null token counts count as zero") {
    val df = Seq((1L, Option(5L)), (2L, Option.empty[Long]), (3L, Option(7L)))
      .toDF("id", "tok")
    val got = Scale.tokenShards(df, "id", "tok", budgetTokens = 4L)
      .select($"id", $"shard_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cumsum-before: id1=0 -> shard 0; id2=5 -> 1; id3=5 (null adds 0) -> 1
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("packSequences: chunks tile every doc and every sequence exactly") {
    val docs = Tables.documents(spark, sf0001).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok")).cache()
    val L = 512L
    val got = Scale.packSequences(docs, "doc_id", "n_tok", seqLen = L).cache()
    // per-doc: chunk lengths sum to n_tok, doc_offs tile [0, n_tok)
    assert(got.groupBy($"doc_id", $"n_tok")
      .agg(sum($"chunk_len").as("s"), min($"doc_off").as("o0"),
        max($"doc_off" + $"chunk_len").as("o1"))
      .filter($"s" =!= $"n_tok" || $"o0" =!= 0L || $"o1" =!= $"n_tok")
      .count() == 0)
    // per-sequence: chunks tile [0, L) exactly — sum of lengths == L
    // and offsets contiguous — for every sequence but the last
    val lastSeq = got.agg(max($"seq_id")).head().getLong(0)
    assert(got.filter($"seq_id" < lastSeq).groupBy($"seq_id")
      .agg(sum($"chunk_len").as("s"), min($"seq_off").as("o0"),
        max($"seq_off" + $"chunk_len").as("o1"))
      .filter($"s" =!= L || $"o0" =!= 0L || $"o1" =!= L)
      .count() == 0)
    // total token conservation
    val tot = docs.agg(sum($"n_tok")).head().getLong(0)
    assert(got.agg(sum($"chunk_len")).head().getLong(0) == tot)
    // partitioning-invariant: same index under a different partition count
    val alt = Scale.packSequences(docs, "doc_id", "n_tok", L, partitions = 7)
    assert(got.select($"doc_id", $"seq_id", $"doc_off", $"seq_off", $"chunk_len")
      .except(alt.select($"doc_id", $"seq_id", $"doc_off", $"seq_off", $"chunk_len"))
      .count() == 0)
    got.unpersist(); docs.unpersist()
  }

  test("packSequences: zero/null-token docs are dropped, short corpus packs to one seq") {
    val df = Seq((1L, Option(100L)), (2L, Option(0L)), (3L, Option.empty[Long]),
      (4L, Option(50L))).toDF("id", "tok")
    val got = Scale.packSequences(df, "id", "tok", seqLen = 512L)
      .select($"id", $"seq_id", $"doc_off", $"seq_off", $"chunk_len")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 0L, 0L, 0L, 100L), (4L, 0L, 0L, 100L, 50L)))
  }

  test("bloomPrefilteredJoin: result equals the plain join, probe sits below the join") {
    // Range source, not a local Seq: ConvertToLocalRelation would fold
    // the probe filter into the LocalTableScan at optimization time
    // and there would be nothing left to pin
    val fact = spark.range(5000).selectExpr("id % 500 AS k", "id AS payload")
    val dim = Seq((7L, "a"), (13L, "b"), (400L, "c")).toDF("dk", "tag")
    val got = Scale.bloomPrefilteredJoin(fact, dim, "k", "dk",
        expectedDimKeys = 100L)
      .select($"k", $"payload", $"tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = fact.join(dim, $"k" === $"dk")
      .select($"k", $"payload", $"tag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want, "prefilter must be result-invisible")
    assert(want.size == 30) // 3 keys x 10 fact rows each
    // plan shape: the might_contain filter runs on the fact side
    // BELOW the join — that is the whole point of the prefilter
    val p = Scale.bloomPrefilteredJoin(fact, dim, "k", "dk", 100L)
      .queryExecution.executedPlan.toString
    val probeIdx = p.indexOf("might_contain")
    val joinIdx = p.indexOf("Join")
    assert(probeIdx >= 0, p)
    assert(joinIdx >= 0 && joinIdx < probeIdx,
      s"probe must be under the join (join@$joinIdx probe@$probeIdx):\n$p")
  }

  test("bloomPrefilteredJoin construction runs no Spark job (lazy sketch)") {
    // the sketch is a scalar subquery inside the plan, not an eager
    // .head() at call time — building the query must launch nothing.
    // Job submission is synchronous from the calling thread, so the
    // statusTracker's job-id set is stable across a lazy construction.
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).toSet
    val fact = spark.range(1000).selectExpr("id AS k", "id AS payload")
    val dim = spark.range(10).selectExpr("id AS dk")
    Scale.bloomPrefilteredJoin(fact, dim, "k", "dk", 100L)
    val after = tracker.getJobIdsForGroup(null).toSet
    assert(after == before,
      s"plan construction launched job(s): ${(after -- before).mkString(",")}")
  }

  test("AQE splits a pathologically skewed join partition at runtime") {
    // one key carries ~97% of the probe side — the moderate-skew case
    // AQE's skew-join handles without explicit salting. Thresholds are
    // lowered so local-scale data triggers the same mechanism that
    // fires at the default 256 MB on a cluster.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val probe = spark.range(100000)
        .select(when($"id" % 100 =!= 0, lit(0L)).otherwise($"id").as("k"),
          $"id".as("v"))
      val build = spark.range(200).select($"id".as("k"), ($"id" * 2).as("w"))
      val joined = probe.join(build, "k")
      // execute THIS queryExecution (count() would plan a separate
      // query and leave this one un-run, isFinalPlan=false)
      assert(joined.collect().nonEmpty)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("AQEShuffleRead skewed")
          && finalPlan.contains("skew=true"),
        "expected a skew-split SortMergeJoin over AQEShuffleRead:\n" + finalPlan)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("saltedCollect equals the direct form, any salt") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 5000).map(_ =>
      (s"k${rnd.nextInt(3)}", rnd.nextInt(40).toLong))
    val df = rows.toDF("k", "v").cache()
    val direct = df.groupBy($"k")
      .agg(sort_array(collect_list($"v")).as("values"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    for (salt <- Seq(1, 4, 16)) {
      val salted = Scale.saltedCollect(df, "k", $"v", salt = salt)
        .collect().map(r => (r.getString(0), r.getSeq[Long](1), r.getLong(2)))
      salted.foreach { case (k, vs, n) =>
        assert(vs == direct(k), s"salt=$salt key=$k")
        assert(n == vs.size)
      }
    }
  }

  test("saltedCollect distinct form: set semantics, value-hashed salt dedups early") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L),
      ("b", 9L), ("b", 9L)).toDF("k", "v")
    val out = Scale.saltedCollect(df, "k", $"v", distinct = true, salt = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getSeq[Long](1), r.getLong(2)))).toMap
    assert(out("a") == ((Seq(1L, 2L, 3L), 3L)))
    assert(out("b") == ((Seq(9L), 1L)))
  }
}
