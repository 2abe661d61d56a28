package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.Quality

class QualitySpec extends SparkSpec {
  import spark.implicits._

  test("regexp_extract_or_null: NULL on non-match (Pig semantics), value on match") {
    val df = Seq("Brand#13", "Brand#5", "", "nope").toDF("code")
      .withColumn("m", regexp_extract_or_null($"code", "^(Brand#\\d{2})$"))
    val got = df.select($"code", $"m").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("Brand#13") == "Brand#13")
    assert(got("Brand#5") == null)
    assert(got("") == null)
    assert(got("nope") == null)
  }

  test("regexp_extract_or_null registered for SQL") {
    val n = spark.sql(
      "SELECT regexp_extract_or_null('ab12', '^([a-z]+)\\\\d+$') AS m").collect()(0).getString(0)
    assert(n == "ab")
    assert(spark.sql("SELECT regexp_extract_or_null('123', '^([a-z]+)$') AS m")
      .collect()(0).isNullAt(0))
  }

  test("invalidCodeReport finds single-digit brands on sf0.001") {
    val rpt = Quality.invalidCodeReport(
      Tables.part(spark, sf0001), "p_brand", "^(Brand#\\d{2})$").collect()
    assert(rpt.nonEmpty)
    // every reported brand really is single-digit
    assert(rpt.forall(_.getString(0).matches("Brand#\\d")))
    // counts are positive
    assert(rpt.forall(_.getLong(1) > 0))
  }

  test("profile counts nulls and empties") {
    val df = Seq(("a", Some(1)), ("", Some(2)), (null, None)).toDF("s", "i")
    val row = Quality.profile(df, Seq("s", "i")).collect()(0)
    val m = row.schema.fieldNames.zip(row.toSeq).toMap
    assert(m("s_rows") == 3L && m("s_nulls") == 1L && m("s_empty") == 1L)
    assert(m("i_nulls") == 1L)
  }

  test("q1_agg matches hand-computed aggregate on sf0.001") {
    val li = Tables.lineitem(spark, sf0001)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
    val expectRows = li.count()
    val got = SparkEntry.queries("q1_agg")(spark, sf0001).collect()
    assert(got.map(_.getLong(5)).sum == expectRows)
    // sum_qty is exact: quantities are integral doubles
    val sumQty = li.agg(sum($"l_quantity")).collect()(0).getDouble(0)
    assert(math.abs(got.map(_.getDouble(2)).sum - sumQty) < 1e-6)
  }

  test("tagOutliers: Tukey fences flag exactly the planted extremes") {
    // group a: 1..20 plus planted 1000 and -1000; group b: all-equal
    // (IQR 0 => only values != the constant are outliers; here none)
    val rows = (1 to 20).map(v => ("a", v.toDouble)) ++
      Seq(("a", 1000.0), ("a", -1000.0)) ++ (1 to 10).map(_ => ("b", 5.0))
    val df = rows.toDF("g", "v")
    val got = Quality.tagOutliers(df, "g", $"v")
      .filter($"is_outlier").select($"g", $"v").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(got == Set(("a", 1000.0), ("a", -1000.0)))
    // row count preserved (join-back fans nothing out)
    assert(Quality.tagOutliers(df, "g", $"v").count() == rows.length)
    // sketch path agrees on this small data (exact while uncompressed)
    val approx = Quality.tagOutliers(df, "g", $"v", exact = false)
      .filter($"is_outlier").select($"g", $"v").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(approx == got)
    // no internal column leaks into the output
    assert(!Quality.tagOutliers(df, "g", $"v").columns.exists(_.startsWith("__")))
  }

  test("expect: one-scan suite counts planted violations, NULLs violate, unique counts dupes") {
    import graft.operators.Quality.Expectation
    val df = Seq(
      (Option(1L), Option(5.0), "A"),
      (Option(2L), Option(500.0), "A"),   // between violation
      (Option(2L), None, "B"),            // null value violates between; dup id
      (None, Option(7.0), "Z"))           // null id; Z not in set
      .toDF("id", "v", "flag")
    val got = Quality.expect(df, Seq(
        Expectation.notNull("id"),
        Expectation.between("v", 0, 100),
        Expectation.inSet("flag", Seq("A", "B")),
        Expectation.unique("id")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(got("id is not null") == ((1L, false)))
    assert(got("v between 0 and 100") == ((2L, false)), got)
    assert(got("flag in {A,B}") == ((1L, false)))
    // count - count_distinct over NON-NULL ids: 3 - 2 = 1
    assert(got("id is unique") == ((1L, false)))
    // an all-green suite reports passed = true
    val clean = Quality.expect(df.filter($"id" === 1L),
      Seq(Expectation.notNull("id"), Expectation.unique("id")))
      .collect().map(r => r.getBoolean(2))
    assert(clean.forall(identity))
    // foreign key: id 1 exists in the dim, 2 is an orphan (x2 rows),
    // the NULL id is not an FK violation (that's notNull's job)
    val dim = Seq(Tuple1(1L)).toDF("ref_id")
    val fk = Quality.expect(df, Seq(
        Expectation.foreignKey("id", "dim", dim, "ref_id")))
      .collect().map(r => (r.getLong(1), r.getBoolean(2))).head
    assert(fk == ((2L, false)), fk.toString)
  }

  test("tagOutliers and imputeWithGroupMedian preserve rows whose group key is NULL") {
    val df = Seq((Option("a"), Option(1.0)), (Option("a"), Option(100.0)),
      (None: Option[String], Option(7.0)), (None: Option[String], None: Option[Double]))
      .toDF("g", "v")
    val tagged = Quality.tagOutliers(df, "g", $"v")
    assert(tagged.count() == 4, "null-group rows must survive tagging")
    assert(tagged.filter($"g".isNull).select($"is_outlier").collect()
      .forall(_.isNullAt(0)), "null-group rows carry is_outlier = NULL")
    val imputed = Quality.imputeWithGroupMedian(df, "g", "v")
    assert(imputed.count() == 4, "null-group rows must survive imputation")
    // null-group null value stays null (no fences/median to impute from)
    assert(imputed.filter($"g".isNull && $"v_was_null")
      .select($"v_imputed").head().isNullAt(0))
  }

  test("equiWidthHistogram: complete grid, conservation, closed top edge, degenerate input") {
    val df = (Seq.fill(5)(0.0) ++ Seq(9.9, 10.0) ++ Seq.fill(3)(5.0)).toDF("v")
    val h = Quality.equiWidthHistogram(df, $"v", 10)
      .orderBy($"bin").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(h.length == 10)                       // every bin present
    assert(h.map(_._4).sum == 10)                // all rows binned
    assert(h(0)._4 == 5 && h(5)._4 == 3)         // 0.0s and 5.0s
    assert(h(9)._4 == 2)                         // 9.9 and max=10.0 share the top bin
    assert(h(0)._2 == 0.0 && h(9)._3 == 10.0)    // edges span [min, max]
    assert(h.count(_._4 == 0L) == 7)             // empty bins explicit
    // single distinct value: everything lands in bin 0, no div-by-zero
    val one = Seq(7.0, 7.0, 7.0).toDF("v")
    val h1 = Quality.equiWidthHistogram(one, $"v", 4).orderBy($"bin").collect()
    assert(h1.map(_.getLong(3)).sum == 3 && h1(0).getLong(3) == 3)
  }

  test("imputeWithGroupMedian fills nulls with the group's non-null median") {
    val df = Seq(("a", Option(1.0)), ("a", Option(3.0)), ("a", None),
      ("b", Option(10.0)), ("b", None)).toDF("g", "v")
    val got = Quality.imputeWithGroupMedian(df, "g", "v")
      .select($"g", $"v_imputed", $"v_was_null").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getBoolean(2)))
    // group a median of {1,3} = 2.0; group b median of {10} = 10.0
    assert(got.filter(t => t._1 == "a" && t._3).map(_._2).toSeq == Seq(2.0))
    assert(got.filter(t => t._1 == "b" && t._3).map(_._2).toSeq == Seq(10.0))
    // non-null rows unchanged, row count preserved
    assert(got.count(!_._3) == 3 && got.length == 5)
    assert(got.filter(t => t._1 == "a" && !t._3).map(_._2).sorted.toSeq == Seq(1.0, 3.0))
  }

  test("driftReport: exact verdicts, zero rows for empty buckets, clamped tails") {
    import org.apache.spark.sql.functions.col
    // A: 40 rows uniform over buckets 0-3; B: same except bucket 3's
    // mass moved to bucket 0 (and one out-of-range value clamps up)
    val a = ((0 until 40).map(i => i % 4 * 10 + 1)).toDF("v") // buckets 0..3
    val b = ((0 until 30).map(i => i % 3 * 10 + 1) ++
      Seq.fill(9)(1) :+ 99).toDF("v") // bucket 3 empty, 0 inflated; 99 clamps to 3
    val got = Quality.driftReport(a, b, col("v"), lo = 1, width = 10,
        nBuckets = 4, thresholdPpm = 100000L) // 10% threshold
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // A: 10 per bucket (25% each). B: bucket0 = 19 (47.5%), buckets
    // 1,2 = 10 (25%), bucket3 = 1 (2.5% — the clamped 99); bucket -1
    // (the NULL bucket) is present-but-empty on both sides
    assert(got.toSeq == Seq((-1L, 0L, 0L, false),
      (0L, 10L, 19L, true), (1L, 10L, 10L, false),
      (2L, 10L, 10L, false), (3L, 10L, 1L, true)), got.mkString(","))
    // identical samples: nothing drifts, empty buckets materialize as 0s
    val z = Quality.driftReport(a, a, col("v"), lo = 1, width = 10,
        nBuckets = 6).collect()
    assert(z.length == 7 && z.forall(!_.getBoolean(3)))
    assert(z.count(r => r.getLong(1) == 0 && r.getLong(2) == 0) == 3)
  }

  test("driftReport: NULLs land in bucket -1 and count into the totals") {
    import org.apache.spark.sql.functions.col
    val a = (0 until 40).map(i => Option(i % 4 * 10 + 1)).toDF("v")
    // B: half the rows go NULL — every surviving bucket keeps its
    // RELATIVE mix, so only the NULL influx itself can flag drift
    val b = ((0 until 20).map(i => Option(i % 4 * 10 + 1)) ++
      Seq.fill[Option[Int]](20)(None)).toDF("v")
    val got = Quality.driftReport(a, b, col("v"), lo = 1, width = 10,
        nBuckets = 4, thresholdPpm = 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    // NULL bucket: 0% -> 50% (drifts); data buckets: 25% -> 12.5%
    // each (drifts too — the denominator includes the NULLs)
    assert(got.toSeq == Seq((-1L, 0L, 20L, true), (0L, 10L, 5L, true),
      (1L, 10L, 5L, true), (2L, 10L, 5L, true), (3L, 10L, 5L, true)),
      got.mkString(","))
  }

  test("driftReportCategorical: vanished and new categories surface as drifted rows") {
    import org.apache.spark.sql.functions.col
    val a = (Seq.fill(50)("en") ++ Seq.fill(40)("de") ++ Seq.fill(10)("fr"))
      .toDF("lang")
    // B: fr vanished, es appeared, en/de shares mildly reshuffled
    val b = (Seq.fill(55)("en") ++ Seq.fill(40)("de") ++ Seq.fill(5)("es"))
      .toDF("lang")
    val got = Quality.driftReportCategorical(a, b, col("lang"),
        thresholdPpm = 100000L) // 10%
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got.keySet == Set("en", "de", "fr", "es"))
    assert(got("fr") == ((10L, 0L, false)))   // 10% -> 0%: at threshold, not over
    assert(got("es") == ((0L, 5L, false)))    // 0% -> 5%: under 10%
    assert(got("de") == ((40L, 40L, false)))  // 40% both sides
    assert(got("en") == ((50L, 55L, false)))  // 50% -> 55%: exactly at, not over
    // tighter threshold flips the moved categories
    val tight = Quality.driftReportCategorical(a, b, col("lang"),
        thresholdPpm = 40000L) // 4%
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(tight == Map("en" -> true, "de" -> false, "fr" -> true,
      "es" -> true), tight.toString)
  }

  test("driftReportCategorical: NULL present in BOTH samples is one matched row") {
    import org.apache.spark.sql.functions.col
    // the null-unsafe USING-join bug emitted (20,0) and (0,20) rows
    // here, each falsely drifted; the null-safe join must produce a
    // single undrifted (20,20) row
    val a = (Seq.fill(80)(Option("en")) ++ Seq.fill[Option[String]](20)(None))
      .toDF("lang")
    val b = (Seq.fill(80)(Option("en")) ++ Seq.fill[Option[String]](20)(None))
      .toDF("lang")
    val got = Quality.driftReportCategorical(a, b, col("lang"),
        thresholdPpm = 10000L).collect()
    assert(got.length == 2, got.mkString(","))
    val nullRow = got.filter(_.isNullAt(0))
    assert(nullRow.length == 1 &&
      nullRow(0).getLong(1) == 20L && nullRow(0).getLong(2) == 20L &&
      !nullRow(0).getBoolean(3), got.mkString(","))
  }

  test("psiReport: identical samples score ~0, a shifted sample scores high") {
    import org.apache.spark.sql.functions.col
    val a = (1 to 1000).map(i => (i % 100).toLong).toDF("v")
    val shifted = (1 to 1000).map(i => (i % 100).toLong + 60L).toDF("v")
    val same = Quality.psiReport(a, a, col("v"), lo = 0L, width = 20L,
        nBuckets = 8).collect()
    // full grid, conservation, zero score against itself
    assert(same.length == 9)
    assert(same.map(_.getLong(1)).sum == 1000L)
    assert(same.map(_.getLong(3)).sum == 0L)
    val far = Quality.psiReport(a, shifted, col("v"), lo = 0L,
        width = 20L, nBuckets = 8).collect()
    // rule of thumb: > 0.25 (250000 micros) = distribution shifted
    assert(far.map(_.getLong(3)).sum > 250000L,
      s"psi=${far.map(_.getLong(3)).sum}")
    // every contribution is non-negative (p-q and ln(p/q) share sign)
    assert(far.forall(_.getLong(3) >= 0L))
  }

  test("benfordReport: geometric data conforms, uniform data deviates") {
    import org.apache.spark.sql.functions.col
    // log-uniform (multi-magnitude) values follow Benford closely
    val rnd = new scala.util.Random(13)
    val geo = (1 to 20000).map(_ =>
      math.round(math.pow(10.0, 1 + rnd.nextDouble() * 5)))
    val conforms = Quality.benfordReport(geo.toDF("v"), col("v")).collect()
    assert(conforms.length == 9)
    assert(conforms.map(_.getLong(1)).sum == 20000L)
    val devGeo = conforms.map(_.getLong(4)).sum
    assert(devGeo < 40000L, s"geometric dev=$devGeo ppm") // < 4% total
    // uniform-in-[10000, 20000): every value starts with 1 — maximal
    // first-digit fraud signature
    val uni = (1 to 5000).map(i => 10000L + (i % 10000))
    val dev = Quality.benfordReport(uni.toDF("v"), col("v")).collect()
      .map(_.getLong(4)).sum
    assert(dev > 1000000L, s"uniform dev=$dev ppm")
    // zero and negative values are excluded, digits stay 1..9
    val mixed = Seq(-5L, 0L, 123L, 999L).toDF("v")
    val m = Quality.benfordReport(mixed, col("v")).collect()
    assert(m.map(_.getLong(1)).sum == 2L)
  }

  test("woeReport: separating feature scores high IV, useless feature ~0") {
    import org.apache.spark.sql.functions.col
    // bad rows concentrate in high buckets: strong separation
    val rows = (1 to 500).map { i =>
      val bad = i % 5 == 0
      (if (bad) 80L + (i % 20) else (i % 40).toLong, bad)
    }
    val strong = Quality.woeReport(rows.toDF("v", "bad"), col("v"),
        col("bad"), lo = 0L, width = 10L, nBuckets = 10).collect()
    assert(strong.length == 11) // full grid incl. the NULL bucket
    assert(strong.map(_.getLong(1)).sum == 400L)
    assert(strong.map(_.getLong(2)).sum == 100L)
    assert(strong.map(_.getLong(4)).sum > 300000L, // IV > 0.3: strong
      s"iv=${strong.map(_.getLong(4)).sum}")
    // same marginal in both classes: v = i mod 8 and bad = (i mod 5)
    // are exactly independent over a full mod-40 period (CRT), so IV
    // collapses to the smoothing floor
    val none = (1 to 400).map(i => ((i % 8).toLong * 10, i % 5 == 0))
    val weak = Quality.woeReport(none.toDF("v", "bad"), col("v"),
        col("bad"), lo = 0L, width = 10L, nBuckets = 10).collect()
    assert(weak.map(_.getLong(4)).sum < 20000L, // IV < 0.02: useless
      s"iv=${weak.map(_.getLong(4)).sum}")
    // IV contributions are non-negative (share gap and WOE share sign)
    assert(strong.forall(_.getLong(4) >= 0L))
  }

  test("winsorize: rank-based bounds clip tails, NULLs pass, rows preserved") {
    import org.apache.spark.sql.functions.col
    val rows = (1 to 100).map(i => ("g", Some(i.toDouble))) :+
      (("g", Option.empty[Double])) :+ (("g", Some(-500.0)))
    val df = rows.toDF("grp", "v")
    val out = Quality.winsorize(df, "grp", "v", pLo = 0.05, pHi = 0.95)
      .collect()
    assert(out.length == 102) // row-preserving
    val clipped = out.filter(_.getAs[Boolean]("v_clipped"))
    // -500 clips up to the lower bound; 1..5ish clip too; 96+ clip down
    assert(clipped.nonEmpty)
    assert(out.forall { r =>
      r.isNullAt(r.fieldIndex("v")) ||
        (r.getAs[Double]("v_wins") >= out.flatMap(x =>
          Option(x.getAs[Double]("v_wins"))).min)
    })
    // NULL value passes through unclipped with a false flag
    val nullRow = out.filter(_.isNullAt(1)).head
    assert(nullRow.isNullAt(nullRow.fieldIndex("v_wins")))
    assert(!nullRow.getAs[Boolean]("v_clipped"))
    // winsorized column never exceeds the 95th-rank value
    val vs = (1 to 100).map(_.toDouble) :+ -500.0
    val hi = vs.sorted.apply(math.ceil(0.95 * vs.length).toInt - 1)
    assert(out.filter(!_.isNullAt(1))
      .forall(_.getAs[Double]("v_wins") <= hi))
  }

  test("tagOutliersMad flags the far spike Tukey misses under a fat tail") {
    import org.apache.spark.sql.functions.col
    // tight cluster + one extreme value: MAD stays tiny, so the spike
    // flags; and a >50%-identical group abstains (mad = 0)
    val rows = ((1 to 50).map(i => ("g", 100.0 + (i % 5))) :+ ("g", 10000.0)) ++
      (1 to 20).map(_ => ("h", 7.0)) :+ ("h", 7.5)
    val df = rows.toDF("grp", "v")
    val out = Quality.tagOutliersMad(df, "grp", col("v"))
      .collect().map(r => (r.getString(0), r.getDouble(1),
        r.getAs[Boolean]("is_outlier")))
    assert(out.count { case (g, v, o) => g == "g" && v == 10000.0 && o } == 1)
    assert(out.count { case (g, _, o) => g == "g" && o } == 1)
    // zero-MAD group abstains entirely rather than flagging 7.5
    assert(out.filter(_._1 == "h").forall(!_._3))
  }

  test("wassersteinBinned: zero on identical, exact one-bucket shift, NULLs costless") {
    import org.apache.spark.sql.functions.col
    def buckets(bs: Seq[Int]) = bs.map(b => b * 10 + 1).toDF("v")
    val a = buckets(Seq.tabulate(40)(_ % 4))        // uniform 0..3
    val b = buckets(Seq.tabulate(40)(i => i % 4 + 1)) // shifted +1 bucket
    val shifted = Quality.wassersteinBinned(a, b, col("v"),
      lo = 0L, width = 10L, nBuckets = 8).collect().head
    // every one of 40 units moved exactly one bucket: W1 = width
    assert((shifted.getLong(0), shifted.getLong(1), shifted.getLong(2)) ==
      ((40L, 40L, 10000000L)), shifted.toString)
    // identical samples: zero transport
    assert(Quality.wassersteinBinned(a, a, col("v"),
      0L, 10L, 8).collect().head.getLong(2) == 0L)
    // NULL values carry no transport cost (and don't count in n)
    val withNull = a.union(Seq.fill(5)(Option.empty[Int]).toDF("v"))
    assert(Quality.wassersteinBinned(withNull, a, col("v"),
      0L, 10L, 8).collect().head.getLong(0) == 40L)
  }

  test("modePerGroup: argmax with smallest-value ties; NULLs excluded") {
    import org.apache.spark.sql.functions.col
    val df = Seq(("g", Option("b")), ("g", Option("b")), ("g", Option("a")),
      ("g", Option("a")), ("g", Option("c")),
      ("h", Option("z")), ("h", None: Option[String]), ("h", None))
      .toDF("grp", "v")
    val got = Quality.modePerGroup(df, "grp", col("v"))
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(2)))).toMap
    // g: a and b tie at 2 — smallest value wins
    assert(got("g") == (("a", 2L)), got.toString)
    // h: NULLs excluded, z (count 1) is the mode
    assert(got("h") == (("z", 1L)))
  }

  test("winsorizedMean: clipped integer sum, guard and approx knob inherited") {
    import org.apache.spark.sql.functions.col
    val df = ((1 to 100).map(i => ("g", i.toLong)) :+ (("g", 100000L)))
      .toDF("grp", "cents")
    val got = Quality.winsorizedMean(df, "grp", col("cents"))
      .collect().head
    val (n, lo, hi) = (got.getLong(1), got.getLong(2), got.getLong(3))
    assert(n == 101L)
    // rank bounds: p05 over 101 values -> 6th smallest = 6;
    // p95 -> 96th = 96 (the 100000 spike clips to 96)
    assert(lo == 6L && hi == 96L, s"lo=$lo hi=$hi")
    val clipped = ((1 to 100).map(_.toLong) :+ 100000L)
      .map(v => math.min(math.max(v, lo), hi))
    assert(got.getLong(4) ==
      math.round(clipped.sum.toDouble / clipped.length * 1e6))
    // the family guard applies here too
    val e = intercept[IllegalArgumentException] {
      Quality.winsorizedMean(df, "grp", col("cents"),
        maxExactGroupRows = 50L).collect()
    }
    assert(e.getMessage.contains("cap 50"))
    // bounded path is exempt and sane (approx is exact at this size)
    val approx = Quality.winsorizedMean(df, "grp", col("cents"),
      exact = false, maxExactGroupRows = 50L).collect().head
    assert(approx.getLong(1) == 101L &&
      math.abs(approx.getLong(2) - 6L) <= 1L)
  }

  test("kAnonymity: class-size histogram, risky flag, NULL QI forms its own class") {
    val rows = Seq.fill(5)(("a", Option(1))) ++ Seq.fill(2)(("b", Option(1))) ++
      Seq.fill(2)(("c", Option(2))) :+ (("d", Option(2))) :+
      (("d", Option.empty[Int]))
    val got = Quality.kAnonymity(rows.toDF("qi1", "qi2"),
        Seq("qi1", "qi2"), k = 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // sizes: 5 -> one class; 2 -> two classes (b,1) and (c,2);
    // 1 -> two classes (d,2) and (d,NULL) — the NULL combination is
    // still a fingerprint
    assert(got == Map(
      5L -> ((1L, 5L, false)),
      2L -> ((2L, 4L, true)),
      1L -> ((2L, 2L, true))), got.toString)
    // row conservation
    assert(got.values.map(_._2).sum == rows.length)
  }

  test("chiSquare: closed-form 2x2, complete grid with zero cells, category cap trips") {
    import org.apache.spark.sql.functions.col
    // classic 2x2: chi2 = 20 exactly; each cell contributes 5 (d=±800,
    // (d/80)·(d/1600) = 5 for every cell)
    val rows = Seq.fill(30)(("a", "p")) ++ Seq.fill(10)(("a", "q")) ++
      Seq.fill(10)(("b", "p")) ++ Seq.fill(30)(("b", "q"))
    val got = Quality.chiSquare(rows.toDF("x", "y"), col("x"), col("y"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got.size == 4)
    assert(got(("a", "p")) == ((30L, 5000000L)), got.toString)
    assert(got(("b", "q")) == ((30L, 5000000L)))
    assert(got.values.map(_._2).sum == 20000000L) // chi2 = 20
    // a category pair never observed together still gets a grid cell
    // with n = 0 and a POSITIVE contribution (its absence is evidence)
    val rows3 = rows ++ Seq.fill(10)(("c", "p"))
    val g3 = Quality.chiSquare(rows3.toDF("x", "y"), col("x"), col("y"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(g3.size == 6)
    assert(g3(("c", "q"))._1 == 0L && g3(("c", "q"))._2 > 0L, g3.toString)
    // independence: uniform grid scores exactly zero everywhere
    val indep = (for (x <- Seq("a", "b"); y <- Seq("p", "q");
      _ <- 1 to 5) yield (x, y)).toDF("x", "y")
    assert(Quality.chiSquare(indep, col("x"), col("y")).collect()
      .forall(_.getLong(3) == 0L))
    // guarded cross: loud failure past maxCategories
    val wide = (1 to 40).map(i => (s"x$i", "y")).toDF("x", "y")
    val e = intercept[IllegalArgumentException] {
      Quality.chiSquare(wide, col("x"), col("y"), maxCategories = 10)
    }
    assert(e.getMessage.contains("maxCategories"), e.getMessage)
  }

  test("bhFdr: step-up rescues an individually-failing rank; p-value polynomial sane") {
    import org.apache.spark.sql.functions.{col, lit}
    // sorted p (micros): 5000, 40000, 49000 at alpha=0.05, m=3:
    // rank 1: 15000 <= 50000 ok; rank 2: 120000 > 100000 FAILS alone;
    // rank 3: 147000 <= 150000 ok -> step-up rejects ALL THREE
    val battery = Seq(("a", 5000L), ("b", 40000L), ("c", 49000L))
      .toDF("metric", "p")
    val got = Quality.bhFdr(battery, "metric", col("p"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getAs[Boolean]("rejected")))).toMap
    assert(got == Map("a" -> ((1L, true)), "b" -> ((2L, true)),
      "c" -> ((3L, true))), got.toString)
    // a clearly null battery: nothing rejected
    val nulls = Seq(("a", 400000L), ("b", 700000L), ("c", 900000L))
      .toDF("metric", "p")
    assert(Quality.bhFdr(nulls, "metric", col("p"))
      .filter(col("rejected")).count() == 0L)
    // the A&S polynomial: p(0) = 1, p(1.96) ~ 0.05, p(5) ~ 0
    val zs = Seq(0.0, 1.959964, 5.0).toDF("z")
    val ps = zs.select(org.apache.spark.sql.functions.round(
        Quality.pValueTwoSidedZ(col("z")) * 1e6).cast("long").as("p"))
      .collect().map(_.getLong(0))
    assert(ps(0) == 1000000L, ps.toSeq.toString)
    assert(math.abs(ps(1) - 50000L) <= 5L, ps.toSeq.toString)
    assert(ps(2) <= 2L, ps.toSeq.toString)
    intercept[IllegalArgumentException] {
      Quality.bhFdr(battery, "metric", col("p"), alphaMicros = 0L)
    }
  }

  test("fdViolations: held FD is empty, violations report counts, NULL counts as a value") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("a", 1L, "x"), ("a", 1L, "x"),            // a -> 1, consistent
      ("b", 2L, "x"), ("b", 3L, "x"),            // b -> {2,3}: violation
      ("c", 4L, "y"), ("c", 4L, "y"), ("c", 4L, "y")) // consistent
      .toDF("k", "v", "z")
    // held FD ((k,v) -> z: every pair maps to one z): empty result IS
    // the proof
    assert(Quality.fdViolations(df, Seq("k", "v"), col("z")).count() == 0L)
    val viol = Quality.fdViolations(df, Seq("k"), col("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(viol == Map("b" -> ((2L, 2L))), viol.toString)
    // NULL dependent counts as its own value: one real value + NULLs
    // reads 2 distinct — a violation
    val withNull = Seq(("d", Some(5L)), ("d", None)).toDF("k", "v")
    val nv = Quality.fdViolations(withNull, Seq("k"), col("v"))
      .collect()
    assert(nv.length == 1 && nv.head.getLong(2) == 2L, nv.mkString(","))
    intercept[IllegalArgumentException] {
      Quality.fdViolations(df, Seq.empty, col("v"))
    }
  }

  test("lDiversity: diversity histogram, risky flag, all-NULL sensitive reads 1 not 0") {
    import org.apache.spark.sql.functions.col
    // class A: 3 rows, 3 distinct sensitive; class B: 4 rows, 1 value;
    // class C: 2 rows, both NULL sensitive -> diversity 1 (the NULL
    // bucket), never 0
    val rows = Seq(("A", Option(1)), ("A", Option(2)), ("A", Option(3)),
      ("B", Option(7)), ("B", Option(7)), ("B", Option(7)), ("B", Option(7)),
      ("C", Option.empty[Int]), ("C", Option.empty[Int]))
    val got = Quality.lDiversity(rows.toDF("qi", "s"), Seq("qi"),
        col("s"), l = 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == Map(
      3L -> ((1L, 3L, false)),
      1L -> ((2L, 6L, true))), got.toString)
    // a NULL and the literal sentinel string don't collide
    val tricky = Seq(("D", Option(" null")), ("D", Option.empty[String]))
    val d = Quality.lDiversity(tricky.toDF("qi", "s"), Seq("qi"),
      col("s"), l = 2L).collect()
    assert(d.length == 1 && d.head.getLong(0) == 2L, d.toSeq.toString)
    intercept[IllegalArgumentException] {
      Quality.lDiversity(rows.toDF("qi", "s"), Seq("qi"), col("s"), l = 1L)
    }
  }

  test("inferTypes: per-candidate counts, total-coverage ladder, empty column, one pass") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some("12"), Some("1.5"), Some("$3.20"), Some("a1"), Option.empty[String]),
      (Some("-4"), Some("2"), Some("$7"), Some("99"), None),
      (None, Some("-0.25"), Some("$0.64"), Some("x"), None))
      .toDF("i", "d", "m", "s", "e")
    val got = Quality.inferTypes(df, Seq("i", "d", "m", "s", "e"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    assert(got("i") == ((2L, 2L, 0L, 0L, "int")))          // all ints
    assert(got("d") == ((3L, 1L, 2L, 0L, "decimal")))      // ints+decimals
    assert(got("m") == ((3L, 0L, 0L, 3L, "money")))
    assert(got("s") == ((3L, 1L, 0L, 0L, "string")))       // mixed stays
    assert(got("e") == ((0L, 0L, 0L, 0L, "empty")))
    intercept[IllegalArgumentException] {
      Quality.inferTypes(df, Seq.empty)
    }
  }

  test("corrMatrix: perfect +/-, independence ~0, constant NULL, one row per pair, guard") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 40).map { i =>
      (i.toLong, 2L * i + 7, -3L * i, 5L, if (i % 2 == 0) 1L else 0L)
    }.toDF("a", "b", "c", "k", "p")
    val got = Quality.corrMatrix(df, Seq(("a", col("a")), ("b", col("b")),
        ("c", col("c")), ("k", col("k"))))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(got.size == 6)
    assert(got(("a", "b")) == Some(1000000L))   // exact linear
    assert(got(("a", "c")) == Some(-1000000L))  // exact anti
    assert(got(("a", "k")) == None)             // zero variance
    assert(got(("b", "c")) == Some(-1000000L))
    // parity column vs index: near zero (alternating residual)
    val df2 = df
    val pk = Quality.corrMatrix(df2, Seq(("a", col("a")), ("p", col("p"))))
      .collect().head
    assert(math.abs(pk.getLong(2)) < 100000L, pk.toString)
    intercept[IllegalArgumentException] {
      Quality.corrMatrix(df, Seq(("a", col("a"))))
    }
  }

  test("jsDivergence: identity 0, disjoint ln2, symmetric, empty side NULL") {
    import org.apache.spark.sql.functions.col
    val a = (1 to 50).map(i => Tuple1((i % 10) * 10L)).toDF("v")
    // identical samples: JS = 0 exactly
    val same = Quality.jsDivergence(a, a, col("v"), 0L, 10L, 10)
      .collect().head
    assert(same.getLong(0) == 50L && same.getLong(2) == 0L, same.toString)
    // disjoint supports: JS = ln 2 (within integer-rounding slack)
    val lo = (1 to 40).map(_ => Tuple1(5L)).toDF("v")
    val hi = (1 to 60).map(_ => Tuple1(95L)).toDF("v")
    val d = Quality.jsDivergence(lo, hi, col("v"), 0L, 10L, 10)
      .collect().head.getLong(2)
    assert(math.abs(d - math.round(math.log(2.0) * 1e6)) <= 2L, d.toString)
    // symmetry: swapping the samples swaps only the totals
    val ab = Quality.jsDivergence(lo, hi, col("v"), 0L, 10L, 10)
      .collect().head
    val ba = Quality.jsDivergence(hi, lo, col("v"), 0L, 10L, 10)
      .collect().head
    assert(ab.getLong(2) == ba.getLong(2))
    assert(ab.getLong(0) == ba.getLong(1) && ab.getLong(1) == ba.getLong(0))
    // an empty sample has no distribution: NULL, not a phantom
    val empty = a.filter(col("v") < 0)
    assert(Quality.jsDivergence(a, empty, col("v"), 0L, 10L, 10)
      .collect().head.isNullAt(2))
  }

  test("mutualInformation: independence = 0, perfect 2x2 = ln2 micro-nats, cell accounting") {
    import org.apache.spark.sql.functions.col
    val indep = (for (x <- Seq("a", "b"); y <- Seq("p", "q");
      _ <- 1 to 5) yield (x, y)).toDF("x", "y")
    val i = Quality.mutualInformation(indep, col("x"), col("y"))
      .collect().head
    assert(i.getLong(0) == 4L && i.getLong(1) == 20L && i.getLong(2) == 0L)
    // perfect association: MI = ln(2) exactly (both cells pmi = ln 2)
    val perfect = (Seq.fill(10)(("a", "p")) ++ Seq.fill(10)(("b", "q")))
      .toDF("x", "y")
    val p = Quality.mutualInformation(perfect, col("x"), col("y"))
      .collect().head
    assert(p.getLong(0) == 2L)
    assert(p.getLong(2) == math.round(math.log(2.0) * 1e6), p.toString)
    // MI never reads as negative even when rounding nudges below zero
    val near = (Seq.fill(7)(("a", "p")) ++ Seq.fill(3)(("a", "q")) ++
      Seq.fill(7)(("b", "p")) ++ Seq.fill(3)(("b", "q"))).toDF("x", "y")
    assert(Quality.mutualInformation(near, col("x"), col("y"))
      .collect().head.getLong(2) >= 0L)
  }

  test("cramersV: perfect association = 1, independence = 0, single-category NULL") {
    import org.apache.spark.sql.functions.col
    // perfect 2x2 association: V = 1 exactly
    val perfect = (Seq.fill(10)(("a", "p")) ++ Seq.fill(10)(("b", "q")))
      .toDF("x", "y")
    val p = Quality.cramersV(perfect, col("x"), col("y")).collect().head
    assert(p.getLong(0) == 2L && p.getLong(1) == 2L && p.getLong(2) == 20L)
    assert(p.getLong(4) == 1000000L, p.toString)
    // independence: V = 0
    val indep = (for (x <- Seq("a", "b"); y <- Seq("p", "q");
      _ <- 1 to 5) yield (x, y)).toDF("x", "y")
    assert(Quality.cramersV(indep, col("x"), col("y"))
      .collect().head.getLong(4) == 0L)
    // the 2x2 closed form from the chiSquare spec: chi2 = 20, N = 80,
    // min side 2 -> V = sqrt(20/80) = 0.5
    val rows = Seq.fill(30)(("a", "p")) ++ Seq.fill(10)(("a", "q")) ++
      Seq.fill(10)(("b", "p")) ++ Seq.fill(30)(("b", "q"))
    assert(Quality.cramersV(rows.toDF("x", "y"), col("x"), col("y"))
      .collect().head.getLong(4) == 500000L)
    // a single-category side has nothing to associate: NULL
    val one = Seq(("a", "p"), ("a", "q")).toDF("x", "y")
    assert(Quality.cramersV(one, col("x"), col("y"))
      .collect().head.isNullAt(4))
  }

  test("order-statistic family: memory guard trips past the cap; approx path exempt and sane") {
    import org.apache.spark.sql.functions.col
    val df = (1 to 200).map(i => ("g", i.toDouble)).toDF("grp", "v")
    // every exact path fails LOUDLY once a group exceeds the cap
    for (run <- Seq[DataFrame => Any](
        d => Quality.tagOutliersMad(d, "grp", col("v"), maxExactGroupRows = 50L).collect(),
        d => Quality.winsorize(d, "grp", "v", maxExactGroupRows = 50L).collect(),
        d => Quality.imputeWithGroupMedian(d, "grp", "v", maxExactGroupRows = 50L).collect(),
        d => Quality.tagOutliers(d, "grp", col("v"), maxExactGroupRows = 50L).collect())) {
      val e = intercept[IllegalArgumentException](run(df))
      assert(e.getMessage.contains("cap 50"), e.getMessage)
    }
    // approx path ignores the cap (bounded sketch); values land within
    // the sketch's rank error of the exact order statistics (the
    // sketch returns ACTUAL data values, so an even-count interpolated
    // exact median can differ by up to one inter-value gap)
    val spiked = df.union(Seq(("g", 10000.0)).toDF("grp", "v"))
    val madA = Quality.tagOutliersMad(spiked, "grp", col("v"),
      exact = false, maxExactGroupRows = 50L).collect()
    assert(madA.length == 201) // row-preserving
    assert(madA.count(r => r.getDouble(1) == 10000.0 &&
      r.getAs[Boolean]("is_outlier")) == 1) // spike still flags
    val median = madA.head.getAs[Double]("median")
    assert(math.abs(median - 101.0) <= 2.0, s"approx median $median")
    val winA = Quality.winsorize(df, "grp", "v",
      exact = false, maxExactGroupRows = 50L).collect()
    assert(winA.length == 200)
    assert(winA.forall { r =>
      val w = r.getAs[Double]("v_wins"); w >= 9.0 && w <= 192.0
    }) // bounds within one rank of the exact 10/190 percentile_disc cut
    val impA = Quality.imputeWithGroupMedian(
      df.withColumn("v", when(col("v") < 3, lit(null)).otherwise(col("v"))),
      "grp", "v", exact = false, maxExactGroupRows = 50L)
    assert(impA.count() == 200 &&
      impA.filter(col("v_imputed").isNull).count() == 0)
    // opt-out: Long.MaxValue skips the pre-flight entirely
    assert(Quality.winsorize(df, "grp", "v",
      maxExactGroupRows = Long.MaxValue).count() == 200)
  }

  test("referentialOrphans: orphan/null census exact; duplicate parents never fan out") {
    val child = Seq(Option(1L), Option(1L), Option(2L), None, Option(5L))
      .toDF("k")
    val parent = Seq(1L, 1L, 2L, 3L).toDF("pk") // dup parent key
    val got = Quality.referentialOrphans(child, col("k"), parent,
      col("pk"), "child->parent").collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getString(0) == "child->parent")
    assert(r.getLong(1) == 5L, "n_rows")      // dup parent didn't fan out
    assert(r.getLong(2) == 1L, "n_null_rows") // NULL FK is not an orphan
    assert(r.getLong(3) == 1L && r.getLong(4) == 1L) // key 5
    assert(r.getLong(5) == 250000L) // 1 of 4 non-null rows
  }

  test("overdispersion: exact D hand cases, constant counts p=1, burst flags, degenerates absent") {
    import spark.implicits._
    val rows = Seq(
      ("a", 2L), ("a", 4L),              // D = (2*20-36)/6 = 2/3
      ("b", 0L), ("b", 10L),             // D = (2*100-100)/10 = 10
      ("c", 3L), ("c", 3L), ("c", 3L),   // constant: D = 0, p = 1
      ("d", 5L),                          // n < 2 -> absent
      ("e", 0L), ("e", 0L))               // S = 0 -> absent
      .toDF("g", "x")
    val got = Quality.overdispersion(rows, $"g", $"x").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(5)))).toMap
    assert(got.keySet == Set("a", "b", "c"))
    assert(got("a")._2 == 666666L)   // (4 * 1e6) div 6
    assert(got("b")._2 == 10000000L) // exactly 10
    assert(got("c") == ((3L, 0L, 1000000L)))
    // the burst group is far more suspect than the mild one
    assert(got("b")._3 < got("a")._3)
  }

  test("theilIndex: perfect equality is 0, mirrored concentrated case, additive identity, x<=0 excluded") {
    import spark.implicits._
    val equal = Seq(("a", 5L), ("a", 5L), ("b", 5L), ("b", 5L))
      .toDF("g", "x")
    val e = Quality.theilIndex(equal, $"g", $"x").collect().head
    assert((e.getLong(2), e.getLong(3), e.getLong(4)) == ((0L, 0L, 0L)))
    // one whale in its own group: mirror the per-term quantization
    val rows = Seq(("a", 10L), ("b", 1L), ("b", 1L), ("b", 1L),
      ("b", 1L), ("b", 0L)).toDF("g", "x") // the 0 row is excluded
    val r = Quality.theilIndex(rows, $"g", $"x").collect().head
    val (n, s) = (5.0, 14.0)
    def q(x: Double): Long =
      math.round(x * math.log(x * n / s) * 1e6 / s)
    val tExp = q(10.0) + 4 * q(1.0)
    def bq(sg: Double, ng: Double): Long =
      math.round(sg / s * math.log((sg / s) / (ng / n)) * 1e6)
    val bExp = bq(10.0, 1.0) + bq(4.0, 4.0)
    assert((r.getLong(0), r.getLong(1)) == ((5L, 2L)))
    assert(r.getLong(2) == tExp && r.getLong(3) == bExp)
    assert(r.getLong(4) == tExp - bExp) // additive identity, exact
    assert(r.getLong(2) > 0L && r.getLong(3) > 0L)
  }

  test("tCloseness: opposed-bucket closed form; identical groups at zero; threshold verdict") {
    // group A sits entirely in bucket 0, B entirely in bucket 9
    // (lo=0, width=10, 10 buckets): each group's W1 against the
    // pooled 50/50 global is 9 buckets x 0.5 mass x width 10 = 45
    // value units = 45e6 micros exactly
    val rows = (1 to 4).map(i => ("A", 3L)) ++ (1 to 4).map(i => ("B", 95L))
    val df = rows.toDF("g", "v")
    val got = Quality.tCloseness(df, "g", col("v"), lo = 0L,
        width = 10L, nBuckets = 10, tMicros = 40000000L)
      .orderBy(col("g")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(("A", 4L, 45000000L, true),
      ("B", 4L, 45000000L, true)), got.mkString(";"))
    // identical group distributions -> W1 exactly 0, not breached
    val same = ((1 to 3).map(i => ("A", i * 10L)) ++
      (1 to 3).map(i => ("B", i * 10L))).toDF("g", "v")
    val z = Quality.tCloseness(same, "g", col("v"), 0L, 10L, 10, 1L)
      .collect().map(r => (r.getLong(2), r.getBoolean(3)))
    assert(z.forall(_ == ((0L, false))), z.mkString(";"))
    // NULL sensitive values are excluded, not bucketed
    val withNull = (rows.map { case (g, v) => (g, Option(v)) } :+
      ("A" -> Option.empty[Long])).toDF("g", "v")
    val n = Quality.tCloseness(withNull, "g", col("v"), 0L, 10L, 10,
      40000000L).filter(col("g") === "A").head().getLong(1)
    assert(n == 4L)
  }

  test("fdDiscovery: exact g3 per ordered pair, NULLs are values, guards") {
    // a->b holds (every a maps to one b); b->a needs one deletion
    // (y determines both 2 and 3 -> keep max group = 1, g3 = 1)
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y"), (3L, "y")).toDF("a", "b")
    val got = Quality.fdDiscovery(df, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(("a", "b")) == ((4L, 0L, true)), got.toString)
    assert(got(("b", "a")) == ((4L, 1L, false)), got.toString)
    // NULL determinants form one ordinary group: NULL -> {x, y}
    // keeps its max (1) and violates by 1
    val withNull = Seq((Option(1L), "x"), (Option.empty[Long], "x"),
      (Option.empty[Long], "y")).toDF("a", "b")
    val g2 = Quality.fdDiscovery(withNull, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(g2(("a", "b")) == 1L, g2.toString)
    intercept[IllegalArgumentException] {
      Quality.fdDiscovery(df, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      Quality.fdDiscovery(df, Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      Quality.fdDiscovery(df, (1 to 9).map("c" + _))
    }
  }

  test("keyDiscovery: singles + pairs census, NULL groups count, superkeys are non-minimal") {
    // id unique (a key); a = {x,x,y,y}; b = {1,2,NULL,NULL} — the
    // NULL group makes b's census 3, not 2 (count-distinct would lie)
    val df = Seq((1L, "x", Option(1L)), (2L, "x", Option(2L)),
      (3L, "y", Option.empty[Long]), (4L, "y", Option.empty[Long]))
      .toDF("id", "a", "b")
    val got = Quality.keyDiscovery(df, Seq("id", "a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6),
        r.getBoolean(7)))).toMap
    assert(got.size == 6)
    assert(got("id") == ((1L, 4L, 4L, 0L, 1000000L, true, true)))
    assert(got("a") == ((1L, 4L, 2L, 2L, 500000L, false, false)))
    assert(got("b") == ((1L, 4L, 3L, 1L, 750000L, false, false)))
    // pairs containing the key are keys but NOT minimal
    assert(got("id,a") == ((2L, 4L, 4L, 0L, 1000000L, true, false)))
    assert(got("id,b") == ((2L, 4L, 4L, 0L, 1000000L, true, false)))
    // (a, b): combos (x,1) (x,2) (y,NULL) (y,NULL) -> 3 distinct
    assert(got("a,b") == ((2L, 4L, 3L, 1L, 750000L, false, false)))
    // a genuinely MINIMAL pair key: neither column is a key alone
    val grid = Seq((1L, "x", 1L), (2L, "x", 2L), (3L, "y", 1L),
      (4L, "y", 2L)).toDF("id", "a", "b")
    val gm = Quality.keyDiscovery(grid, Seq("a", "b")).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(6), r.getBoolean(7))))
      .toMap
    assert(gm("a,b") == ((true, true)), gm.toString)
    intercept[IllegalArgumentException] {
      Quality.keyDiscovery(df, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Quality.keyDiscovery(df, Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      Quality.keyDiscovery(df, (1 to 9).map("c" + _))
    }
  }

  test("nullCorrelation: subset missingness lifts, no-null column yields NULL lift, guards") {
    // 12 rows: a null on 1..6, b null on 1..3 (a strict subset ->
    // lift = 3*12/(6*3) = 2e6 ppm, jaccard = 3/6 = 500000), c never
    // null (lift NULL via the nullif guard, jaccard 0)
    val df = (1 to 12).map { i =>
      (if (i <= 6) Option.empty[Long] else Option(i.toLong),
        if (i <= 3) Option.empty[String] else Option("x"),
        i.toLong)
    }.toDF("a", "b", "c")
    val got = Quality.nullCorrelation(df, Seq("a", "b", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          Option(r.get(6)).map(_.asInstanceOf[Long]),
          Option(r.get(7)).map(_.asInstanceOf[Long])))).toMap
    assert(got.size == 3)
    assert(got(("a", "b")) ==
      ((12L, 6L, 3L, 3L, Some(2000000L), Some(500000L))),
      got(("a", "b")).toString)
    assert(got(("a", "c")) ==
      ((12L, 6L, 0L, 0L, None, Some(0L))), got(("a", "c")).toString)
    assert(got(("b", "c")) ==
      ((12L, 3L, 0L, 0L, None, Some(0L))), got(("b", "c")).toString)
    intercept[IllegalArgumentException] {
      Quality.nullCorrelation(df, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      Quality.nullCorrelation(df, Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      Quality.nullCorrelation(df, (1 to 9).map("c" + _))
    }
  }

  test("dq_psi_timeline: each week's PSI is psiReport of that week against the first") {
    val ev = Tables.events(spark, sf001)
      .withColumn("wk", date_trunc("week", $"ts").cast("date"))
    val timeline = SparkEntry.queries("dq_psi_timeline")(spark, sf001)
      .collect() // ordered by week
    assert(timeline.length > 1)
    val first = ev.filter($"wk" === lit(timeline.head.get(0)))
    val psi = timeline.map { r =>
      val week = ev.filter($"wk" === lit(r.get(0)))
      val rep = Quality.psiReport(week, first, round($"value" * 100),
          lo = 0L, width = 1000L, nBuckets = 10)
        .agg(sum($"n_a"), sum($"psi_micros")).head()
      assert((r.getLong(1), r.getLong(2)) == ((rep.getLong(0), rep.getLong(1))),
        s"week ${r.get(0)}")
      rep.getLong(1)
    }
    assert(psi.head == 0L && psi.exists(_ != 0L))
  }
}
