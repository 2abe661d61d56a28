package graft

import java.nio.file.{Files, Paths}

/** `Tables.table`'s per-session schema cache: a repeated read skips
  * the footer job, a rewritten file is inferred again, and every read
  * is still a fresh relation. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("a second read of a table starts no Spark job and returns an equal schema") {
    // a private copy, so the first read below is this session's first
    val dir = Files.createTempDirectory("tables_schema").toString
    Files.copy(Paths.get(sf0001, "orders.parquet"), Paths.get(dir, "orders.parquet"))
    val (first, firstJobs) = jobsDuring(Tables.orders(spark, dir))
    val (second, secondJobs) = jobsDuring(Tables.orders(spark, dir))
    assert(firstJobs >= 1, "the first read infers the schema with a job")
    assert(secondJobs == 0, s"the second read ran $secondJobs jobs")
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = Files.createTempDirectory("tables_rewrite").toString
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((2L, 3.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val reread = Tables.table(spark, dir, "t")
    assert(reread.columns.toSeq == Seq("id", "x", "flag"))
    assert(reread.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }

  test("two reads of lineitem self-join on l_orderkey like two distinct relations") {
    val a = Tables.lineitem(spark, sf0001)
    val b = Tables.lineitem(spark, sf0001)
    val joined = a.join(b, a("l_orderkey") === b("l_orderkey"))
    // hand count over one collected read: every pair of lines of an
    // order, and those with the left line number below the right one
    // (DuckDB gives 30016 and 10324 on sf0.001); two reads sharing one
    // relation would make both conditions trivially true or false
    val orders = a.select("l_orderkey", "l_linenumber").as[(Long, Int)]
      .collect().groupBy(_._1).values
    assert(joined.count() == orders.map(g => g.length.toLong * g.length).sum)
    assert(joined.filter(a("l_linenumber") < b("l_linenumber")).count() ==
      orders.map(g => g.map(x => g.count(_._2 > x._2).toLong).sum).sum)
  }
}
