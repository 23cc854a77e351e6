package graft

import org.apache.spark.sql.functions._

/** Smoke + invariant tests for the relational operator registry. The
  * authoritative value check is the driver's DuckDB hash compare (and its
  * local replica, tools/check_oracle.py); these specs guard the contract:
  * every query runs, returns rows at the verify SF, and every query key
  * has an oracle entry (or a documented omission).
  */
class RelationalSpec extends SparkTestBase {

  test("every relational query runs and is non-empty at sf0.01") {
    ops.Relational.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfVerify)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() > 0, s"$name returned 0 rows at sf0.01")
    }
  }

  test("every relational query has an oracle") {
    val missing = ops.Relational.queries.keySet -- ops.Relational.oracle.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphans = ops.Relational.oracle.keySet -- ops.Relational.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("q01 aggregates are grouped correctly") {
    val df = ops.Relational.queries("q01_pricing_summary")(spark, sfSmoke)
    val rows = df.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).distinct.length
      == rows.length, "duplicate group keys")
  }

  test("q03 top-k is sorted descending by revenue") {
    val rev = ops.Relational.queries("q03_top_orders")(spark, sfSmoke)
      .select("revenue").collect().map(_.getDouble(0))
    assert(rev.length == 10)
    assert(rev.sliding(2).forall(p => p(0) >= p(1)), "not sorted desc")
  }

  test("q09 anti join excludes exactly the semi-join complement") {
    val c = Tables.load(spark, sfSmoke, "customer")
    val o = Tables.load(spark, sfSmoke, "orders")
      .filter(col("o_totalprice") > 300000)
    val anti = ops.Relational.queries("q09_customers_without_orders")(
      spark, sfSmoke).count()
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi").count()
    assert(anti + semi == c.count())
  }

  test("q34: the distribution accounts for every customer and every " +
      "qualifying order, including the zero-order bucket") {
    import org.apache.spark.sql.functions._
    val q34 = ops.Relational.queries("q34_order_count_distribution")(
      spark, sfVerify).cache()
    val nCust = Tables.load(spark, sfVerify, "customer").count()
    val nQualOrders = Tables.load(spark, sfVerify, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT").count()
    assert(q34.agg(sum("custdist")).collect()(0).getLong(0) == nCust,
      "every customer lands in exactly one bucket")
    assert(q34.agg(sum(col("c_count") * col("custdist"))).collect()(0)
      .getLong(0) == nQualOrders,
      "bucket-weighted counts must recover the qualifying order total")
    // the k = 0 bucket must equal the anti-join count — the row an
    // accidental inner join silently drops
    val zero = q34.filter(col("c_count") === 0)
      .collect().headOption.map(_.getLong(1)).getOrElse(0L)
    val anti = Tables.load(spark, sfVerify, "customer")
      .join(Tables.load(spark, sfVerify, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_anti").count()
    assert(zero == anti, s"zero-order bucket $zero != anti-join $anti")
    q34.unpersist()
  }

  test("q26 grouping sets: each set's subtotals sum to the grand total") {
    val rows = SparkEntry.queries("q26_grouping_sets")(spark, sfVerify)
      .collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1, "exactly one grand-total row")
    val total = grand.head.getLong(2)
    val byStatus = rows.filter(r => !r.isNullAt(0)).map(_.getLong(2)).sum
    val byPrio = rows.filter(r => !r.isNullAt(1)).map(_.getLong(2)).sum
    assert(byStatus == total && byPrio == total,
      s"subtotals $byStatus/$byPrio must both sum to $total")
  }

  test("q35: the aggregate rewrite equals the textbook exists/not-exists " +
      "formulation, computed independently via semi/anti joins") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q35_waiting_suppliers")(spark, sfVerify)
      .collect().toSeq
    assert(got.nonEmpty && got.size <= 20)
    // independent formulation: Q21's quantifiers as explicit joins
    val ord = Tables.load(spark, sfVerify, "orders")
      .filter($"o_orderstatus" === "F")
      .select($"o_orderkey", $"o_orderdate")
    val lo = Tables.load(spark, sfVerify, "lineitem")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"l_suppkey")
      .agg(max(when($"l_shipdate" >
          $"o_orderdate" + expr("INTERVAL 60 DAYS"), 1).otherwise(0))
        .as("late")).cache()
    val l2 = lo.select($"l_orderkey".as("o2"), $"l_suppkey".as("s2"))
    val l3 = lo.filter($"late" === 1)
      .select($"l_orderkey".as("o3"), $"l_suppkey".as("s3"))
    val wait = lo.filter($"late" === 1)
      .join(l2, $"l_orderkey" === $"o2" && $"l_suppkey" =!= $"s2",
        "left_semi")
      .join(l3, $"l_orderkey" === $"o3" && $"l_suppkey" =!= $"s3",
        "left_anti")
      .groupBy($"l_suppkey").agg(count(lit(1)).as("numwait"))
    val ref = wait
      .join(Tables.load(spark, sfVerify, "supplier"),
        $"l_suppkey" === $"s_suppkey")
      .join(Tables.load(spark, sfVerify, "nation"),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_name", $"n_name", $"numwait")
      .orderBy($"numwait".desc, $"s_name").limit(20)
      .collect().toSeq
    assert(got == ref, s"aggregate form diverged:\n$got\nvs\n$ref")
    lo.unpersist()
  }

  test("q36: the broadcast-scalar DataFrame form equals the scalar-" +
      "subquery SQL form Catalyst decorrelates, and the cutoff bites") {
    val got = SparkEntry.queries("q36_sales_opportunity")(spark, sfVerify)
      .collect().toSeq
    assert(got.nonEmpty)
    Seq("customer", "orders", "nation").foreach { n =>
      Tables.load(spark, sfVerify, n).createOrReplaceTempView(s"q36_$n")
    }
    try {
      val ref = spark.sql(
        """SELECT n_name, count(*) AS numcust,
          |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS totacctbal
          |FROM q36_customer JOIN q36_nation ON c_nationkey = n_nationkey
          |WHERE n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7',
          |                 'NATION_9','NATION_11','NATION_13')
          |  AND c_acctbal > (
          |    SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,2)))
          |             AS DOUBLE) / CAST(count(*) AS DOUBLE)
          |    FROM q36_customer c2 JOIN q36_nation n2
          |      ON c2.c_nationkey = n2.n_nationkey
          |    WHERE n2.n_name IN ('NATION_1','NATION_3','NATION_5',
          |                        'NATION_7','NATION_9','NATION_11',
          |                        'NATION_13')
          |      AND c2.c_acctbal > 0)
          |  AND NOT EXISTS (
          |    SELECT 1 FROM q36_orders
          |    WHERE o_custkey = c_custkey
          |      AND o_orderdate >= TIMESTAMP '2000-01-01')
          |GROUP BY n_name ORDER BY n_name""".stripMargin)
        .collect().toSeq
      assert(got == ref, s"DataFrame form diverged from SQL form")
    } finally Seq("customer", "orders", "nation")
      .foreach(n => spark.catalog.dropTempView(s"q36_$n"))
    // the inactivity cutoff must bite: without it (no orders EVER) the
    // fixture qualifies nobody, which would make the gate vacuous
    val avg = got.map(_.getAs[Long]("numcust")).sum
    assert(avg > 0)
  }
}
