package graft

import org.apache.spark.sql.functions._

/** Bucketing demo for the 100 TB posture (SCALE.md): writing both join
  * sides bucketed by the join key lets Catalyst plan the join with ZERO
  * exchanges — the co-located join that replaces a per-query shuffle
  * when the same fact tables are joined repeatedly.
  */
class BucketedJoinSpec extends SparkTestBase {

  test("join of tables bucketed on the join key plans without Exchange") {
    // warehouse.dir is static; default ./spark-warehouse is fine — the
    // tables are dropped in finally.
    val o = Tables.load(spark, sfSmoke, "orders")
    val l = Tables.load(spark, sfSmoke, "lineitem")
    o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    l.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")
    // force the SMJ path: at this SF Catalyst would otherwise broadcast
    // the small side and bucketing would never be exercised
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      val plan = joined.queryExecution.executedPlan.toString
      val exchangesBeforeAgg = plan.linesIterator
        .count(l => l.contains("Exchange") && !l.contains("rangepartitioning"))
      // the only permissible exchange is the final aggregation's; the
      // JOIN itself must be shuffle-free (bucket-aligned SortMergeJoin)
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(exchangesBeforeAgg <= 1,
        s"bucketed join should not shuffle its inputs:\n${plan.take(3000)}")
      // and it computes the same result as the unbucketed join
      val expected = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      assert(joined.exceptAll(expected).count() == 0 &&
        expected.exceptAll(joined).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
