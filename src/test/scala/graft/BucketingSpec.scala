package graft

import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** Co-located joins: bucketed+sorted tables join with NO Exchange and NO
  * Sort — the write-once/join-many layout contract, checked on the plan. */
class BucketingSpec extends SparkSpec {

  test("bucketed join is exchange-free and matches the plain join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bkt").toString
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val customer = Tables.customer(spark, "/root/testdata/sf0.001")
    // at test scale AQE would broadcast the dim and hide the bucketing —
    // disable auto-broadcast so the plan shows the co-located SMJ that a
    // 100 TB fact-fact join would use
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Bucketing.writeBucketed(orders, "bkt_orders", s"$dir/o", "o_custkey", 8)
      Bucketing.writeBucketed(customer, "bkt_customer", s"$dir/c", "c_custkey", 8)

      val joined = Bucketing.colocatedJoin(spark,
        "bkt_orders", "bkt_customer", "o_custkey", "c_custkey")
      val n = joined.count()
      // execute the join itself so AQE finalizes, then read the final plan
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1000))
      // THE assertion: no shuffle on either side — the join reads the
      // bucketed layout directly (Bucketed: true, all buckets selected)
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // (a within-bucket Sort can remain: each write task emits its own
      // file per bucket, and Spark won't assume cross-file sortedness)

      // and the result is the plain join's result
      val expect = orders.join(customer,
        orders("o_custkey") === customer("c_custkey")).count()
      assert(n == expect)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_customer")
    }
  }

  test("declared join_bucketed: the only Exchange is the final aggregation") {
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = SparkEntry.queries("join_bucketed")(spark, "/root/testdata/sf0.001")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(plan.contains("Bucketed: true"), plan.take(2000))
      // the JOIN reads both bucketed layouts with no shuffle on either
      // side: the only Exchanges are the groupBy re-key and the output
      // sort, never a re-partition on the join keys or a broadcast
      assert(!plan.contains("Exchange hashpartitioning(o_custkey"), plan.take(2000))
      assert(!plan.contains("Exchange hashpartitioning(c_custkey"), plan.take(2000))
      assert(!plan.contains("BroadcastExchange"), plan.take(2000))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_bkt_customer")
    }
  }
}
