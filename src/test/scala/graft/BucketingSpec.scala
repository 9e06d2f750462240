package graft

import graft.sources.CsvIO
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BucketingSpec extends AnyFunSuite {
  import TestSpark._

  test("bucketed fact-fact join elides both shuffle exchanges") {
    val o = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "k")
    val l = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "k")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    // in-memory catalog forgets tables across JVMs but their files persist —
    // clear the physical locations too
    val wh = s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"
    Seq("bkt_orders", "bkt_lineitem").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$wh/$t"))
    }
    CsvIO.checkpointBucketed(o, "bkt_orders", "k", 8)
    CsvIO.checkpointBucketed(l, "bkt_lineitem", "k", 8)
    // force the sort-merge path: at test scale the planner would broadcast
    // (whose BroadcastExchange is not a shuffle), hiding what we assert —
    // that bucket alignment removes the ShuffleExchanges a 100 TB
    // fact-fact join would otherwise pay
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_orders").join(spark.table("bkt_lineitem"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n${plan.take(800)}")
      val expected = o.join(l, "k").count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("concurrent q_bucketed_join calls on one session each return the " +
      "serial result") {
    // each call writes its own bucketed tables: two calls sharing names
    // would overwrite each other's tables mid-read
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(): Seq[org.apache.spark.sql.Row] =
      CsvIO.bucketedJoin(spark, sf).collect().toSeq
    val serial = run()
    assert(serial.nonEmpty)
    Seq.fill(2)(Future(run())).foreach(f =>
      assert(Await.result(f, 5.minutes) === serial))
  }
}
