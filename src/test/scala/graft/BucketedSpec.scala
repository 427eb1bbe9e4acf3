package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Layout
import graft.sources.{Bucketed, Tables}

class BucketedSpec extends AnyFunSuite {
  lazy val spark = GraftSession.test
  import spark.implicits._

  test("driver Murmur3 pmod == Spark pmod(hash(col), nb) for long ids") {
    // the serve stores' source choice hashes collected keys on the
    // driver (Layout.bucketsOf) — this pin
    // fails loudly if Spark's hash() expression ever changes seed or
    // algorithm, or if a collected external value (a String, say) is
    // hashed unconverted, either of which would silently flip the
    // flat/bucketed choice or throw inside the literal budget
    val longs = Seq(0L, 1L, -1L, 42L, 9001L, Long.MaxValue, Long.MinValue,
      123456789012345L) ++ (0L until 500L).map(i => i * 7919L - 250L)
    val nb = 16
    def check(ids: org.apache.spark.sql.DataFrame): Unit = {
      val viaSpark = ids.select(pmod(hash(col("nid")), lit(nb))).as[Int].collect().toSeq
      val rows = ids.collect().map(_.get(0)).toSeq
      assert(Layout.bucketsOf(rows, ids.schema("nid").dataType, nb) == viaSpark,
        ids.schema("nid").dataType)
    }
    check(longs.toDF("nid"))
    check(longs.map(v => (v ^ (v >>> 32)).toInt).toDF("nid"))
    check((longs.map(v => s"doc-$v") :+ "" :+ "ünïcode").toDF("nid"))
  }

  test("bucketed fact-fact join plans with zero exchanges and matches the shuffle join") {
    val sf = "/root/testdata/sf0.001"
    Bucketed.writeFactTables(spark, sf, buckets = 4)

    // at this toy SF the planner would broadcast the orders side — turn
    // broadcast off so the test exercises the bucketed SMJ path the
    // layout exists for (at real scale both sides exceed any threshold)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try testBody(sf) finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def testBody(sf: String): Unit = {
    val df = Bucketed.bucketedJoin(spark)
    val joinPlan = df.queryExecution.executedPlan.toString
    // the aggregation after the join may exchange; the JOIN itself must not:
    // no ShuffleExchange anywhere below the SortMergeJoin
    val belowJoin = joinPlan.split("SortMergeJoin").drop(1).mkString
    assert(joinPlan.contains("SortMergeJoin"), s"expected SMJ in:\n$joinPlan")
    assert(!belowJoin.contains("Exchange hashpartitioning(l_orderkey")
      && !belowJoin.contains("Exchange hashpartitioning(o_orderkey"),
      s"join inputs were shuffled:\n$joinPlan")

    // same numbers as the plain (shuffling) formulation
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_priority_lines"))
      .orderBy(col("l_returnflag"))
      .as[(String, Long, Long)].collect().toSeq
    assert(df.as[(String, Long, Long)].collect().toSeq == plain)
  }
}
