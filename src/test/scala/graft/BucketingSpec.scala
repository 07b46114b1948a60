package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join (SURVEY §7 scale design): pre-bucketing
  * both join sides on the key eliminates the shuffle exchange — the
  * plan must contain no Exchange on the bucketed join.
  *
  * Note: suites share one SparkSession (getOrCreate), so all configs
  * are set at runtime and tables/locations are cleaned before use. */
class BucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestUtil.session()

  test("bucketed tables join without a shuffle exchange") {
    val d = "/root/testdata/sf0.001"
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      Seq("orders_bkt", "lineitem_bkt").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir") + s"/$t")
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
      }
      Tables.orders(spark, d).write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_bkt")
      Tables.lineitem(spark, d).write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_bkt")

      val joined = spark.table("lineitem_bkt")
        .join(spark.table("orders_bkt"),
          spark.table("lineitem_bkt")("l_orderkey") === spark.table("orders_bkt")("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle, plan was:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, d).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      Seq("orders_bkt", "lineitem_bkt").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    }
  }
}
