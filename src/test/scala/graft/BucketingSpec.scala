package graft

import org.apache.spark.sql.functions._

/** Physical-layout guard for the 100 TB co-located-join story: two tables
  * bucketed by the join key join WITHOUT any shuffle exchange — the
  * pre-partitioning is reused. This is the layout the engine prescribes
  * for repeated big-big joins (events x profiles, assignments x cells):
  * pay the shuffle once at write time, never again at read time.
  */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables runs with zero shuffle exchanges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      (0 until 10000).map(i => (s"u${i % 500}", i.toLong)).toDF("user_id", "v")
        .write.option("path", s"$dir/t_events")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("t_events")
      (0 until 500).map(i => (s"u$i", s"plan${i % 3}")).toDF("user_id", "plan")
        .write.option("path", s"$dir/t_profiles")
        .bucketBy(8, "user_id").sortBy("user_id")
        .saveAsTable("t_profiles")

      val joined = spark.table("t_events").join(spark.table("t_profiles"), "user_id")
        .groupBy("plan").agg(sum("v").as("sv"))
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected sort-merge join of bucketed tables:\n$plan")
      val joinSection = plan.substring(joinIdx)
      assert(!joinSection.contains("Exchange hashpartitioning(user_id"),
        s"bucketed join must reuse the write-time partitioning:\n$plan")
      assert(joined.collect().map(_.getString(0)).sorted.toSeq ==
        Seq("plan0", "plan1", "plan2"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS t_events")
      spark.sql("DROP TABLE IF EXISTS t_profiles")
    }
  }
}
