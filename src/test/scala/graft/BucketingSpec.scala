package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Proves the co-located-join claim: two tables bucketed on the join key
  * with the same bucket count join WITHOUT a shuffle — the plan contains
  * no Exchange, because bucketed scans already satisfy the join's
  * distribution requirement. This is the 100 TB pattern for repeated
  * fact-to-fact joins (pay the shuffle once at write time, never at read
  * time). */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join with zero exchanges in the plan") {
    val tmp = Files.createTempDirectory("graft_bucketing").toString
    try GraftSession.withConf(spark,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val facts = (1 to 1000).map(i => (i.toLong % 97, i.toLong, i * 1.5))
        .toDF("k", "id", "v")
      val dims = (0L until 97L).map(k => (k, s"name_$k")).toDF("k", "name")
      facts.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("b_facts")
      dims.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
        .saveAsTable("b_dims")

      val joined = spark.table("b_facts").join(spark.table("b_dims"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      assert(joined.count() == 1000)

      // Same join on unbucketed parquet DOES shuffle — the baseline.
      val pf = s"$tmp/plain_facts"; val pd = s"$tmp/plain_dims"
      facts.write.mode("overwrite").parquet(pf)
      dims.write.mode("overwrite").parquet(pd)
      val plain = spark.read.parquet(pf).join(spark.read.parquet(pd), "k")
      assert(plain.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_facts")
      spark.sql("DROP TABLE IF EXISTS b_dims")
    }
  }
}
