package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-layout scale patterns: bucketed co-located joins (zero-shuffle)
  * and partition-pruned scans. These are the two levers that keep a 100 TB
  * fact table joinable/scannable without moving it — asserted on the actual
  * physical plans, not just on results.
  */
class LayoutSpec extends AnyFunSuite with SparkSpec {

  private def executed(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // force AQE finalization
    df.queryExecution.executedPlan
  }

  test("bucketed tables join with ZERO shuffle (co-located layout)") {
    val wh = new java.io.File("spark-warehouse")
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    // a previous JVM's warehouse dirs survive DROP (the tables are not in
    // this session's in-memory catalog) — remove the locations directly
    Seq("li_bkt", "ord_bkt").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        import scala.reflect.io.Directory
        new Directory(d).deleteRecursively()
      }
    }
    Tables(spark, sf, "lineitem")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_bkt")
    Tables(spark, sf, "orders")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_bkt")
    val joined = spark.table("li_bkt")
      .join(spark.table("ord_bkt"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    // the join itself must not shuffle either side: bucket layout IS the
    // hash partitioning. (The aggregation on the same key is also free.)
    val nShuffles = PlanCensus.count[ShuffleExchangeExec](executed(joined))
    assert(nShuffles == 0, s"expected zero shuffles, got $nShuffles\n" +
      joined.queryExecution.executedPlan.toString.take(3000))
    // result parity with the plain (shuffling) join
    val plain = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "orders"), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(spark.table("li_bkt").join(spark.table("ord_bkt"),
      col("l_orderkey") === col("o_orderkey")).count() == plain)
    assert(wh.exists())
  }

  test("partitioned write → partition-pruned scan (no full-table read)") {
    val dir = "target/events_by_type"
    Tables(spark, sf, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("event_type") === "purchase")
    val scan = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // the partition filter must reach the scan's partitionFilters (pruning
    // whole directories), NOT survive as a post-scan data filter
    assert(scan.partitionFilters.exists(_.toString.contains("event_type")),
      scan.partitionFilters.mkString(";"))
    val expected = Tables(spark, sf, "events")
      .filter(col("event_type") === "purchase").count()
    assert(pruned.count() == expected)
  }

  test("dim-filter join prunes fact partitions DYNAMICALLY (DPP)") {
    // the 100 TB shape: the fact side is partitioned on the join key, the
    // dim side carries the selective filter — the partitions to read are
    // only known at RUNTIME, so static pruning can't help; Spark's dynamic
    // partition pruning must inject a subquery filter into the fact scan
    val dir = "target/events_by_type_dpp"
    Tables(spark, sf, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val fact = spark.read.parquet(dir)
    // the dim predicate must be NON-propagatable (a literal filter on the
    // join column gets inferred across the join and prunes STATICALLY —
    // verified: Catalyst rewrote the first version of this test that way).
    // A filter on an aggregate can only be evaluated at runtime, so the
    // fact scan's partition set is unknowable until the dim side runs
    val dim = Tables(spark, sf, "events")
      .groupBy(col("event_type").as("t"))
      .agg(count(lit(1)).as("c"), max(col("value")).as("mx"))
      .filter(col("mx") < 490.0)
    val joined = fact.join(dim, fact("event_type") === dim("t"))
    withoutAQE {
      val scan = joined.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.partitionSchema.nonEmpty => f
      }.head
      assert(scan.partitionFilters.exists(
          _.toString.toLowerCase.contains("dynamicpruning")),
        s"no DPP filter on the fact scan: ${scan.partitionFilters}")
    }
    val survivors = dim.select(col("t")).collect().map(_.getString(0)).toSet
    assert(survivors.nonEmpty, "degenerate: aggregate filter kept no type")
    val expected = Tables(spark, sf, "events")
      .filter(col("event_type").isin(survivors.toSeq: _*)).count()
    assert(joined.count() == expected)
  }
}
