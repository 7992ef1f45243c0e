package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** What the mains share: one session factory and one plan walk. */
class MainsSpec extends AnyFunSuite with SparkSpec {

  test("only Context.scala builds a SparkSession") {
    // split literals keep this file off the list; the second needle is
    // the runtime planner hook (`extraStrategies`/`extraOptimizations` on
    // `spark.experimental`), which would let a query change the planner
    val needles = Seq("SparkSession" + ".builder", "experimental" + ".extra")
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Context.scala" &&
          needles.exists(Files.readString(p).contains))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(offenders.isEmpty,
      s"sessions built or planners changed outside Context.local: $offenders")
  }

  test("planner extensions come with the session, not with a query") {
    import org.apache.spark.sql.functions.col
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    // the native top-k plans on a fresh session with no registration call
    val df = s.range(0, 100).select((col("id") % 7).as("k"), col("id"))
    val heaps = graft.plans.TopK.perKey(df, Seq("k"), Seq("id" -> false), 2)
      .queryExecution.executedPlan
      .collect { case t: graft.plans.TopKPerKeyExec => t.partial }
    assert(heaps.sorted == Seq(false, true),
      s"expected one partial and one final TopKPerKeyExec, got $heaps")
    // and no query changes another's plan: these two reach row_number ≤ k
    // windows, which q_topk_auto must leave as they were
    val names = Seq("q_dedup_minhash", "q_dim_ablation")
    def shapes = names.map { n =>
      try PlanCensus.nodes(SparkEntry.queries(n)(s, sf)
        .queryExecution.executedPlan).map(_.nodeName)
      finally Context.release(s)
    }
    val before = shapes
    try SparkEntry.queries("q_topk_auto")(s, sf).collect()
    finally Context.release(s)
    val moved = names.zip(before.zip(shapes)).collect {
      case (n, (b, a)) if a != b => n
    }
    assert(moved.isEmpty, s"q_topk_auto changed the plan of $moved")
  }

  test("the plan walk sees scans and exchanges below the adaptive root") {
    // a probe that reports zero scans for a parquet query is a broken tool
    val name = "q_agg_group"
    val staticExchanges = withoutAQE {
      val p = q(name).queryExecution.executedPlan
      // on a static plan the walk is exactly plan.collect's node set, so
      // the committed plan census cannot move
      assert(PlanCensus.nodes(p) == p.collect { case n => n })
      PlanCensus.count[ShuffleExchangeExec](p)
    }
    val plan = q(name).queryExecution.executedPlan
    assert(plan.isInstanceOf[AdaptiveSparkPlanExec], "test session lost AQE")
    val shape = ScaleProbe.shape(plan)
    assert(shape.scans > 0, s"$name: no parquet scan found under AQE")
    assert(staticExchanges == 0 || shape.exchanges > 0,
      s"$name: $staticExchanges static exchanges, none found under AQE")
    Context.release(spark)
  }
}
