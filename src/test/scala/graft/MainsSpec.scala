package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** What the mains share: one session factory and one plan walk. */
class MainsSpec extends AnyFunSuite with SparkSpec {

  test("only Context.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder" // keeps this file off the list
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Context.scala" &&
          Files.readString(p).contains(needle))
        .map(_.toString).toList
      finally walk.close()
    }
    assert(offenders.isEmpty, s"sessions built outside Context.local: $offenders")
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
