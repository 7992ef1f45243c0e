package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Persisted

/** The persist lifecycle contract: query bodies REGISTER caches via
  * persistTracked, runners RELEASE them via releaseAll — the balance is
  * machine-checked here instead of audited by grep each round.
  */
class PersistLedgerSpec extends AnyFunSuite with SparkSpec {

  test("a persisting query registers in the ledger; releaseAll drains it") {
    Persisted.releaseAll() // isolate from whatever earlier suites left
    assert(Persisted.pending == 0)
    // q_dedup_minhash persists its signature frame — constructing the plan
    // must register it
    val df = q("q_dedup_minhash")
    assert(Persisted.pending > 0, "query body took a cache without registering it")
    val n = df.count()
    assert(n >= 0)
    Persisted.releaseAll()
    assert(Persisted.pending == 0, "releaseAll left ledgered frames behind")
    // the query still computes identically after release (unpersist is a
    // physical-only change)
    assert(q("q_dedup_minhash").count() == n)
    Persisted.releaseAll()
  }

  test("Context.release drains the ledger and the rollup registry") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    Context.release(spark)
    // q_mv_rewrite's own coarse aggregate: navigates to the registered
    // rollup (no fact scan) exactly while the rollup is registered.
    // sparkPlan, not executedPlan: AQE hides children from collect
    def readsFact: Boolean = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .queryExecution.sparkPlan.collect {
        case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("lineitem")) => f
      }.nonEmpty
    q("q_mv_rewrite")
    assert(Persisted.pending(spark) > 0, "q_mv_rewrite persisted nothing")
    assert(!readsFact, "q_mv_rewrite registered no rollup")
    Context.release(spark)
    assert(Persisted.pending(spark) == 0, "Context.release left ledgered frames")
    assert(readsFact, "a registered rollup outlived Context.release")
  }

  test("no bare persist() remains in query bodies (ledger owns every cache)") {
    // source-level guard over ALL of src/main/scala/graft: a future body
    // calling .persist() directly — in queries/, functions/, streaming/,
    // or an operators/ helper — would reopen the leak the ledger closed.
    // Allowed: the ledger helper itself (it wraps the bare call). Lines
    // whose only match sits inside a comment don't count (scaladoc may
    // legitimately DISCUSS .persist()).
    val dir = java.nio.file.Paths.get("src/main/scala/graft")
    val offenders = new scala.collection.mutable.ArrayBuffer[String]()
    val walk = java.nio.file.Files.walk(dir)
    try walk.forEach { p =>
      if (p.toString.endsWith(".scala") &&
          !p.toString.endsWith("operators/Persisted.scala")) {
        val lines = java.nio.file.Files.readAllLines(p)
        var i = 0
        while (i < lines.size()) {
          val raw = lines.get(i)
          // strip trailing line comments; skip block-comment bodies
          val code =
            if (raw.trim.startsWith("*") || raw.trim.startsWith("/*") ||
                raw.trim.startsWith("//")) ""
            else if (raw.contains("//")) raw.substring(0, raw.indexOf("//"))
            else raw
          if (code.contains(".persist()"))
            offenders += s"${p.getFileName}:${i + 1}"
          i += 1
        }
      }
    } finally walk.close()
    assert(offenders.isEmpty,
      s"bare .persist() outside the ledger: ${offenders.mkString(", ")}")
  }

  test("ledgers are per-session: one session's release leaves the other's cache alone") {
    Persisted.releaseAll()
    import graft.operators.Persisted._
    val s2 = spark.newSession() // shares the SparkContext, distinct session
    import org.apache.spark.storage.StorageLevel
    val a = spark.range(0, 1000).toDF("id").persistTracked()
    val b = s2.range(0, 2000).toDF("id").persistTracked()
    a.count(); b.count() // materialize both caches
    assert(Persisted.pending(spark) == 1 && Persisted.pending(s2) == 1)
    // draining session 1 must not touch session 2's ledger OR its cache
    Persisted.releaseAll(spark)
    assert(Persisted.pending(spark) == 0, "own ledger not drained")
    assert(Persisted.pending(s2) == 1, "peer session's ledger was drained")
    assert(b.storageLevel != StorageLevel.NONE,
      "peer session's live cache was unpersisted mid-query")
    Persisted.releaseAll(s2)
    assert(Persisted.pending == 0, "JVM-wide balance nonzero after both drains")
  }
}
