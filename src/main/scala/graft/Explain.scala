package graft

/** Plan inspector: print the formatted physical plan and wall time of one
  * named query. `runMain graft.Explain <queryName> [sfDir]`.
  *
  * Batch mode (r16 optimization round): dump the formatted plan + cold/warm
  * noop-sink wall times for MANY queries into per-query files — the
  * `plans/r16/<query>_{before,after}.txt` evidence the optimization rounds
  * commit. `runMain graft.Explain --dump <outDir> <suffix> <sfDir> <q...>`
  * writes `<outDir>/<query>_<suffix>.txt` for each query.
  */
object Explain {
  /** Formatted physical plan as a string (what df.explain("formatted")
    * prints), via the classic Dataset's queryExecution. */
  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  /** Formatted plan and cold/warm noop-sink wall times of one query,
    * released after each pass. */
  private def explain(spark: org.apache.spark.sql.SparkSession, name: String,
      sfDir: String): (String, Double, Double) = {
    val fn = (SparkEntry.queries ++ SparkEntry.benchOnly)(name)
    val plan = formatted(fn(spark, sfDir))
    def pass(): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Context.release(spark)
      dt
    }
    val cold = pass()
    (plan, cold, pass())
  }

  def main(args: Array[String]): Unit = {
    if (args.nonEmpty && args(0) == "--dump" && args.length < 4) {
      System.err.println(
        "usage: Explain --dump <outDir> <suffix> <sfDir> <query...>")
      sys.exit(2)
    }
    val spark = Context.local(Context.cpus).spark
    if (args(0) == "--dump") {
      val Array(_, outDir, suffix, sfDir) = args.take(4)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(4).foreach { name =>
        val (plan, cold, warm) = explain(spark, name, sfDir)
        val hdr = f"-- $name @ $sfDir cold=$cold%.2fs warm=$warm%.2fs" +
          s" cpus=${Context.cpus}\n"
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), hdr + plan)
        println(f"[explain] $name cold=$cold%.2fs warm=$warm%.2fs")
      }
      spark.stop()
      return
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val (plan, cold, warm) = explain(spark, name, sfDir)
    println(plan)
    println(f"[explain] $name cold run: $cold%.2f s")
    println(f"[explain] $name warm run: $warm%.2f s")
    spark.stop()
  }
}
