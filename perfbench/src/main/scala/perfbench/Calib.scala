package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum}

/** Host-speed anchor: the fixed pure-CPU job of `graft.Bench`'s
  * calibration pass (no I/O, no shuffle). Recorded with the per-layer
  * metrics; no gated metric is divided by it. */
object Calib {
  def anchor(spark: SparkSession, cores: Int): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 400000000L, 1, cores)
        .select(sum(col("id") * 2654435761L % 1000003L)).head()
      (System.nanoTime() - t0) / 1e9
    }
    pass() // JIT warm-up
    pass()
  }
}
