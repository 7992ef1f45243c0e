package perfbench

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, FloatType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** Micro-timings of the `graft.functions` kernels, called directly (no
  * Spark job) on inputs drawn from the run's seed: nanoseconds per call,
  * the median of several fixed-size batches. Traced run only. */
object Kernels {
  private val Batches = 7
  private val BatchCalls = 4000
  /** Results are folded in here so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0

  private def nsPerCall(inputs: Int)(call: Int => Any): Double = {
    def batch(): Double = {
      var acc = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < BatchCalls) { acc ^= call(i % inputs).hashCode; i += 1 }
      val ns = (System.nanoTime() - t0).toDouble / BatchCalls
      blackhole ^= acc
      ns
    }
    batch() // JIT warm-up
    Seq.fill(Batches)(batch()).sorted.apply(Batches / 2)
  }

  def timeAll(seed: Long): Map[String, Double] = {
    val rnd = new scala.util.Random(seed)
    val n = 64
    val dim = 64
    val vecF = Array.fill(n)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(dim)(rnd.nextGaussian().toFloat)))
    val vecD = Array.fill(n)(UnsafeArrayData.fromPrimitiveArray(
      Array.fill(dim)(rnd.nextGaussian())))
    val vocab = Array.tabulate(200)(i => s"w${i.toHexString}")
    val docs = Array.fill(n)(UTF8String.fromString(
      Array.fill(40 + rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length)))
        .mkString(" ")))
    val dummyStr: Expression = Literal(null, StringType)
    val dummyArr: Expression = Literal(null, ArrayType(FloatType))
    val shingles = ShingleHashes(dummyStr, 3)
    val hashSets: Array[ArrayData] = docs.map(shingles.kernel)
    val merges = Array.fill(n) {
      val xs = Array.fill(8)(vocab(rnd.nextInt(vocab.length)))
      val ys = Array.fill(8)(vocab(rnd.nextInt(vocab.length)))
      (new GenericArrayData(xs.map(s => UTF8String.fromString(s): Any)),
        new GenericArrayData(ys.map(s => UTF8String.fromString(s): Any)))
    }
    val cos = CosineSim(dummyArr, dummyArr)
    val l2 = L2DistSq(dummyArr, dummyArr)
    val minhash = MinHashSig(dummyArr, 64)
    val jac = JaccardSorted(dummyArr, dummyArr)
    val bpe = GreedyMergeApply(dummyStr, dummyArr, dummyArr)
    Map(
      "CosineSim" -> nsPerCall(n)(i => cos.kernel(vecF(i), vecF((i + 1) % n))),
      "L2DistSq" -> nsPerCall(n)(i => l2.kernel(vecD(i), vecD((i + 1) % n))),
      "ShingleHashes" -> nsPerCall(n)(i => shingles.kernel(docs(i))),
      "MinHashSig" -> nsPerCall(n)(i => minhash.kernel(hashSets(i))),
      "JaccardSorted" -> nsPerCall(n)(i =>
        jac.kernel(hashSets(i), hashSets((i + 1) % n))),
      "GreedyMergeApply" -> nsPerCall(n)(i =>
        bpe.kernel(docs(i), merges(i)._1, merges(i)._2)))
  }
}
