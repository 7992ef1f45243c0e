package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** What a query body sees: the engine context and the run's input and
  * scratch locations. */
final class Env(val ctx: graft.Context, val dataDir: String,
    val inputsDir: String, val workDir: String) {
  /** Wall seconds spent in `Context.write` by the current query. */
  var writeS = 0.0
}

/** One benchmarked query. `readsParquet` declares that the query's plans
  * must contain a file scan; the traced run checks it. `oracle` is the
  * DuckDB SQL its checked-pass output is compared against, if any;
  * `seeded` marks a query over the seed-generated CSV inputs. */
final case class Item(name: String, readsParquet: Boolean,
    oracle: Option[String], seeded: Boolean, body: Env => DataFrame)

object Workloads {

  /** `sales.csv` is registered with `Context.registerCsv`,
    * `customers.csv` with the `CREATE EXTERNAL TABLE` DDL; gen_inputs.py
    * writes both with a header row. The parquet tables need no
    * registration: the `SparkEntry` bodies read them by path. */
  val salesSchema: StructType = StructType(Seq(
    StructField("sale_id", LongType), StructField("cust_id", IntegerType),
    StructField("region", StringType), StructField("amount_cents", LongType),
    StructField("qty", IntegerType), StructField("day", StringType)))

  def registerInputs(env: Env): Unit = {
    env.ctx.registerCsv("sales", s"${env.inputsDir}/sales.csv", salesSchema)
    env.ctx.sql(
      s"""CREATE EXTERNAL TABLE customers (cust_id INT, name VARCHAR,
         |  segment VARCHAR, signup_year INT)
         |STORED AS CSV WITH HEADER ROW
         |LOCATION '${env.inputsDir}/customers.csv'""".stripMargin)
  }

  /** SQL text over the CSV tables; the same text runs in DuckDB over the
    * same files, so it sticks to the dialect both engines share. */
  private val csvSql: Seq[(String, String)] = Seq(
    "csv_region_totals" ->
      """SELECT region, COUNT(*) AS n, SUM(amount_cents) AS total_cents,
        |       SUM(qty) AS units
        |FROM sales GROUP BY region ORDER BY region""".stripMargin,
    "csv_segment_join" ->
      """SELECT c.segment, COUNT(*) AS n, SUM(s.amount_cents) AS total_cents,
        |       AVG(s.qty) AS avg_qty
        |FROM sales s JOIN customers c ON s.cust_id = c.cust_id
        |GROUP BY c.segment ORDER BY c.segment""".stripMargin,
    "csv_top_customers" ->
      """SELECT s.cust_id, c.name, SUM(s.amount_cents) AS spent
        |FROM sales s JOIN customers c ON s.cust_id = c.cust_id
        |WHERE c.signup_year >= 2015
        |GROUP BY s.cust_id, c.name
        |ORDER BY spent DESC, s.cust_id LIMIT 20""".stripMargin,
    "csv_daily_filter" ->
      """SELECT day, COUNT(*) AS n, MAX(amount_cents) AS top_cents
        |FROM sales
        |WHERE qty BETWEEN 2 AND 5 AND region LIKE 'N%'
        |GROUP BY day ORDER BY day""".stripMargin)

  /** Per-customer totals written by `Context.write` in each sink format
    * and read back through the DDL; the oracle computes the read-back
    * aggregate straight from the CSV. */
  private val sinkSource =
    "SELECT cust_id, COUNT(*) AS n, SUM(amount_cents) AS spent " +
      "FROM sales GROUP BY cust_id"
  private val sinkReadback =
    "SELECT COUNT(*) AS customers, SUM(n) AS n, SUM(spent) AS spent, " +
      "MAX(spent) AS top FROM "

  private def sink(kind: String): Item = {
    val ddl = kind match {
      case "csv" => "(cust_id INT, n BIGINT, spent BIGINT) STORED AS CSV WITH HEADER ROW"
      case "ndjson" => "(cust_id INT, n BIGINT, spent BIGINT) STORED AS NDJSON"
      case "parquet" => "STORED AS PARQUET"
    }
    Item(s"sink_$kind", readsParquet = kind == "parquet",
      Some(sinkReadback + s"($sinkSource) t"), seeded = true, env => {
        val dir = s"${env.workDir}/sink_$kind"
        val t0 = System.nanoTime()
        env.ctx.write(env.ctx.sql(sinkSource), dir, kind)
        env.writeS += (System.nanoTime() - t0) / 1e9
        env.ctx.sql(s"CREATE EXTERNAL TABLE sink_$kind $ddl LOCATION '$dir'")
        env.ctx.sql(sinkReadback + s"sink_$kind")
      })
  }

  private def entry(name: String): Item =
    Item(name, readsParquet = name != "q_empty_select",
      graft.SparkEntry.oracleSql.get(name), seeded = false,
      env => graft.SparkEntry.queries(name)(env.ctx.spark, env.dataDir))

  /** Beside the `Relational` keys: `q_topk_auto`, whose `TopKRewrite`
    * session leak `plan.order_dependent` is there to show, and one
    * streaming twin, so that the streaming layer runs on a gated workload
    * (a three-micro-batch complete-mode aggregate: small jobs, fixed cost
    * first). */
  val interactiveKeys: Seq[String] = Seq("q_topk_auto", "q_stream_corpus_checksum")

  val multiJobKeys: Seq[String] = Seq(
    "q_ann_pq", "q_ann_pq_rerank", "q_pq_append", "q_embed_pq",
    "q_ivf_tuning", "q_bloom_fpr", "q_bpe_train", "q_theta_intersect",
    "q_stream_dedup_inc", "q_stream_corpus_checksum")

  val heavyKeys: Seq[String] = Seq(
    "q_triangles", "q_clustering_coeff", "q_dedup_ppjoin", "q_label_prop",
    "q_pagerank", "q_er_best_match", "q_hits", "q_link_predict")

  def apply(name: String): Seq[Item] = name match {
    case "interactive_sql" =>
      (graft.queries.Relational.queries.keys.toSeq.sorted ++ interactiveKeys)
        .map(entry) ++
        csvSql.map { case (n, sql) =>
          Item(n, readsParquet = false, Some(sql), seeded = true,
            env => env.ctx.sql(sql)) } ++
        Seq("csv", "parquet", "ndjson").map(sink)
    case "multi_job" => multiJobKeys.map(entry)
    case "heavy_iterative" => heavyKeys.map(entry)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** The pass's query order: a seeded shuffle, different for every pass. */
  def order(items: Seq[Item], seed: Long, pass: Int): Seq[Item] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(items)
}
