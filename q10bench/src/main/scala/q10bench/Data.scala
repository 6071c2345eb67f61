package q10bench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The base TPC-H-shaped tables the benchmark runs on: `nation`,
  * `customer`, `orders` and `lineitem`, with the same column names,
  * types and value ranges as the repository's sf fixtures. They are a
  * pure function of the scale factor (fixed hash seed, no workload
  * seed), written once per directory as one parquet file per table and
  * reused by every later run. The workload seed never changes them: it
  * only picks which of their rows are held back, deleted or flipped. */
object Data {
  val relations: Seq[String] = Seq("nation", "customer", "orders", "lineitem")

  private val Seed = 42L

  /** Deterministic integer in [0, n) from a salt and key columns. */
  private def pick(n: Long, salt: String, cols: Column*): Column =
    pmod(xxhash64(lit(Seed) +: lit(salt) +: cols: _*), lit(n))

  /** Write the four tables under `dir` unless a complete set is there. */
  def ensure(spark: SparkSession, dir: String, sf: Double): Unit = {
    val done = new File(dir, "_COMPLETE")
    if (done.exists()) return
    val nCust = math.round(150000 * sf)
    val nOrders = math.round(1500000 * sf)
    val nation = spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    val customer = spark.range(nCust).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(25, "c_nation", col("id")).cast("int").as("c_nationkey"),
      ((pick(1099999, "c_acctbal", col("id")) - 99999) / 100.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .map(lit): _*), (pick(5, "c_seg", col("id")) + 1).cast("int")).as("c_mktsegment"))
    val orders = spark.range(nOrders).select(
      col("id").as("o_orderkey"),
      pick(nCust, "o_cust", col("id")).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (pick(3, "o_status", col("id")) + 1).cast("int")).as("o_orderstatus"),
      ((pick(50000000, "o_price", col("id")) + 90000) / 100.0).as("o_totalprice"),
      // 1995-01-01 .. 2001-08-01, so a Q10 quarter holds ~4% of orders
      (lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) +
        make_dt_interval(pick(2404, "o_date", col("id")).cast("int")))
        .cast("timestamp").as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .map(lit): _*), (pick(5, "o_prio", col("id")) + 1).cast("int")).as("o_orderpriority"))
    val lineitem = spark.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pick(7, "l_lines", col("id")) + 1).cast("int")))
          .as("l_linenumber"))
      .select(
        col("l_orderkey"),
        pick(math.round(200000 * sf), "l_part", col("l_orderkey"), col("l_linenumber"))
          .as("l_partkey"),
        pick(math.round(10000 * sf), "l_supp", col("l_orderkey"), col("l_linenumber"))
          .as("l_suppkey"),
        col("l_linenumber"),
        (pick(50, "l_qty", col("l_orderkey"), col("l_linenumber")) + 1).cast("double")
          .as("l_quantity"),
        ((pick(9500000, "l_price", col("l_orderkey"), col("l_linenumber")) + 90068) / 100.0)
          .as("l_extendedprice"),
        (pick(11, "l_disc", col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_discount"),
        (pick(9, "l_tax", col("l_orderkey"), col("l_linenumber")) / 100.0).as("l_tax"),
        element_at(array(lit("N"), lit("A"), lit("R")),
          (pick(3, "l_flag", col("l_orderkey"), col("l_linenumber")) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (pick(2, "l_status", col("l_orderkey"), col("l_linenumber")) + 1).cast("int"))
          .as("l_linestatus"),
        (lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")) +
          make_dt_interval(pick(2500, "l_ship", col("l_orderkey"), col("l_linenumber"))
            .cast("int"))).cast("timestamp").as("l_shipdate"))
    Seq("nation" -> nation, "customer" -> customer, "orders" -> orders,
      "lineitem" -> lineitem).foreach { case (name, df: DataFrame) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    done.createNewFile()
  }
}
