package q10bench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/** The continuous query and its reference answer. */
object Q10 {
  /** TPC-H Q10 as the repository's `incremental_sql_q10` entry compiles
    * it: revenue scaled to an exact BIGINT so every engine folds it
    * bit-identically. */
  val statement: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000, 0) AS BIGINT)) AS revenue_e4,
      | COUNT(*) AS n_rows
      |FROM nation, customer, orders, lineitem
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      | AND c_nationkey = n_nationkey
      | AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      | AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name""".stripMargin

  /** Seeded row selection: true for about `perTenThousand`/10000 of the
    * rows, chosen by a hash of the seed, a salt and the row's key
    * columns. */
  private def seeded(seed: Long, salt: String, perTenThousand: Int, keys: String*): Column =
    pmod(xxhash64(lit(seed) +: lit(salt) +: keys.map(col): _*), lit(10000L)) <
      lit(perTenThousand.toLong)

  /** Rows the replay deletes: ~14% of lineitem, ~2% of orders. */
  def replayDeletes(seed: Long): Map[String, Column] = Map(
    "lineitem" -> seeded(seed, "replay_l", 1400, "l_orderkey", "l_linenumber"),
    "orders" -> seeded(seed, "replay_o", 200, "o_orderkey"))

  /** Rows the streams hold back from the initial load (lineitem, ~10%)
    * or flip during the run (a few dozen customers and orders). */
  def streamMutable(seed: Long): Map[String, Column] = Map(
    "lineitem" -> seeded(seed, "held_l", 1000, "l_orderkey", "l_linenumber"),
    "customer" -> seeded(seed, "flip_c", 64, "c_custkey"),
    "orders" -> seeded(seed, "flip_o", 12, "o_orderkey"))

  /** Plain Spark SQL Q10 over the survivor tables — the base tables
    * minus the rows `absent` selects — in a fresh session, through
    * neither the delta engine nor the SQL compiler. Rows come back
    * sorted by customer key, as [[sorted]] returns a view's. */
  def oracle(spark: SparkSession, dir: String, absent: Map[String, Column]): Seq[Row] = {
    val ss = spark.newSession()
    Data.relations.foreach { rel =>
      val base = ss.read.parquet(s"$dir/$rel.parquet")
      absent.get(rel).fold(base)(c => base.filter(!c)).createOrReplaceTempView(rel)
    }
    sorted(ss.sql(statement))
  }

  def sorted(view: DataFrame): Seq[Row] =
    view.collect().toSeq.sortBy(_.getLong(0))
}
