package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped tables (lineitem, orders, customer, nation) at scale
  * factor `sf`: 4 lines per order, 10 orders per customer. Every value is a
  * hash of (seed, row id, column), so one seed always yields the same
  * files. Quantities are whole numbers, so their sums are exact.
  */
object Tpch {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES")

  /** Store column types, declared Nullable like the gate harness does. */
  val storeColumns: Seq[(String, Seq[(String, String)])] = Seq(
    "lineitem" -> Seq(
      "l_orderkey" -> "Nullable(Int64)", "l_partkey" -> "Nullable(Int64)",
      "l_suppkey" -> "Nullable(Int64)", "l_linenumber" -> "Nullable(Int32)",
      "l_quantity" -> "Nullable(Float64)", "l_extendedprice" -> "Nullable(Float64)",
      "l_discount" -> "Nullable(Float64)", "l_tax" -> "Nullable(Float64)",
      "l_returnflag" -> "Nullable(String)", "l_linestatus" -> "Nullable(String)",
      "l_shipdate" -> "Nullable(DateTime64(3))"),
    "orders" -> Seq(
      "o_orderkey" -> "Nullable(Int64)", "o_custkey" -> "Nullable(Int64)",
      "o_orderstatus" -> "Nullable(String)", "o_totalprice" -> "Nullable(Float64)",
      "o_orderdate" -> "Nullable(DateTime64(3))", "o_orderpriority" -> "Nullable(String)"),
    "customer" -> Seq(
      "c_custkey" -> "Nullable(Int64)", "c_name" -> "Nullable(String)",
      "c_nationkey" -> "Nullable(Int32)", "c_acctbal" -> "Nullable(Float64)",
      "c_mktsegment" -> "Nullable(String)"),
    "nation" -> Seq(
      "n_nationkey" -> "Nullable(Int32)", "n_name" -> "Nullable(String)",
      "n_regionkey" -> "Nullable(Int32)"))

  def rows(sf: Double): Map[String, Long] = {
    val orders = math.round(1500000 * sf)
    Map("customer" -> orders / 10, "orders" -> orders, "lineitem" -> orders * 4,
      "nation" -> Nations.size.toLong)
  }

  def generate(spark: SparkSession, seed: Long, sf: Double, dir: Path, parts: Int): Unit = {
    val n = rows(sf)
    def u(c: Int, m: Long): Column = pmod(xxhash64(lit(seed), col("id"), lit(c)), lit(m))
    def pick(c: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(c, xs.size) + 1).cast("int"))
    def day(c: Int): Column = timestamp_seconds(lit(694224000L) + u(c, 2526) * 86400)
    def write(name: String, cols: Column*): Unit =
      spark.range(0, n(name), 1, parts).select(cols: _*)
        .write.parquet(dir.resolve(s"$name.parquet").toString)

    write("nation",
      col("id").cast("int").as("n_nationkey"),
      element_at(array(Nations.map(lit): _*), (col("id") + 1).cast("int")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))
    write("customer",
      (col("id") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("id") + 1).as("c_name"),
      u(1, 25).cast("int").as("c_nationkey"),
      ((u(2, 1100000) - 100000) / 100.0).as("c_acctbal"),
      pick(3, Segments).as("c_mktsegment"))
    write("orders",
      (col("id") + 1).as("o_orderkey"),
      (u(1, n("customer")) + 1).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      (u(3, 50000000) / 100.0).as("o_totalprice"),
      day(4).as("o_orderdate"),
      pick(5, Priorities).as("o_orderpriority"))
    write("lineitem",
      (floor(col("id") / 4) + 1).cast("long").as("l_orderkey"),
      (u(1, 200000) + 1).as("l_partkey"),
      (u(2, 10000) + 1).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (u(3, 50) + 1).cast("double").as("l_quantity"),
      (u(4, 10000000) / 100.0).as("l_extendedprice"),
      (u(5, 11) / 100.0).as("l_discount"),
      (u(6, 9) / 100.0).as("l_tax"),
      pick(7, Seq("A", "N", "R")).as("l_returnflag"),
      pick(8, Seq("O", "F")).as("l_linestatus"),
      day(9).as("l_shipdate"))
  }

  /** The same files as local parquet views, for the federated side and
    * for the expected results.
    */
  def registerLocal(spark: SparkSession, dir: Path): Unit =
    storeColumns.foreach { case (t, _) =>
      spark.read.parquet(dir.resolve(s"$t.parquet").toString).createOrReplaceTempView(t)
    }
}
