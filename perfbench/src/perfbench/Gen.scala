package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. A row is a pure function of (seed, row id), so
  * the same seed gives the same inputs whatever the partitioning.
  */
object Gen {
  private def h(seed: Long, id: Column, stream: Int): Column = xxhash64(lit(seed), id, lit(stream))
  private def uniform(seed: Long, id: Column, stream: Int, n: Long): Column =
    pmod(h(seed, id, stream), lit(n))
  private def pick(seed: Long, id: Column, stream: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uniform(seed, id, stream, values.length) + 1).cast("int"))

  /** TPC-H-shaped lineitem, 11 columns: ~4 lines per order, orderkey
    * ascending with the row id (dbgen's output order).
    */
  def lineitem(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    val id = col("id")
    val partkey = uniform(seed, id, 1, 20000L) + 1
    val quantity = (uniform(seed, id, 3, 50L) + 1).cast("double")
    val shipDay = uniform(seed, id, 8, 2526L)
    spark.range(0, rows, 1, parts).select(
      (id / 4).cast("long").plus(1L).as("l_orderkey"),
      partkey.as("l_partkey"),
      (uniform(seed, id, 2, 1000L) + 1).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      quantity.as("l_quantity"),
      round(quantity * (lit(900.0) + pmod(partkey * 37, lit(110000L)) / 100.0), 2).as("l_extendedprice"),
      (uniform(seed, id, 4, 11L) / 100.0).as("l_discount"),
      (uniform(seed, id, 5, 9L) / 100.0).as("l_tax"),
      pick(seed, id, 6, Seq("A", "N", "R")).as("l_returnflag"),
      when(shipDay > 1263, lit("F")).otherwise(lit("O")).as("l_linestatus"),
      timestamp_seconds(lit(694310400L) + shipDay * 86400L).as("l_shipdate"))
  }

  /** TPC-H-shaped orders for the keys in column `k`; `variant` re-draws
    * the price (an upsert source of existing keys).
    */
  def orders(keys: DataFrame, seed: Long, variant: Int = 0): DataFrame = {
    val k = col("k")
    keys.select(
      k.as("o_orderkey"),
      (uniform(seed, k, 11, 15000L) + 1).as("o_custkey"),
      pick(seed, k, 12, Seq("O", "F", "P")).as("o_orderstatus"),
      round(uniform(seed + variant, k, 13, 50000000L) / 100.0 + 850.0, 2).as("o_totalprice"),
      timestamp_seconds(lit(694224000L) + uniform(seed, k, 14, 2406L) * 86400L).as("o_orderdate"),
      pick(seed, k, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
  }

  def orderRange(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame =
    orders(spark.range(from, until, 1, parts).withColumnRenamed("id", "k"), seed)

  /** WebGen pages for row ids [from, until). */
  def pages(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map(i => graft.spark.WebGen.page(seed, i)).toDF()
  }
}
