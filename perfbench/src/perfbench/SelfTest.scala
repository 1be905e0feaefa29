package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.functions._

import graft.core.BlockCompression
import graft.spark.EncodeJob

/** The harness's own tests, on small inputs: statistics, generators, the
  * checksum, the decompressed-bytes counter, and the write, read and DML
  * paths the workloads drive. `python3 perfbench/run.py --selftest`; the
  * build runs it once too.
  */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = m("work")
    val cores = m("cores").toInt
    val spark = Main.session(work, cores, "perfbench-selftest")
    var failures = 0
    def check(name: String)(cond: => Boolean): Unit = {
      val ok = try cond catch { case NonFatal(e) => println(s"  $e"); false }
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    def sum(df: org.apache.spark.sql.DataFrame) = Data.checksum(df).collect().toSeq

    check("a percentile needs ten samples beyond it") {
      Stats.tail((1 to 50).map(_.toDouble), 0.9).isEmpty && Stats.tail((1 to 200).map(_.toDouble), 0.9).isDefined
    }
    check("union of task intervals") { Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L }

    val li = Gen.lineitem(spark, 7L, 20000L, cores)
    check("generators are deterministic across partitionings") {
      sum(li) == sum(Gen.lineitem(spark, 7L, 20000L, 1)) &&
        sum(Gen.pages(spark, 7L, 0, 200, cores)) == sum(Gen.pages(spark, 7L, 0, 200, 1))
    }
    check("the checksum is order independent") { sum(li) == sum(li.orderBy(rand(1))) }
    check("the checksum sees one changed value") {
      sum(li) != sum(li.withColumn("l_tax", when(col("l_orderkey") === 7, col("l_tax") + 0.01)
        .otherwise(col("l_tax"))))
    }

    val dir = s"$work/lineitem"
    li.write.format("graft").option("numPartitions", cores.toString).option("sortColumns", "l_orderkey").save(dir)
    val d0 = BlockCompression.decompressInputBytes
    val back = sum(spark.read.format("graft").load(dir))
    check("a full scan decompresses bytes") { BlockCompression.decompressInputBytes - d0 > 0 }
    check("graft read-back equals its input") { back == sum(li) }

    graft.plans.GraftExtensions.register(spark)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.selftest")
    spark.sql("CREATE TABLE graft.selftest.o (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING) USING graft " +
      "TBLPROPERTIES ('numPartitions' = '2')")
    val base = Gen.orderRange(spark, 3L, 1, 2001, cores)
    val upsert = Gen.orders(spark.range(1990, 2010).withColumnRenamed("id", "k"), 3L, variant = 1)
    base.createOrReplaceTempView("selftest_o")
    upsert.createOrReplaceTempView("selftest_m")
    spark.sql("INSERT INTO graft.selftest.o SELECT * FROM selftest_o")
    spark.sql("UPDATE graft.selftest.o SET o_totalprice = 1.0 WHERE o_orderkey BETWEEN 10 AND 20")
    spark.sql("DELETE FROM graft.selftest.o WHERE o_orderkey BETWEEN 30 AND 40")
    spark.sql("""MERGE INTO graft.selftest.o t USING selftest_m s ON t.o_orderkey = s.o_orderkey
                |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    EncodeJob.compact(spark, s"$work/warehouse/selftest/o", cores)
    check("catalog DML equals its plain-Spark replay") {
      val updated = base
        .withColumn("o_totalprice", when(col("o_orderkey").between(10, 20), lit(1.0)).otherwise(col("o_totalprice")))
        .filter(!col("o_orderkey").between(30, 40))
        .filter(!col("o_orderkey").between(1990, 2009))
      sum(spark.table("graft.selftest.o")) == sum(updated.unionByName(upsert))
    }

    val ctx = new Ctx(spark, 1L, 1, traced = true, work, cores)
    check("layer kernels run on a workload input") {
      Layers.kernels(ctx, Gen.pages(spark, 7L, 0, 300, cores), ArrayBuffer()).size == 14
    }
    spark.stop()
    println(if (failures == 0) "selftest ok" else s"selftest: $failures failed")
    System.exit(if (failures == 0) 0 else 1)
  }
}
