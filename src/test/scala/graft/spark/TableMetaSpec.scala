package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files

/** The JVM metadata snapshot cache: repeated reads hit the cache (no
  * re-load), any commit — append, compaction record — changes the
  * filesystem signature and reloads, and the snapshot's contents agree
  * with the uncached reads it replaced.
  */
class TableMetaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tmp = Files.createTempDirectory("graft-tablemeta").toString

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tablemeta-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("snapshot caches until the manifest/compactions signature changes") {
    val o = s"$tmp/t1"
    val df = spark.range(0, 500).select(col("id"),
      concat(lit("s"), col("id")).as("s"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)

    val s1 = TableMeta.snapshot(spark, o)
    assert(s1.batchIds == Set(0))
    assert(s1.codecs.exists(_.contains("s=")))
    assert(s1.perBatch(0)._1 == 500L)

    val loads0 = TableMeta.snapshotLoads.get()
    (1 to 5).foreach(_ => TableMeta.snapshot(spark, o))
    assert(TableMeta.snapshotLoads.get() == loads0, "cache hit should not reload")

    // an append commits new manifest files → signature change → reload
    df.write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val s2 = TableMeta.snapshot(spark, o)
    assert(s2.batchIds.size == 2, s"append not visible: ${s2.batchIds}")

    // a compaction record (no new manifest rows yet needed) also invalidates
    val newBatch = EncodeJob.compact(spark, o, targetPartitions = 1)
    val s3 = TableMeta.snapshot(spark, o)
    assert(s3.compactions.map(_.batch).contains(newBatch))
    assert(EncodeJob.committedBatches(spark, o) == Set(newBatch))

    // overwrite reuses batch id 0 with fresh files — snapshot must follow
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val s4 = TableMeta.snapshot(spark, o)
    assert(s4.batchIds == Set(0) && s4.compactions.isEmpty)
    assert(spark.read.format("graft").load(o).count() == 500L)
  }

  test("metadata caches evict the least recently used entry, not every entry") {
    val c = new TableMeta.Lru[Int, Int](1024)
    c.put(0, 0)
    (1 to 1025).foreach { i => c.put(i, i); assert(c.get(0).contains(0)) }
    assert(c.get(0).contains(0), "the most recently read entry was evicted")
    assert(c.get(1).isEmpty && c.get(2).isEmpty, "least recently used entries not evicted")
    assert((3 to 1025).forall(i => c.get(i).contains(i)))
  }

  test("legacy parquet manifest rows plus JSON commits stay readable and appendable") {
    val o = s"$tmp/mixed-manifest"
    val df = spark.range(0, 300).select(col("id"), concat(lit("s"), col("id")).as("s"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    // turn batch 0's JSON commit into the legacy parquet manifest rows an
    // older engine wrote
    val entries = EncodeJob.manifestEntries(spark, o)
    val mdir = new java.io.File(EncodeJob.manifestDir(o))
    mdir.listFiles().filter(_.getName.contains("commit-")).foreach(_.delete())
    spark.createDataFrame(entries).write.mode("append").parquet(mdir.toString)
    assert(spark.read.format("graft").load(o).count() == 300L)

    // appends now add JSON commits next to the parquet rows
    df.write.format("graft").mode("append").option("numPartitions", "2").save(o)
    assert(mdir.listFiles().exists(_.getName.endsWith(".json")))
    assert(spark.read.format("graft").load(o).count() == 600L)
    df.write.format("graft").mode("append").option("numPartitions", "2").save(o)
    assert(spark.read.format("graft").load(o).count() == 900L)
    assert(TableMeta.snapshot(spark, o).batchIds.size == 3)
    assert(EncodeJob.manifestEntries(spark, o).map(_.row_count).sum == 900L)
  }

  /** Spark jobs `body` starts, counted by a listener around the call. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sidecar chunk-file cache revalidates against the sidecar listing") {
    val o = s"$tmp/t2"
    def frame(lo: Long) = spark.range(lo, lo + 300).select(col("id"), (col("id") % 3).as("k"))
    frame(0).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val fs = new org.apache.hadoop.fs.Path(o)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every step: the index lists only files on disk for exactly the
    // committed batches, and a filtered read keeps the right files
    def fresh(): Seq[String] = {
      val committed = EncodeJob.committedBatches(spark, o)
      val files = TableMeta.sidecarChunkFiles(TableMeta.sidecarIndex(spark, o, committed), committed)
      assert(files.isDefined, s"committed $committed lost its sidecar")
      assert(files.get.map(_._1).toSet == committed)
      files.get.foreach(f => assert(fs.exists(new org.apache.hadoop.fs.Path(f._3)),
        s"stale sidecar entry served: ${f._3}"))
      files.get.map(_._3)
    }
    def rowsOf(id: Long): Long =
      spark.read.format("graft").load(o).filter(col("id") === id).count()

    val first = fresh()
    assert(first.nonEmpty)
    // same listing → same (cached) answer, no Spark job
    assert(jobsDuring(assert(fresh() == first)) == 0)
    assert(rowsOf(5) == 1)
    // append: the new batch's files join batch 0's
    frame(1000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val appended = fresh()
    assert(first.forall(appended.contains) && appended.size > first.size)
    assert(rowsOf(1005) == 1 && rowsOf(5) == 1)
    // overwrite reuses batch id 0 but writes NEW file names — the cache
    // must re-list and serve the fresh files and keeps, never the deleted ones
    frame(5000).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    val second = fresh()
    assert(second.nonEmpty && second.intersect(first).isEmpty,
      "stale sidecar file list served after overwrite")
    assert(rowsOf(5005) == 1 && rowsOf(5) == 0)
    // compaction: a new batch replaces the visible ones
    frame(7000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    val nb = EncodeJob.compact(spark, o, targetPartitions = 1)
    assert(EncodeJob.committedBatches(spark, o) == Set(nb))
    val compacted = fresh()
    assert(compacted.nonEmpty && compacted.intersect(second).isEmpty)
    assert(rowsOf(5005) == 1 && rowsOf(7005) == 1)
    // vacuum deletes the replaced batches' dirs: they leave the index
    val vacuumed = EncodeJob.vacuum(spark, o)
    assert(vacuumed.nonEmpty)
    assert(fresh() == compacted)
    assert(TableMeta.sidecarIndex(spark, o, vacuumed.toSet).isEmpty)
    assert(rowsOf(7005) == 1 && rowsOf(7) == 0)
    // deleting the sidecar entirely → None (callers fall back to the walk)
    fs.delete(new org.apache.hadoop.fs.Path(EncodeJob.filestatsDir(o)), true)
    assert(TableMeta.sidecarChunkFiles(TableMeta.sidecarIndex(spark, o, Set(nb)), Set(nb)).isEmpty)
    assert(rowsOf(7005) == 1 && rowsOf(5299) == 1)
  }

  test("planning a filtered read on a warm sidecar index starts no Spark job") {
    val o = s"$tmp/plan-no-job"
    val df = spark.range(6000).select(col("id"), concat(lit("v"), col("id")).as("s"))
    df.write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    df.withColumn("id", col("id") + 6000).write.format("graft").mode("append")
      .option("numPartitions", "2").save(o)
    spark.read.format("graft").load(o).filter(col("id") === 1L).queryExecution.executedPlan
    val q = spark.read.format("graft").load(o).filter(col("id").isin(7L, 7007L))
    val q2 = spark.read.format("graft").load(o).filter(col("id") > 11990L)
    val jobs = jobsDuring { q.queryExecution.executedPlan; q2.queryExecution.executedPlan }
    assert(jobs == 0, s"$jobs Spark jobs to plan a filtered read")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(7L, 7007L))
    assert(q2.collect().map(_.getLong(0)).sorted.toSeq == (11991L to 11999L))
  }

  test("DML batch pruning reads the warm sidecar index: no Spark job, only matching batches rewrite") {
    val o = s"$tmp/dml-index"
    def frame(lo: Long) = spark.range(lo, lo + 1000).select(col("id"), (col("id") % 7).as("k"))
    frame(0).write.format("graft").mode("overwrite").option("numPartitions", "2").save(o)
    frame(1000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    frame(2000).write.format("graft").mode("append").option("numPartitions", "2").save(o)
    assert(EncodeJob.affectedBatches(spark, o, col("id") === 10L) == Set(0))
    // warm index: pruning a new condition is evaluated in memory
    var affected = Set.empty[Int]
    assert(jobsDuring { affected = EncodeJob.affectedBatches(spark, o,
      col("id") >= 1500L && col("id") < 2100L) } == 0)
    assert(affected == Set(1, 2))
    assert(jobsDuring { affected = EncodeJob.affectedBatches(spark, o, col("id") === -1L) } == 0)
    assert(affected.isEmpty)

    val nb = EncodeJob.deleteWhere(spark, o, col("id") === 1500L, targetPartitions = 2)
    val rec = EncodeJob.compactions(spark, o).last
    assert(rec.batch == nb && rec.replaces == Seq(1),
      s"expected only batch 1 rewritten, got replaces=${rec.replaces}")
    assert(EncodeJob.committedBatches(spark, o) == Set(0, 2, nb))
    val left = spark.read.format("graft").load(o)
    assert(left.count() == 2999 && left.filter(col("id") === 1500L).count() == 0)
  }
}
