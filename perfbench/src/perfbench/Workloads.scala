package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.spark.EncodeJob

/** What a workload leaves for the end-to-end metrics and the layer probes. */
final case class Outcome(
    setupS: Double,
    /** bytes on disk under the workload's table directories / raw input bytes */
    bytesPerRawByte: Double,
    /** raw bytes of the workload's table */
    tableRaw: Long,
    /** input the layer probes draw columns from, and the write they repeat */
    input: DataFrame,
    writeOptions: Map[String, String],
    /** bytes one full decode of `table` decompresses */
    fullScanDecompressed: Long)

/** A closed loop with one client: set-up (repeated), timed steps, checks. */
abstract class Workload(val ctx: Ctx) {
  /** op kinds that read, for the per-layer scan metrics */
  def readKinds: Seq[String]
  def run(): Outcome
  /** workload-specific report lines: the per-class metric names */
  def describe(o: Outcome): Unit

  protected val spark: org.apache.spark.sql.SparkSession = ctx.spark
  protected def rng(stream: Int) = new java.util.Random(ctx.seed * 1000003L + stream)

  protected def p50(kinds: String*): Option[Double] = {
    val xs = ctx.timedOps.filter(o => kinds.contains(o.kind) && !o.failed).map(_.ms)
    if (xs.isEmpty) None else Some(Stats.median(xs))
  }

  protected def noteP50(metric: String, kinds: String*): Unit =
    p50(kinds: _*).foreach(v => ctx.note(metric, v, "ms"))

  protected def checksumRow(df: DataFrame): (java.math.BigDecimal, Long) =
    Data.checksumOf(ctx.collect(Data.checksum(df))(0))

  protected def mismatch(what: String, got: Any, want: Any): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")
}

/** Write path on web text: append a fixed slice of WebGen pages to a fresh
  * table through `df.write.format("graft")`.
  */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  val readKinds = Seq("readback")

  final val SliceRows = 3000L
  final val Slices = 2
  final val SetupReps = 3
  // appends keep getting faster over the first few (JIT); the warm-up runs
  // that many so the timed loop starts in steady state
  final val WarmAppends = 8
  private def options = Map("numPartitions" -> (2 * ctx.cores).toString, "keyColumn" -> "lang")
  private var sliceRaw: Array[Long] = _
  private var sliceSum: Array[(java.math.BigDecimal, Long)] = _

  private def inputDir(rep: Int) = ctx.dir(s"ingest-input-$rep")
  private def slice(rep: Int, i: Int): DataFrame = spark.read.parquet(s"${inputDir(rep)}/slice=$i")

  private def append(df: DataFrame, dir: String): Unit =
    ctx.tracer.span("encode.write")(df.write.format("graft").options(options).save(dir))

  def run(): Outcome = {
    // no table to load: the repeated part is the input generation
    val setupS = ctx.setup(SetupReps, ()) { rep =>
      (0 until Slices).foreach { i =>
        Gen.pages(spark, ctx.seed, i * SliceRows, (i + 1) * SliceRows, ctx.cores)
          .write.parquet(s"${inputDir(rep)}/slice=$i")
      }
    } { rep =>
      (0 until WarmAppends).foreach(w => append(slice(rep, w % Slices), ctx.dir(s"ingest-warm-$w")))
      Data.checksum(spark.read.format("graft").load(ctx.dir("ingest-warm-0"))).collect()
    }
    val rep = SetupReps - 1
    sliceRaw = Array.tabulate(Slices)(i => Data.rawBytes(slice(rep, i)))
    sliceSum = Array.tabulate(Slices)(i => Data.checksumOf(Data.checksum(slice(rep, i)).collect()(0)))

    val tables = scala.collection.mutable.ArrayBuffer[(Int, Int, String)]() // (op, slice, dir)
    ctx.loop { r =>
      val i = r % Slices
      val dir = ctx.dir(s"ingest-t$r")
      val df = slice(rep, i)
      val rec = ctx.op("append", covered = sliceRaw(i), rows = SliceRows, writes = dir) { append(df, dir); None }
      if (!rec.failed) tables += ((rec.id, i, dir))
    }

    // untimed read-back of every appended table in one query: a full scan
    val back = ctx.op("readback", covered = tables.map(t => sliceRaw(t._2)).sum, timed = false) {
      val parts = tables.toSeq.map { case (id, _, dir) =>
        Data.checksum(spark.read.format("graft").load(dir)).withColumn("op", lit(id))
      }
      val got = ctx.collect(parts.reduce(_ union _)).map(r => r.getInt(2) -> Data.checksumOf(r)).toMap
      tables.foreach { case (id, i, _) =>
        val bad = mismatch(s"append#$id read-back", got.get(id).orNull, sliceSum(i))
        if (bad.isDefined) ctx.ops(id) = ctx.ops(id).copy(wrong = bad)
      }
      None
    }
    back.error.foreach(e => ctx.wrongChecks += s"ingest.readback: $e")

    val onDisk = tables.map(t => Data.dirBytes(t._3)).sum
    val raw = tables.map(t => sliceRaw(t._2)).sum
    Outcome(setupS, onDisk.toDouble / math.max(1L, raw), sliceRaw(0), slice(rep, 0), options,
      back.decompressed)
  }

  def describe(o: Outcome): Unit = {
    val ok = ctx.timedOps.filter(x => x.kind == "append" && !x.failed)
    if (ok.nonEmpty) ctx.note("ingest_mb_s", ok.map(_.covered).sum / 1e6 / (ok.map(_.ms).sum / 1e3), "MB/s")
    noteP50("append_ms_p50", "append")
  }
}

/** Read path on TPC-H-shaped lineitem written once with
  * sortColumns=l_orderkey: full decodes, Q6-style aggregates and narrow
  * orderkey range lookups, each checked against the same query on the
  * source parquet.
  */
final class Scan(ctx: Ctx) extends Workload(ctx) {
  val readKinds = Seq("full", "agg", "lookup")

  final val Rows = 300000L
  final val SetupReps = 3
  // timed aggregates and lookups never repeat a parameter set within a run
  // (nor reuse the warm-up's, the tail of each list), so every plan pays
  // the metadata work of a query it has not seen; the warm-up runs enough
  // of each that the timed loop starts in steady state
  final val Steps = Seq("full", "agg", "lookup", "lookup", "lookup", "lookup", "agg",
    "lookup", "lookup", "lookup", "lookup")
  final val AggParams = 8
  final val LookupRanges = 128
  final val WarmAggs = 2
  final val WarmLookups = 6
  private def options = Map("numPartitions" -> (2 * ctx.cores).toString, "sortColumns" -> "l_orderkey")
  private def inputDir = ctx.dir("lineitem-input")
  private def tableDir(rep: Int) = ctx.dir(s"lineitem-$rep")
  private def table(rep: Int) = spark.read.format("graft").load(tableDir(rep))

  private val maxKey = Rows / 4
  private lazy val aggs: IndexedSeq[(Int, Double, Int)] = { // distinct (year, discount, quantity)
    val all = for (y <- 1993 to 1997; d <- 2 to 9; q <- 24 to 25) yield (y, d / 100.0, q)
    new scala.util.Random(rng(1)).shuffle(all).take(AggParams + WarmAggs)
  }
  private lazy val ranges: IndexedSeq[(Long, Long)] = {
    val r = rng(2)
    IndexedSeq.fill(LookupRanges + WarmLookups) {
      val lo = 1L + (r.nextDouble() * (maxKey - 60)).toLong
      (lo, lo + 1 + r.nextInt(50))
    }
  }

  private def q6(df: DataFrame, p: (Int, Double, Int)): DataFrame = {
    val (year, disc, qty) = p
    df.filter(col("l_shipdate") >= to_timestamp(lit(s"$year-01-01")) &&
        col("l_shipdate") < to_timestamp(lit(s"${year + 1}-01-01")) &&
        col("l_discount").between(disc - 0.011, disc + 0.011) && col("l_quantity") < qty)
      .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(20,4)")).as("revenue"),
        count(lit(1)).as("n"))
  }
  private def lookup(df: DataFrame, r: (Long, Long)): DataFrame =
    Data.checksum(df.filter(col("l_orderkey").between(r._1, r._2)))

  def run(): Outcome = {
    val setupS = ctx.setup(SetupReps, Gen.lineitem(spark, ctx.seed, Rows, ctx.cores).write.parquet(inputDir)) { rep =>
      ctx.tracer.span("encode.write")(
        spark.read.parquet(inputDir).write.format("graft").options(options).save(tableDir(rep)))
    } { rep =>
      val t = table(rep)
      (0 until 2).foreach(_ => Data.checksum(t).collect())
      (AggParams until AggParams + WarmAggs).foreach(i => q6(t, aggs(i)).collect())
      (LookupRanges until LookupRanges + WarmLookups).foreach(i => lookup(t, ranges(i)).collect())
    }
    val rep = SetupReps - 1
    val src = spark.read.parquet(inputDir)
    val raw = Data.rawBytes(src)
    val aggRaw = 4L * 8L * Rows
    val fullWant = Data.checksumOf(Data.checksum(src).collect()(0))
    val aggWant = aggs.take(AggParams).map(p => q6(src, p).collect()(0)).map(r => (r.getDecimal(0), r.getLong(1)))
    val lookupWant: Map[Int, (java.math.BigDecimal, Long)] = {
      import spark.implicits._
      val rdf = ranges.take(LookupRanges).zipWithIndex.map { case ((lo, hi), i) => (i, lo, hi) }.toDF("rid", "lo", "hi")
      val joined = src.join(broadcast(rdf), col("l_orderkey").between(col("lo"), col("hi")))
      joined.groupBy("rid")
        .agg(sum(xxhash64(src.columns.map(c => src(c)).toIndexedSeq: _*).cast("decimal(20,0)")), count(lit(1)))
        .collect().map(r => r.getInt(0) -> (r.getDecimal(1), r.getLong(2))).toMap
        .withDefaultValue((null, 0L))
    }

    var nAgg = 0
    var nLookup = 0
    def aggOp(): Unit = {
      val p = nAgg % AggParams; nAgg += 1
      ctx.op("agg", covered = aggRaw) {
        val r = ctx.collect(q6(table(rep), aggs(p)))(0)
        mismatch(s"agg#$p", (r.getDecimal(0), r.getLong(1)), aggWant(p))
      }
    }
    def lookupOp(): Unit = {
      val i = nLookup % LookupRanges; nLookup += 1
      ctx.op("lookup", covered = raw) {
        mismatch(s"lookup#$i", Data.checksumOf(ctx.collect(lookup(table(rep), ranges(i)))(0)), lookupWant(i))
      }
    }
    ctx.loop { i =>
      Steps(i % Steps.length) match {
        case "full"   => ctx.op("full", covered = raw)(mismatch("full", checksumRow(table(rep)), fullWant))
        case "agg"    => aggOp()
        case "lookup" => lookupOp()
      }
    }
    val fullBytes = ctx.timedOps.filter(_.kind == "full").map(_.decompressed).headOption.getOrElse(0L)
    Outcome(setupS, Data.dirBytes(tableDir(rep)).toDouble / raw, raw, src, options, fullBytes)
  }

  def describe(o: Outcome): Unit = {
    p50("full").foreach(ms => ctx.note("scan_mb_s", o.tableRaw / 1e6 / (ms / 1e3), "MB/s"))
    noteP50("agg_ms_p50", "agg")
    noteP50("lookup_ms_p50", "lookup")
    val lookups = ctx.timedOps.filter(x => x.kind == "lookup" && !x.failed).map(_.ms)
    Stats.tail(lookups, 0.9).foreach(v => ctx.note("lookup_ms_p90", v, "ms"))
    ctx.note("lookups", lookups.size, "count")
  }
}

/** The table layer: a catalog table of TPC-H-shaped orders under a seeded
  * sequence of small INSERTs, narrow UPDATE/DELETE, MERGE upserts of
  * 100-500 keys and a compaction every fifth write, with a point read after
  * every write. The final table must equal a plain-Spark replay of the
  * acknowledged writes.
  *
  * As a workload it runs the sequence in a closed loop on 150k rows. As a
  * probe (`probe = true`, the traced runs of the other workloads) it loads
  * 30k rows once and runs each write kind once, untimed, for the `meta`
  * and `dml` layer metrics.
  */
final class Dml(ctx: Ctx, probe: Boolean = false) extends Workload(ctx) {
  val readKinds = Seq("read")

  final val Rows = if (probe) 30000L else 150000L
  final val LoadBatches = 3
  final val SetupReps = if (probe) 1 else 3
  final val InsertRows = 200
  private def options = Map("numPartitions" -> ctx.cores.toString)
  private val ns = if (probe) "probe" else "bench"
  private def inputDir = ctx.dir(s"$ns-orders-input")
  private def tableName(rep: Int) = s"graft.$ns.orders$rep"
  private def tableDir(rep: Int) = s"${ctx.dir("warehouse")}/$ns/orders$rep"
  def table: String = tableDir(SetupReps - 1)
  /** Cold `TableMeta.snapshot` load after the table load (traced runs). */
  var snapshotFirstMs = 0.0

  /** Acknowledged writes, replayed on plain Spark for the final check. */
  private val replay = scala.collection.mutable.ArrayBuffer[DataFrame => DataFrame]()

  def run(): Outcome = {
    graft.plans.GraftExtensions.register(spark)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    def generate(): Unit = {
      Gen.orderRange(spark, ctx.seed, 1, Rows + 1, ctx.cores).write.parquet(inputDir)
      spark.read.parquet(inputDir).createOrReplaceTempView(s"${ns}_orders_input")
    }
    def load(rep: Int): Unit = {
      spark.sql(s"CREATE TABLE ${tableName(rep)} (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING) " +
        s"USING graft TBLPROPERTIES ('numPartitions' = '${ctx.cores}')")
      val per = Rows / LoadBatches
      (0 until LoadBatches).foreach { b =>
        ctx.tracer.span("encode.write")(spark.sql(s"INSERT INTO ${tableName(rep)} SELECT * FROM ${ns}_orders_input " +
          s"WHERE o_orderkey > ${b * per} AND o_orderkey <= ${(b + 1) * per}"))
      }
    }
    val setupS = if (probe) { generate(); load(0); 0.0 } else ctx.setup(SetupReps, generate())(load) { rep =>
      // warm steps on the first repetition's table, then reads on the measured one
      Seq("insert", "update", "merge").foreach(k => step(-1, k, 0, warm = true))
      pointRead(tableName(rep), 1L)
      pointRead(tableName(rep), Rows / 2)
      Data.checksum(spark.table(tableName(rep))).collect()
    }
    val rep = SetupReps - 1
    if (ctx.traced) snapshotFirstMs = Layers.snapshotMs(spark, tableDir(rep))
    val t = tableName(rep)
    val src = spark.read.parquet(inputDir)
    perRow = Data.rawBytes(src).toDouble / Rows
    val steps = Dml.Steps
    if (probe) steps.indices.foreach(i => step(i, steps(i), rep, warm = false))
    else ctx.loop(i => step(i, steps(i % steps.length), rep, warm = false))

    // final check, untimed: the table against the replay of acknowledged writes
    val want = replay.foldLeft(src)((df, f) => f(df))
    val wantSum = Data.checksumOf(Data.checksum(want).collect()(0))
    val check = ctx.op(s"$ns.check", timed = false) {
      mismatch("dml.final_table", checksumRow(spark.table(t)), wantSum)
    }
    (check.error ++ check.wrong).foreach(ctx.wrongChecks += _)
    val finalRaw = Data.rawBytes(want)
    EncodeJob.vacuum(spark, tableDir(rep))
    Outcome(setupS, Data.dirBytes(tableDir(rep)).toDouble / finalRaw, finalRaw, src, options,
      check.decompressed)
  }

  private var perRow = 0.0
  private def tableRaw: Long = (perRow * Rows).toLong

  /** One step of the sequence: a write, then a point read of a row it
    * wrote. Warm steps run unrecorded, use a small MERGE and must succeed.
    */
  private def step(i: Int, kind: String, rep: Int, warm: Boolean): Unit = {
    val t = tableName(rep)
    val dir = tableDir(rep)
    val rnd = rng(1000 + i)
    val tag = if (warm) s"w$kind" else i.toString
    // wantPrice None: the price is not known here, only the row count is checked
    def read(key: Long, wantCount: Long, wantPrice: Option[Double]): Unit = {
      def body = {
        val (n, price) = pointRead(t, key)
        mismatch(s"read($key)", (n, if (wantPrice.isEmpty) None else price), (wantCount, wantPrice))
      }
      if (warm) body.foreach(m => throw new IllegalStateException(s"warm-up: $m"))
      else ctx.op("read", covered = 16L * Rows, timed = !probe)(body)
    }
    def write(rows: Long, covered: Long)(sql: => Unit)(onAck: DataFrame => DataFrame): Boolean =
      if (warm) { sql; true }
      else {
        val rec = ctx.op(kind, covered = covered, rows = rows, timed = !probe, writes = dir) { sql; None }
        if (!rec.failed) replay += onAck
        !rec.failed
      }

    kind match {
      case "insert" => // fresh keys
        val lo = (if (warm) 900000L else 1000000L) + math.max(i, 0).toLong * InsertRows
        val ins = Gen.orderRange(spark, ctx.seed, lo, lo + InsertRows, 1)
        ins.createOrReplaceTempView(s"ins$tag")
        val k = lo + rnd.nextInt(InsertRows)
        val kPrice = ins.filter(col("o_orderkey") === k).select("o_totalprice").head().getDouble(0)
        if (write(InsertRows, (perRow * InsertRows).toLong)(spark.sql(s"INSERT INTO $t SELECT * FROM ins$tag"))(
            _.unionByName(ins)))
          read(k, 1L, Some(kPrice))

      case "update" => // a narrow range in the lower half, which is never deleted
        val ua = 1L + rnd.nextInt((Rows / 2 - 100).toInt)
        val ub = ua + 20 + rnd.nextInt(81)
        val price = 1.0 + i
        if (write(ub - ua + 1, tableRaw)(
            spark.sql(s"UPDATE $t SET o_totalprice = $price WHERE o_orderkey BETWEEN $ua AND $ub"))(
            _.withColumn("o_totalprice",
              when(col("o_orderkey").between(ua, ub), lit(price)).otherwise(col("o_totalprice")))))
          read(ua + rnd.nextInt((ub - ua + 1).toInt), 1L, Some(price))

      case "delete" => // a narrow range in the upper half
        val da = Rows / 2 + rnd.nextInt((Rows / 2 - 60).toInt)
        val db = da + 10 + rnd.nextInt(41)
        if (write(db - da + 1, tableRaw)(spark.sql(s"DELETE FROM $t WHERE o_orderkey BETWEEN $da AND $db"))(
            _.filter(!col("o_orderkey").between(da, db))))
          read(da + rnd.nextInt((db - da + 1).toInt), 0L, None)

      case "merge" => // upsert of 100-500 distinct keys: half existing, half fresh
        val n = if (warm) 40 else 100 + rnd.nextInt(401)
        val fresh = (if (warm) 3000000L else 2000000L) + math.max(i, 0) * 1000L
        val keys = (Seq.fill(n / 2)(1L + rnd.nextInt(Rows.toInt)) ++ (0 until n - n / 2).map(fresh + _)).distinct
        import spark.implicits._
        val msrc = Gen.orders(keys.toDF("k"), ctx.seed, variant = i + 2).localCheckpoint()
        msrc.createOrReplaceTempView(s"m$tag")
        val mk = keys(rnd.nextInt(keys.size))
        val mPrice = msrc.filter(col("o_orderkey") === mk).select("o_totalprice").head().getDouble(0)
        if (write(keys.size, tableRaw)(spark.sql(
            s"""MERGE INTO $t t USING m$tag s ON t.o_orderkey = s.o_orderkey
               |WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin))({ base =>
            val upd = base.join(msrc.select(col("o_orderkey"), col("o_totalprice").as("__p")), Seq("o_orderkey"), "left")
              .withColumn("o_totalprice", coalesce(col("__p"), col("o_totalprice"))).drop("__p")
            upd.unionByName(msrc.join(base.select("o_orderkey"), Seq("o_orderkey"), "left_anti"))
              .localCheckpoint()
          }))
          read(mk, 1L, Some(mPrice))

      case "compact" =>
        if (write(0L, tableRaw)(EncodeJob.compact(spark, dir, ctx.cores))(identity))
          read(1L + rnd.nextInt((Rows / 2).toInt), 1L, None)
    }
  }

  /** (rows, max price) for one key; a point SELECT through the catalog. */
  private def pointRead(t: String, key: Long): (Long, Option[Double]) = {
    val r = ctx.collect(spark.sql(s"SELECT count(*), max(o_totalprice) FROM $t WHERE o_orderkey = $key"))(0)
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  def describe(o: Outcome): Unit = {
    noteP50("dml_ms_p50", "update", "delete", "merge")
    noteP50("commit_ms_p50", "insert")
    noteP50("read_ms_p50", "read")
    ctx.note("dml_ops_s", ctx.timedOps.size / (ctx.timedOps.map(_.ms).sum / 1e3), "ops/s")
    noteP50("merge_ms_p50", "merge")
    ctx.note("merge_failed", ctx.timedOps.count(x => x.kind == "merge" && x.failed), "count")
  }
}

object Dml {
  final val Steps = Seq("insert", "update", "delete", "merge", "compact")
}
