package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.core.BlockCompression

/** One operation the harness ran: a timed op of the closed loop, or an
  * untimed probe of the traced run (`timed = false`).
  *
  * @param covered raw bytes of the input the statement covers (rows it
  *                writes, or every row of the columns it reads)
  * @param rows    rows the statement names (written, updated, deleted)
  * @param cpuNs   CPU time of the whole JVM during the op; unlike wall
  *                time it does not grow when the host steals CPU
  */
final case class OpRecord(id: Int, kind: String, timed: Boolean, startNs: Long, endNs: Long,
                          error: Option[String], wrong: Option[String],
                          decompressed: Long, covered: Long, rows: Long,
                          filesWritten: Long = 0L, bytesWritten: Long = 0L, cpuNs: Long = 0L) {
  def ms: Double = (endNs - startNs) / 1e6
  def failed: Boolean = error.isDefined || wrong.isDefined
}

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** In-memory spans around the harness's own calls into each layer. Off,
  * `span` is a single branch around the body.
  */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  var op: Int = -1
  var overheadNs = 0L
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      val id = spans.length
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t1 = System.nanoTime()
      try body
      finally {
        val t2 = System.nanoTime()
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, t1, t2)
        overheadNs += (t1 - t0) + (System.nanoTime() - t2)
      }
    }

  def durationsMs(op: Int, name: String): Seq[Double] =
    spans.iterator.filter(s => s.op == op && s.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq
}

final case class TaskRec(op: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleWriteBytes: Long)

/** Spark listener of the traced run: jobs and tasks, keyed by the op id the
  * client thread sets as a local property before each op.
  */
final class SparkEvents extends SparkListener {
  val jobsPerOp = new ConcurrentHashMap[Int, Integer]()
  private val stageOp = new ConcurrentHashMap[Int, Integer]()
  val tasks = ArrayBuffer[TaskRec]()
  @volatile var handlerNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkEvents.OpKey)))
      .map(_.toInt).getOrElse(-1)
    jobsPerOp.merge(op, 1, (a: Integer, b: Integer) => a + b)
    e.stageIds.foreach(s => stageOp.put(s, op))
    handlerNs += System.nanoTime() - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) {
      val rec = TaskRec(Option(stageOp.get(e.stageId)).map(_.intValue).getOrElse(-1),
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten)
      tasks.synchronized(tasks += rec)
    }
    handlerNs += System.nanoTime() - t0
  }

  def jobs(op: Int): Int = Option(jobsPerOp.get(op)).map(_.intValue).getOrElse(0)
  def tasksOf(op: Int): Seq[TaskRec] = tasks.synchronized(tasks.filter(_.op == op).toSeq)
}

object SparkEvents {
  final val OpKey = "perfbench.op"
}

/** Run context shared by the workloads: session, tracing, the op log and
  * the report lines printed before the JSON result.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int, val traced: Boolean,
                val work: String, val cores: Int) {
  val tracer = new Tracer(traced)
  val events: Option[SparkEvents] =
    if (traced) { val l = new SparkEvents; spark.sparkContext.addSparkListener(l); Some(l) } else None
  val ops = ArrayBuffer[OpRecord]()
  /** (name, value, unit) lines of the human-readable report. */
  val report = ArrayBuffer[(String, Double, String)]()
  /** Wrong answers outside any single op (e.g. a final table check). */
  val wrongChecks = ArrayBuffer[String]()
  val setupReps = ArrayBuffer[Double]()

  def note(name: String, value: Double, unit: String): Unit = report += ((name, value, unit))

  def dir(name: String): String = s"$work/$name"

  /** Run one op; errors (a stack overflow included) are caught, recorded
    * and the run goes on. The body returns a wrong-answer message, if any.
    */
  def op(kind: String, covered: Long = 0L, rows: Long = 0L, timed: Boolean = true,
         writes: String = null)(body: => Option[String]): OpRecord = {
    val id = ops.length
    // traced writes: new files under the table, by directory walks outside the timing
    val before = if (traced && writes != null) Data.files(writes) else Map.empty[String, Long]
    tracer.op = id
    if (traced) spark.sparkContext.setLocalProperty(SparkEvents.OpKey, id.toString)
    val d0 = BlockCompression.decompressInputBytes
    val c0 = Ctx.processCpuNs()
    val t0 = System.nanoTime()
    var error: Option[String] = None
    var wrong: Option[String] = None
    try wrong = tracer.span(s"op.$kind")(body)
    catch {
      case e: StackOverflowError => error = Some("StackOverflowError")
      case NonFatal(e) =>
        error = Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(160)}")
    }
    val t1 = System.nanoTime()
    val c1 = Ctx.processCpuNs()
    val written = if (traced && writes != null) Data.files(writes) -- before.keySet else Map.empty[String, Long]
    val rec = OpRecord(id, kind, timed, t0, t1, error, wrong,
      BlockCompression.decompressInputBytes - d0, covered, rows,
      written.keys.count(_.endsWith(".parquet")), written.values.sum, c1 - c0)
    ops += rec
    if (traced) spark.sparkContext.setLocalProperty(SparkEvents.OpKey, null)
    tracer.op = -1
    rec
  }

  /** Collect a query; the traced run splits planning from execution. */
  def collect(df: DataFrame): Array[Row] =
    if (!traced) df.collect()
    else {
      tracer.span("scan.plan")(df.queryExecution.executedPlan)
      tracer.span("scan.exec")(df.collect())
    }

  /** Run steps 0, 1, ... of the closed loop until `seconds` have passed. */
  def loop(step: Int => Unit): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) { step(i); i += 1 }
  }

  /** Set-up: `generate` once, `load` repeated `reps` times, then one
    * `warm` on the last repetition. Returns generation plus the median
    * repetition plus the warm-up, in seconds.
    */
  def setup(reps: Int, generate: => Unit)(load: Int => Unit)(warm: Int => Unit): Double = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      tracer.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    }
    val genS = timed("setup.generate")(generate)
    (0 until reps).foreach(r => setupReps += timed("setup.load")(load(r)))
    genS + Stats.median(setupReps.toSeq) + timed("setup.warm")(warm(reps - 1))
  }

  def timedOps: Seq[OpRecord] = ops.filter(_.timed).toSeq
}

object Ctx {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNs(): Long = os.getProcessCpuTime
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A percentile is reported only when at least ten samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.count(_ > quantile(xs, q)) >= 10) Some(quantile(xs, q)) else None

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Data {
  /** Order-independent table checksum: sum of xxhash64 over all columns,
    * and the row count.
    */
  def checksum(df: DataFrame): DataFrame =
    df.agg(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(20,0)")).as("h"),
      count(lit(1)).as("n"))

  def checksumOf(r: Row): (java.math.BigDecimal, Long) = (r.getDecimal(0), r.getLong(1))

  /** Raw bytes: string and binary lengths, plus 8 bytes per other non-null value. */
  def rawBytes(df: DataFrame): Long = {
    val per: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case StringType | BinaryType => coalesce(octet_length(c).cast("long"), lit(0L))
        case _                       => when(c.isNull, lit(0L)).otherwise(lit(8L))
      }
    }
    val r = df.agg(sum(per.reduce(_ + _))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def dirBytes(dir: String): Long = files(dir).values.sum

  /** Regular files under a directory, with their sizes. */
  def files(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val st = Files.walk(root)
    try {
      val out = Map.newBuilder[String, Long]
      st.forEach((p: Path) => if (Files.isRegularFile(p)) out += p.toString -> Files.size(p))
      out.result()
    } finally st.close()
  }
}
