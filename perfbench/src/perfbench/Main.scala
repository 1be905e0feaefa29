package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run: a workload on Spark local[cores], one client thread.
  * Prints a human-readable report, then the JSON result as the last line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, traced: Boolean,
                        work: String, cores: Int, runs: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("work"), need("cores").toInt, need("runs"))
  }

  def session(work: String, cores: Int, app: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.graft", "graft.spark.source.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val weather0 = Weather.sample()
    val t0 = System.nanoTime()
    val spark = session(a.work, a.cores, s"perfbench-${a.workload}")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a.seed, a.seconds, a.traced, a.work, a.cores)
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(ctx)
      case "scan"   => new Scan(ctx)
      case "dml"    => new Dml(ctx)
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val detail = mutable.ArrayBuffer[Layers.Metric]()
    val layers = mutable.ArrayBuffer[Layers.Metric]()
    try {
      val o = w.run()
      w.describe(o)
      if (a.traced) {
        layers ++= Layers.kernels(ctx, o.input, detail)
        val (enc, writeProbe) = Layers.encodeStages(ctx, o.input, o.writeOptions)
        layers ++= enc
        // meta and dml layers: the dml workload's own table, else a small probe
        val dml = w match {
          case d: Dml => d
          case _      => val d = new Dml(ctx, probe = true); d.run(); d
        }
        layers += (("meta.snapshot_ms_first", dml.snapshotFirstMs, "ms"))
        layers += (("meta.snapshot_ms_last", Layers.snapshotMs(spark, dml.table), "ms"))
        layers += (("meta.commit_files", Seq("manifest", "compactions")
          .map(d => Data.files(s"${dml.table}/$d").size).sum.toDouble, "count"))
        val raw = Data.rawBytes(o.input)
        spark.stop() // drains the listener bus
        layers ++= Layers.sparkSide(ctx, w, o, writeProbe, raw, detail)
        val spanNs = ctx.tracer.overheadNs + ctx.events.map(_.handlerNs).getOrElse(0L)
        val timedNs = ctx.timedOps.map(op => op.endNs - op.startNs).sum
        layers += (("trace.overhead_frac", spanNs.toDouble / math.max(1L, timedNs), "ratio"))
      } else spark.stop()
      finish(a, w, o, sessionS, weather0, layers.toSeq, detail.toSeq)
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        try spark.stop() catch { case _: Throwable => }
        System.exit(1)
    }
    System.exit(0)
  }

  private def finish(a: Args, w: Workload, o: Outcome, sessionS: Double, weather0: Weather,
                     layers: Seq[Layers.Metric], detail: Seq[Layers.Metric]): Unit = {
    val ctx = w.ctx
    val ops = ctx.timedOps
    require(ops.nonEmpty, "no op completed within the run")
    val failed = ops.count(_.failed)
    // a failed op misses every latency limit: it counts as +inf in percentiles
    val lat = ops.map(op => if (op.failed) Double.PositiveInfinity else op.ms)
    val busyS = ops.map(_.ms).sum / 1e3
    val e2e: Seq[Layers.Metric] = Seq(
      ("setup_s", o.setupS, "s"),
      ("op_ms_p50", Stats.median(lat), "ms"),
      ("mb_s", ops.map(_.covered).sum / 1e6 / busyS, "MB/s"),
      ("cpu_ms_per_op", ops.map(_.cpuNs).sum / 1e6 / ops.size, "ms"),
      ("bytes_per_raw_byte", o.bytesPerRawByte, "ratio"))
    val weather1 = Weather.sample()

    def line(m: Layers.Metric) = f"  ${m._1}%-46s ${m._2}%14.4f ${m._3}"
    println(s"perfbench ${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.traced) 1 else 0} " +
      s"local[${a.cores}]")
    println(f"  run metadata: steal ${Weather.stealPct(weather0, weather1)}%.2f%%, loadavg ${weather0.load} -> " +
      f"${weather1.load}, session start $sessionS%.2f s, set-up reps ${ctx.setupReps.map(s => f"$s%.2f").mkString(" ")} s")
    println("end-to-end:")
    e2e.foreach(m => println(line(m)))
    println("workload:")
    (ctx.report.toSeq ++ Seq(("ops_s", ops.size / busyS, "1/s"),
      ("ops_failed_frac", failed.toDouble / ops.size, "ratio"))).foreach(m => println(line(m)))
    ops.filter(_.failed).groupBy(_.kind).foreach { case (k, fs) =>
      println(s"  failed $k x${fs.size}: ${(fs.head.error ++ fs.head.wrong).mkString}")
    }
    ctx.wrongChecks.foreach(c => println(s"  wrong: $c"))
    if (a.traced) {
      println("per-layer:")
      layers.foreach(m => println(line(m)))
      println("per-layer detail:")
      detail.foreach(m => println(line(m)))
      println(s"span self time (ms), ${ctx.tracer.spans.size} spans:")
      spanSelfMs(ctx.tracer).foreach { case (n, ms, c) => println(f"  $n%-30s $ms%12.1f  x$c") }
    }
    val correct = ctx.wrongChecks.isEmpty && !ops.exists(_.wrong.isDefined)
    val metrics = if (a.traced) layers else e2e
    val record = Record.write(a, ctx, e2e, layers, detail, weather0, weather1)
    println(s"  run record: $record")
    println(s"""{"correct": $correct, "attempted": ${ops.size}, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m._1}": {"value": ${num(m._2)}, "unit": "${m._3}"}""").mkString(", ") + "}}")
    System.out.flush()
  }

  /** JSON has no infinity: a median of failed ops prints as the largest double. */
  private def num(v: Double): String =
    if (v.isNaN) "0.0" else if (v.isInfinite) Double.MaxValue.toString else v.toString

  /** (span name, self ms, count): duration minus the time child spans cover. */
  private def spanSelfMs(t: Tracer): Seq[(String, Double, Int)] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    t.spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    t.spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e6, ss.size)
    }.sortBy(-_._2)
  }
}

/** CPU steal and load average: recorded with each run, not as metrics. */
final case class Weather(steal: Long, total: Long, load: String)

object Weather {
  def sample(): Weather = {
    def read(p: String) = try new String(Files.readAllBytes(Paths.get(p))) catch { case _: Exception => "" }
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.emptyLongArray)
    Weather(if (cpu.length > 7) cpu(7) else 0L, cpu.sum, read("/proc/loadavg").split(' ').take(3).mkString(" "))
  }

  def stealPct(a: Weather, b: Weather): Double =
    if (b.total > a.total) 100.0 * (b.steal - a.steal) / (b.total - a.total) else 0.0
}

/** The run record: metadata, every metric and the spans, as JSON. */
object Record {
  def write(a: Main.Args, ctx: Ctx, e2e: Seq[Layers.Metric], layers: Seq[Layers.Metric],
            detail: Seq[Layers.Metric], w0: Weather, w1: Weather): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", a.workload).put("seed", a.seed).put("seconds", a.seconds)
      .put("trace", a.traced).put("cores", a.cores)
      .put("steal_pct", Weather.stealPct(w0, w1)).put("loadavg_start", w0.load).put("loadavg_end", w1.load)
    val reps = root.putArray("setup_reps_s")
    ctx.setupReps.foreach(reps.add(_))
    def metrics(name: String, ms: Seq[Layers.Metric]): Unit = {
      val n = root.putObject(name)
      ms.foreach(x => n.putObject(x._1).put("value", x._2).put("unit", x._3))
    }
    metrics("end_to_end", e2e)
    metrics("workload", ctx.report.toSeq)
    metrics("per_layer", layers)
    metrics("per_layer_detail", detail)
    val ops = root.putArray("ops")
    ctx.ops.foreach { op =>
      val n = ops.addObject().put("id", op.id).put("kind", op.kind).put("timed", op.timed).put("ms", op.ms)
        .put("decompressed", op.decompressed)
      (op.error ++ op.wrong).foreach(n.put("failure", _))
    }
    val spans = root.putArray("spans")
    ctx.tracer.spans.foreach { s =>
      spans.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op).put("name", s.name)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    Files.createDirectories(Paths.get(a.runs))
    val path = Paths.get(a.runs, s"${a.workload}-seed${a.seed}-trace${if (a.traced) 1 else 0}.json")
    m.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
    path.toString
  }
}
