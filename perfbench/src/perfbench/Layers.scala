package perfbench

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.columns.{CodecSelector, ColumnCodec, ColumnStreams}
import graft.core.{ByteBuf, BytesIn, Fsst, RleV2Reader, RleV2Writer, StringDict, ZlibBlock}
import graft.spark.{EncodeJob, TableEncoder, TableMeta}

/** Per-layer metrics of the traced run, measured from outside each layer:
  * single-thread calls to `graft.core` / `graft.columns` on columns drawn
  * from the workload's own input, stage-by-stage calls to the
  * `graft.spark` write path, the Spark listener, directory walks and
  * `BlockCompression.decompressInputBytes`.
  */
object Layers {
  /** Raw bytes of kernel input drawn from the workload's input. */
  final val SampleBytes = 8L << 20

  /** (name, value, unit) */
  type Metric = (String, Double, String)

  /** MB/s over `bytes`: median of 5 timed calls after 2 warm-up calls. */
  private def rate(bytes: Long)(body: => Any): (Double, Double) = {
    (0 until 2).foreach(_ => body)
    val s = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
    (bytes / 1e6 / s, s)
  }

  private def timeMs(body: => Any): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** Median of three cold `TableMeta.snapshot` loads. */
  def snapshotMs(spark: SparkSession, table: String): Double =
    Stats.median((0 until 3).map { _ =>
      TableMeta.invalidateAll()
      timeMs(TableMeta.snapshot(spark, table))
    })

  /** One sampled column, converted to what its codec takes. */
  private sealed trait Col { def name: String; def raw: Long }
  private final case class Longs(name: String, v: Array[Long]) extends Col { def raw = 8L * v.length }
  private final case class Doubles(name: String, v: Array[Double]) extends Col { def raw = 8L * v.length }
  private final case class Micros(name: String, v: Array[Long]) extends Col { def raw = 8L * v.length }
  private final case class Strs(name: String, v: Array[Array[Byte]], binary: Boolean) extends Col {
    def raw = v.iterator.map(_.length.toLong).sum
  }

  private def sample(input: DataFrame): Seq[Col] = {
    val rows = input.count()
    val perRow = math.max(1.0, Data.rawBytes(input).toDouble / math.max(1L, rows))
    val n = math.max(1000L, math.min(rows, (SampleBytes / perRow).toLong)).toInt
    val got: Array[Row] = input.limit(n).collect()
    input.schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      f.dataType match {
        case LongType    => Some(Longs(f.name, got.map(_.getLong(i))))
        case IntegerType => Some(Longs(f.name, got.map(_.getInt(i).toLong)))
        case DoubleType  => Some(Doubles(f.name, got.map(_.getDouble(i))))
        case TimestampType => Some(Micros(f.name, got.map { r =>
          val t = r.getTimestamp(i); Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
        }))
        case StringType => Some(Strs(f.name, got.map(_.getString(i).getBytes(StandardCharsets.UTF_8)), false))
        case BinaryType => Some(Strs(f.name, got.map(_.getAs[Array[Byte]](i)), true))
        case _          => None
      }
    }
  }

  private def typeName(c: Col): String = c match {
    case _: Longs   => "long"
    case _: Doubles => "double"
    case _: Micros  => "timestamp"
    case s: Strs    => if (s.binary) "binary" else "string"
  }

  /** graft.core and graft.columns, single thread. Per-column detail goes
    * to `detail`; the returned metrics aggregate over the columns.
    */
  def kernels(ctx: Ctx, input: DataFrame, detail: mutable.ArrayBuffer[Metric]): Seq[Metric] = {
    val cols = ctx.tracer.span("probe.sample")(sample(input))
    val out = mutable.ArrayBuffer[Metric]()

    // core.rlev2: every integer stream the columns produce (values, timestamp
    // seconds, string lengths)
    val ints: Seq[(String, Array[Long], Boolean)] = cols.flatMap {
      case Longs(n, v)      => Seq((n, v, true))
      case Micros(n, v)     => Seq((n, v.map(x => Math.floorDiv(x, 1000000L)), true))
      case Strs(n, v, _)    => Seq((s"$n.len", v.map(_.length.toLong), false))
      case _                => Nil
    }
    var encS, decS, rawB, outB = 0.0
    ctx.tracer.span("probe.core.rlev2")(ints.foreach { case (n, v, signed) =>
      val buf = new ByteBuf(v.length * 2)
      val (encRate, es) = rate(8L * v.length) { buf.reset(); RleV2Writer.write(buf, v, signed, false) }
      val bytes = buf.toArray
      val (decRate, ds) = rate(8L * v.length)(RleV2Reader.read(new BytesIn(bytes), signed, v.length))
      detail += ((s"core.rlev2.encode_mb_s.$n", encRate, "MB/s"))
      detail += ((s"core.rlev2.decode_mb_s.$n", decRate, "MB/s"))
      detail += ((s"core.out_per_in.rlev2.$n", bytes.length.toDouble / (8L * v.length), "ratio"))
      encS += es; decS += ds; rawB += 8.0 * v.length; outB += bytes.length
    })
    out += (("core.rlev2.encode_mb_s", rawB / 1e6 / encS, "MB/s"))
    out += (("core.rlev2.decode_mb_s", rawB / 1e6 / decS, "MB/s"))
    out += (("core.out_per_in.rlev2", outB / rawB, "ratio"))

    val strs = cols.collect { case s: Strs if !s.binary => s }
    // FSST on the longest string column, dictionary on the lowest-cardinality one
    val fsstCol = strs.maxBy(s => s.raw.toDouble / s.v.length)
    val dictCol = strs.minBy(s => s.v.map(b => new String(b, StandardCharsets.UTF_8)).distinct.length)
    ctx.tracer.span("probe.core.fsst") {
      val corpus = new ByteBuf(1 << 16)
      fsstCol.v.iterator.takeWhile(_ => corpus.length < (1 << 16)).foreach(b => corpus.writeBytes(b))
      detail += ((s"core.fsst.train_ms.${fsstCol.name}", timeMs(Fsst.train(corpus.toArray)), "ms"))
      val table = Fsst.train(corpus.toArray)
      val comp = new ByteBuf(fsstCol.raw.toInt + 64)
      val ends = new Array[Int](fsstCol.v.length)
      val (cRate, _) = rate(fsstCol.raw) {
        comp.reset()
        var i = 0
        while (i < fsstCol.v.length) { Fsst.compress(table, fsstCol.v(i), comp); ends(i) = comp.length; i += 1 }
      }
      val data = comp.toArray
      val dec = new ByteBuf(fsstCol.raw.toInt + 64)
      val (dRate, _) = rate(fsstCol.raw) {
        dec.reset()
        var from = 0
        var i = 0
        while (i < ends.length) { Fsst.decompress(table, data, from, ends(i), dec); from = ends(i); i += 1 }
      }
      require(dec.length == fsstCol.raw, s"FSST round trip lost bytes on ${fsstCol.name}")
      out += (("core.fsst.compress_mb_s", cRate, "MB/s"))
      out += (("core.fsst.decompress_mb_s", dRate, "MB/s"))
      out += (("core.out_per_in.fsst", data.length.toDouble / fsstCol.raw, "ratio"))
      detail += ((s"core.fsst.column.${fsstCol.name}", fsstCol.raw.toDouble, "B"))
    }
    ctx.tracer.span("probe.core.dict") {
      val values = dictCol.v.map(b => new String(b, StandardCharsets.UTF_8))
      val (dRate, _) = rate(dictCol.raw) {
        val d = new StringDict()
        var i = 0
        while (i < values.length) { d.add(values(i)); i += 1 }
        StringDict.serialize(d.freeze()._1)
      }
      val enc = ColumnCodec.encodeStrBytesDict(dictCol.v, Array.fill(dictCol.v.length)(true))
      out += (("core.dict.encode_mb_s", dRate, "MB/s"))
      out += (("core.out_per_in.dict", enc.totalBytes.toDouble / dictCol.raw, "ratio"))
      detail += ((s"core.dict.column.${dictCol.name}", dictCol.raw.toDouble, "B"))
    }

    // graft.columns: each column through the codec the engine would pick
    val selectMs = Stats.median((0 until 3).map(_ => timeMs(strs.foreach { s =>
      CodecSelector.chooseStringCodec(CodecSelector.stringStats(
        s.v.iterator.take(20000).map(b => new String(b, StandardCharsets.UTF_8)).toSeq))
    })))
    val codecs = strs.map { s =>
      s.name -> CodecSelector.chooseStringCodec(CodecSelector.stringStats(
        s.v.iterator.take(20000).map(b => new String(b, StandardCharsets.UTF_8)).toSeq))
    }.toMap
    val encoded = mutable.ArrayBuffer[Array[Byte]]()
    val perType = mutable.LinkedHashMap[String, Array[Double]]() // raw, enc s, dec s
    ctx.tracer.span("probe.columns")(cols.foreach { c =>
      val present = Array.fill(c match {
        case Longs(_, v) => v.length; case Doubles(_, v) => v.length
        case Micros(_, v) => v.length; case Strs(_, v, _) => v.length
      })(true)
      def enc(): ColumnStreams = c match {
        case Longs(_, v)         => ColumnCodec.encodeLong(v, present)
        case Doubles(_, v)       => ColumnCodec.encodeDouble(v, present)
        case Micros(_, v)        => ColumnCodec.encodeTimestamp(v, present)
        case Strs(_, v, true)    => ColumnCodec.encodeBinary(v, present)
        case Strs(n, v, false)   => CodecSelector.encodeStrBytes(codecs(n), v, present)
      }
      def dec(cs: ColumnStreams): Any = c match {
        case _: Longs          => ColumnCodec.decodeLong(cs)
        case _: Doubles        => ColumnCodec.decodeDouble(cs)
        case _: Micros         => ColumnCodec.decodeTimestamp(cs)
        case Strs(_, _, true)  => ColumnCodec.decodeBinary(cs)
        case Strs(_, _, false) => ColumnCodec.decodeStrBytes(cs)
      }
      val (eRate, es) = rate(c.raw)(enc())
      val cs = enc()
      val (dRate, ds) = rate(c.raw)(dec(cs))
      cs.streams.valuesIterator.foreach(encoded += _)
      detail += ((s"columns.encode_mb_s.${c.name}", eRate, "MB/s"))
      detail += ((s"columns.decode_mb_s.${c.name}", dRate, "MB/s"))
      val t = perType.getOrElseUpdate(typeName(c), Array(0.0, 0.0, 0.0))
      t(0) += c.raw; t(1) += es; t(2) += ds
    })
    perType.foreach { case (t, a) =>
      detail += ((s"columns.encode_mb_s.$t", a(0) / 1e6 / a(1), "MB/s"))
      detail += ((s"columns.decode_mb_s.$t", a(0) / 1e6 / a(2), "MB/s"))
    }
    val totals = perType.values.foldLeft(Array(0.0, 0.0, 0.0))((acc, a) => acc.zip(a).map(p => p._1 + p._2))
    out += (("columns.encode_mb_s", totals(0) / 1e6 / totals(1), "MB/s"))
    out += (("columns.decode_mb_s", totals(0) / 1e6 / totals(2), "MB/s"))
    out += (("columns.select_ms", selectMs, "ms"))

    // zlib on the encoded streams: what the write path compresses
    ctx.tracer.span("probe.core.zlib") {
      val all = new ByteBuf(encoded.iterator.map(_.length).sum + 16)
      encoded.foreach(all.writeBytes)
      val in = all.toArray
      var comp: Array[Byte] = null
      val (cRate, _) = rate(in.length.toLong) { comp = ZlibBlock.compress(in) }
      val (dRate, _) = rate(in.length.toLong)(ZlibBlock.decompress(comp))
      out += (("core.zlib.compress_mb_s", cRate, "MB/s"))
      out += (("core.zlib.decompress_mb_s", dRate, "MB/s"))
      out += (("core.out_per_in.zlib", comp.length.toDouble / in.length, "ratio"))
    }
    out.toSeq
  }

  /** graft.spark write path, stage by stage, on the workload's write input.
    * Returns the metrics and the op id of the whole write.
    */
  def encodeStages(ctx: Ctx, input: DataFrame, options: Map[String, String]): (Seq[Metric], Int) = {
    val spark = ctx.spark
    val raw = Data.rawBytes(input)
    var codecs: Map[String, String] = Map.empty
    val pin = ctx.op("probe.pin_codecs", timed = false) {
      codecs = EncodeJob.pinStringCodecs(input, EncodeJob.Config("", 0, None).sampleRows); None
    }
    val shredEncode = ctx.op("probe.shred_encode", timed = false) {
      val specs = TableEncoder.columnSpecs(input.schema, codecs)
      TableEncoder.encode(TableEncoder.shred(input, specs), specs, segmented = true)
        .agg(sum("encoded_bytes")).collect()
      None
    }
    val dir = ctx.dir("probe-write")
    val write = ctx.op("probe.write", covered = raw, timed = false, writes = dir) {
      input.write.format("graft").options(options).save(dir); None
    }
    Seq(pin, shredEncode, write).flatMap(_.error).foreach(e => ctx.wrongChecks += s"probe: $e")
    (Seq(("encode.pin_codecs_s", pin.ms / 1e3, "s"),
      ("encode.shred_encode_s", shredEncode.ms / 1e3, "s"),
      ("encode.write_total_s", write.ms / 1e3, "s"),
      ("encode.write_other_s", math.max(0.0, write.ms - pin.ms - shredEncode.ms) / 1e3, "s")), write.id)
  }

  /** Listener- and walk-based metrics of the scan, encode and dml layers;
    * call after the session stopped, so every listener event is in.
    */
  def sparkSide(ctx: Ctx, w: Workload, o: Outcome, writeProbe: Int, raw: Long,
                detail: mutable.ArrayBuffer[Metric]): Seq[Metric] = {
    val ev = ctx.events.get
    val out = mutable.ArrayBuffer[Metric]()
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def driverMs(op: OpRecord) =
      op.ms - Stats.unionLength(ev.tasksOf(op.id).map(t => (t.launchMs, t.finishMs))).toDouble
    def cpuFrac(ops: Seq[OpRecord]) = {
      val ts = ops.flatMap(op => ev.tasksOf(op.id))
      if (ts.isEmpty) 0.0 else ts.map(_.cpuNs / 1e6).sum / math.max(1.0, ts.map(_.runMs.toDouble).sum)
    }
    def span(op: OpRecord, name: String) = ctx.tracer.durationsMs(op.id, name).sum

    // encode: the stand-alone write of the probe
    val wp = ctx.ops(writeProbe)
    out += (("encode.shuffle_bytes_per_raw_byte",
      ev.tasksOf(wp.id).map(_.shuffleWriteBytes).sum.toDouble / math.max(1L, raw), "ratio"))
    out += (("encode.jobs_per_write", ev.jobs(wp.id).toDouble, "count"))
    out += (("encode.cpu_frac", cpuFrac(Seq(wp)), "ratio"))

    // scan: the workload's reads, all classes, then per class in the detail
    val reads = ctx.ops.filter(op => w.readKinds.contains(op.kind) && !op.failed).toSeq
    def scanMetrics(rs: Seq[OpRecord], suffix: String): Seq[Metric] = Seq(
      (s"scan.plan_ms$suffix", med(rs.map(span(_, "scan.plan"))), "ms"),
      (s"scan.exec_ms$suffix", med(rs.map(span(_, "scan.exec"))), "ms"),
      (s"scan.jobs_per_op$suffix", mean(rs.map(op => ev.jobs(op.id).toDouble)), "count"),
      (s"scan.tasks_per_op$suffix", mean(rs.map(op => ev.tasksOf(op.id).size.toDouble)), "count"),
      (s"scan.driver_ms$suffix", med(rs.map(driverMs)), "ms"),
      (s"scan.decompressed_bytes_per_op$suffix", mean(rs.map(_.decompressed.toDouble)), "B"),
      (s"scan.decompressed_frac$suffix",
        mean(rs.map(_.decompressed.toDouble)) / math.max(1L, o.fullScanDecompressed), "ratio"),
      (s"scan.cpu_frac$suffix", cpuFrac(rs), "ratio"),
      (s"scan.gc_ms_per_op$suffix",
        mean(rs.map(op => ev.tasksOf(op.id).map(_.gcMs.toDouble).sum)), "ms"))
    out ++= scanMetrics(reads, "")
    w.readKinds.foreach(k => detail ++= scanMetrics(reads.filter(_.kind == k), s".$k"))

    // dml: the writes of the dml workload or probe, all kinds, then per kind
    val dmlOps = ctx.ops.filter(op => Dml.Steps.contains(op.kind)).toSeq
    val writes = dmlOps.filterNot(_.failed)
    def dmlMetrics(ws: Seq[OpRecord], suffix: String): Seq[Metric] = Seq(
      (s"dml.ms$suffix", med(ws.map(_.ms)), "ms"),
      (s"dml.jobs_per_op$suffix", mean(ws.map(op => ev.jobs(op.id).toDouble)), "count"),
      (s"dml.driver_ms$suffix", med(ws.map(driverMs)), "ms"),
      (s"dml.files_written_per_op$suffix", mean(ws.map(_.filesWritten.toDouble)), "count"))
    out ++= dmlMetrics(writes, "").tail
    Dml.Steps.foreach { k =>
      val ks = writes.filter(_.kind == k)
      if (ks.nonEmpty) detail ++= dmlMetrics(ks, s".$k")
    }
    val changed = writes.filter(_.rows > 0)
    out += (("dml.bytes_written_per_row_changed",
      changed.map(_.bytesWritten).sum.toDouble / math.max(1L, changed.map(_.rows).sum), "B"))
    out += (("dml.compact_ms", med(writes.filter(_.kind == "compact").map(_.ms)), "ms"))
    out += (("dml.failed_frac", dmlOps.count(_.failed).toDouble / math.max(1, dmlOps.size), "ratio"))
    dmlOps.filter(_.failed).foreach(op => detail += ((s"dml.failed.${op.kind}#${op.id}", op.rows.toDouble, "keys")))
    out.toSeq
  }
}
