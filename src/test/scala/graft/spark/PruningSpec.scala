package graft.spark

import graft.columns.Codecs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Stats-driven chunk pruning + per-column stats correctness. */
class PruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Inclusive [lo, hi] on one column as pushed source filters. */
  private def between(column: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(column, lo), LessThanOrEqual(column, hi))

  test("decodePruned skips non-overlapping chunks and returns exact rows") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val clustered = li.repartitionByRange(4, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs, strideRows = 500)
      .persist()

    val totalChunkGroups = chunks.filter(col("column") === "l_orderkey").count()
    assert(totalChunkGroups > 4, "need multiple chunks for the pruning test to be meaningful")

    val lo = 500L; val hi = 700L
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("l_orderkey", lo, hi)), specs)
    // pruned decode returns a superset restricted to overlapping chunks
    val exact = decoded.filter(col("l_orderkey").between(lo, hi))
    val expected = li.filter(col("l_orderkey").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)

    // and it must actually have pruned: decoded rows < total rows
    assert(decoded.count() < li.count(), "pruning removed nothing")
    chunks.unpersist()
  }

  test("stride-level row index skips inside a partially-overlapping chunk at default chunk size") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val clustered = li.repartitionByRange(2, col("l_orderkey")).sortWithinPartitions("l_orderkey")
    val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
    // DEFAULT chunk size (one chunk per partition here) with a fine
    // index stride: pruning must act BELOW chunk granularity
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs,
      indexStrideRows = 200).persist()
    val chunkGroups = chunks.filter(col("column") === "l_orderkey").count()

    val lo = 500L; val hi = 700L
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("l_orderkey", lo, hi)), specs).persist()

    // exactness: superset restricted by the predicate equals the source
    val exact = decoded.filter(col("l_orderkey").between(lo, hi))
    val expected = li.filter(col("l_orderkey").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)

    // sub-chunk evidence: emitted rows < the kept CHUNKS' row_count, so
    // skipping happened below chunk granularity
    val keptChunkRows = chunks.filter(col("column") === "l_orderkey" &&
        !(col("max_val").cast("long") < lo || col("min_val").cast("long") > hi))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping: emitted $emitted == kept-chunk rows $keptChunkRows (groups=$chunkGroups)")
    // and every expected row survived the skipping
    assert(emitted >= expected.count())
    decoded.unpersist(); chunks.unpersist()
  }

  test("decodePruned prunes on a double column's min/max") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_extendedprice").cast("double").as("price"))
    val clustered = li.repartitionByRange(4, col("price")).sortWithinPartitions("price")
    val specs = TableEncoder.columnSpecs(clustered.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs, strideRows = 500)
      .persist()

    val lo = 10000.0; val hi = 20000.0
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("price", lo, hi)), specs)
    val exact = decoded.filter(col("price").between(lo, hi))
    val expected = li.filter(col("price").between(lo, hi))
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)
    assert(decoded.count() < li.count(), "double-stat pruning removed nothing")
    chunks.unpersist()
  }

  test("double stride index skips sub-chunk, incl. negative values (sortable-bits order)") {
    // sortable-bits must be order-preserving across the sign boundary
    val rng = new scala.util.Random(11)
    val ds = Array.fill(2000)(rng.nextDouble() * 2e6 - 1e6).sorted
    ds.sliding(2).foreach { case Array(a, b) =>
      assert(TableEncoder.doubleSortableBits(a) <= TableEncoder.doubleSortableBits(b), s"$a vs $b")
    }

    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 20000).map(i => (i.toLong, i.toDouble - 10000.0)).toDF("id", "v")
      .repartitionByRange(2, col("v")).sortWithinPartitions("v")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    // one chunk per partition, fine stride: skipping must act BELOW chunks
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500).persist()

    val lo = -1000.0; val hi = 1000.0
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("v", lo, hi)), specs).persist()
    val exact = decoded.filter(col("v").between(lo, hi))
    assert(exact.count() == 2001)
    val keptChunkRows = chunks.filter(col("column") === "v" &&
        !(col("max_val").cast("double") < lo || col("min_val").cast("double") > hi))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping on double: emitted $emitted == kept-chunk rows $keptChunkRows")
    decoded.unpersist(); chunks.unpersist()
  }

  test("decodePruned prunes on a decimal(38,x) column's string stats") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"),
        // mantissa far beyond long range so the DECIMAL128 path is exercised
        concat(col("l_orderkey").cast("string"), lit("00000000000000000001.5"))
          .cast("decimal(38,4)").as("big"))
    val clustered = li.repartitionByRange(4, col("big")).sortWithinPartitions("big")
    val specs = TableEncoder.columnSpecs(clustered.schema, Map.empty)
    assert(specs.find(_.name == "big").get.logical == "decimal128")
    val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs, strideRows = 500)
      .persist()

    val lo = new java.math.BigDecimal("50000000000000000000001.5")
    val hi = new java.math.BigDecimal("70000000000000000000001.5")
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("big", lo, hi)), specs)
    val exact = decoded.filter(col("big").between(lit(lo), lit(hi)))
    val expected = li.filter(col("big").between(lit(lo), lit(hi)))
    assert(expected.count() > 0, "empty predicate range makes the test vacuous")
    assert(exact.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(exact).count() == 0)
    assert(decoded.count() < li.count(), "decimal-stat pruning removed nothing")
    chunks.unpersist()
  }

  test("decimal128 stride index skips sub-chunk via clamped-mantissa bounds") {
    val stableSpark = spark
    import stableSpark.implicits._
    // mantissas straddle the long-clamp boundary: most values stay exact
    // in clamp space (small mantissas), the top stride's saturate to
    // Long.MaxValue — pruning must stay sound through both regimes
    val df = (0 until 20000).map { i =>
      val s = if (i < 19000) s"$i.25" else s"${i}000000000000000000.25" // tail: > 2^63 mantissa
      (i.toLong, s)
    }.toDF("id", "s")
      .withColumn("big", col("s").cast("decimal(38,4)")).drop("s")
      .repartitionByRange(2, col("big")).sortWithinPartitions("big")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    assert(specs.find(_.name == "big").get.logical == "decimal128")
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()

    val lo = new java.math.BigDecimal("1000.25")
    val hi = new java.math.BigDecimal("1200.25")
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("big", lo, hi)), specs).persist()
    val exact = decoded.filter(col("big").between(lit(lo), lit(hi)))
    assert(exact.count() == 201, s"got ${exact.count()}") // ids 1000..1200
    val keptChunkRows = chunks.filter(col("column") === "big" &&
        !(col("max_val").cast("decimal(38,4)") < lit(lo) ||
          col("min_val").cast("decimal(38,4)") > lit(hi)))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping on decimal128: emitted $emitted == kept-chunk rows $keptChunkRows")
    decoded.unpersist(); chunks.unpersist()
  }

  test("pruning on a column with non-numeric stats keeps chunks (conservative), never drops them") {
    // string stats can't cast to long; the overlap predicate must
    // evaluate to KEEP, not null-drop — a silent-missing-rows bug class
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_returnflag"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs, strideRows = 1000)
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("l_returnflag", 0L, 1L)), specs)
    assert(decoded.count() == df.count(),
      "long-range pruning on a string column must keep every chunk")
  }

  test("string/binary/bool columns carry length-sum and true-count stats") {
    val df = spark.range(0, 2000).select(
      col("id"),
      concat(lit("v"), col("id")).as("s"),
      (col("id") % 3 === 0).as("flag"),
      concat(lit("b"), col("id")).cast("binary").as("bin"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val byCol = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
      .collect().groupBy(_.column)
    val expectedLen = (0L until 2000L).map(i => 1 + i.toString.length).sum
    assert(byCol("s").flatMap(_.sum_val).sum == expectedLen)
    assert(byCol("bin").flatMap(_.sum_val).sum == expectedLen)
    assert(byCol("flag").flatMap(_.sum_val).sum == (0L until 2000L).count(_ % 3 == 0))
    assert(byCol("flag").forall(c => c.min_val.contains("0") && c.max_val.contains("1")))
  }

  test("segmented round trip is exact across all types (nulls, dict, fsst, decimal128)") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 23000).map { i =>
      (i.toLong,
        if (i % 7 == 0) None else Some(i * 3 - 1000L),
        s"lang${i % 5}", // low cardinality → dict
        if (i % 11 == 0) None else Some(s"the quick brown fox $i jumps over the lazy dog"),
        i.toDouble / 3.0,
        i.toFloat * 1.5f,
        i % 3 == 0,
        (i % 100).toByte)
    }.toDF("id", "v", "lang", "text", "d", "f", "b", "y")
      .withColumn("big", when(col("id") % 13 === 0, lit(null))
        .otherwise(concat(col("id").cast("string"), lit("00000000000000000001.5")))
        .cast("decimal(38,4)"))
    val codecs = Map("lang" -> Codecs.StringDictV2, "text" -> Codecs.StringFsst)
    val specs = TableEncoder.columnSpecs(df.schema, codecs)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 700, segmented = true).persist()
    // every chunk is segmented with per-stream segment indexes
    assert(chunks.collect().forall(c => c.seg_lens.isDefined && c.stride_null_counts.isDefined))
    val decoded = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
    assert(decoded.exceptAll(df).count() == 0)
    assert(df.exceptAll(decoded).count() == 0)
    chunks.unpersist()
  }

  test("segmented stride pruning skips DECOMPRESSION work, not just row materialization") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 20000).map(i => (i.toLong, s"payload-$i-${"x" * 40}")).toDF("id", "payload")
      .repartitionByRange(2, col("id")).sortWithinPartitions("id")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()
    chunks.count() // materialize so the decode passes below hit the cache

    graft.core.BlockCompression.resetCounters()
    val full = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs).count()
    val fullBytes = graft.core.BlockCompression.decompressInputBytes
    assert(full == 20000)

    graft.core.BlockCompression.resetCounters()
    val pruned = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("id", 500L, 700L)), specs)
    assert(pruned.filter(col("id").between(500, 700)).count() == 201)
    val prunedBytes = graft.core.BlockCompression.decompressInputBytes
    // 1 kept stride of 20 in 1 kept chunk of 2: decompression must drop
    // far below the kept chunk's total, not just the emitted row count
    assert(prunedBytes > 0, "counter not wired")
    assert(prunedBytes < fullBytes / 5,
      s"stride pruning decompressed $prunedBytes of $fullBytes bytes — decode work not skipped")
    chunks.unpersist()
  }

  test("string stride index skips sub-chunk via the 8-byte-prefix row index") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 20000).map(i => (i.toLong, f"k$i%06d")).toDF("id", "key")
      .repartitionByRange(2, col("key")).sortWithinPartitions("key")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    // one chunk per partition, fine stride: skipping must act BELOW chunks
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()

    val lo = "k001000"; val hi = "k001200"
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("key", lo, hi)), specs).persist()
    val exact = decoded.filter(col("key").between(lo, hi))
    assert(exact.count() == 201)
    val keptChunkRows = chunks.filter(col("column") === "key" &&
        !(col("max_val") < lo || col("min_val") > hi))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping on string: emitted $emitted == kept-chunk rows $keptChunkRows")
    decoded.unpersist(); chunks.unpersist()
  }

  test("float stride index skips sub-chunk (sortable-bits order, incl. negatives)") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 20000).map(i => (i.toLong, (i - 10000).toFloat / 2.0f)).toDF("id", "v")
      .repartitionByRange(2, col("v")).sortWithinPartitions("v")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()

    val lo = -250.0; val hi = 250.0
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, between("v", lo, hi)), specs).persist()
    val exact = decoded.filter(col("v").between(lo, hi))
    assert(exact.count() == 1001)
    val keptChunkRows = chunks.filter(col("column") === "v" &&
        !(col("max_val").cast("double") < lo || col("min_val").cast("double") > hi))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping on float: emitted $emitted == kept-chunk rows $keptChunkRows")
    decoded.unpersist(); chunks.unpersist()
  }

  test("decodeColumns ignoreMissing nulls absent columns for schema-evolution reads") {
    val stableSpark = spark
    import stableSpark.implicits._
    val df = (0 until 500).map(i => (i.toLong, s"t$i")).toDF("id", "t")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
    // a column added to the target schema that old chunks lack — typed
    // per the evolved schema so it unions cleanly with newer data
    val out = TableEncoder.decodeColumns(chunks, specs, Seq("id", "added_later"),
      ignoreMissing = true,
      missingTypes = Map("added_later" -> org.apache.spark.sql.types.LongType))
    assert(out.schema.fieldNames.toSeq == Seq("id", "added_later"))
    assert(out.schema("added_later").dataType == org.apache.spark.sql.types.LongType)
    assert(out.count() == 500)
    assert(out.filter(col("added_later").isNotNull).count() == 0)
    // ALL requested columns missing: still one all-null row per written
    // row (the reference's ignoreMissingColumns returns rows)
    val allMissing = TableEncoder.decodeColumns(chunks, specs, Seq("added_later"),
      ignoreMissing = true)
    assert(allMissing.count() == 500)
    assert(allMissing.filter(col("added_later").isNotNull).count() == 0)
    // without the flag, unknown columns still throw (typo protection)
    intercept[IllegalArgumentException] {
      TableEncoder.decodeColumns(chunks, specs, Seq("id", "added_later"))
    }
  }

  test("bloom equality pruning skips chunks min/max range stats cannot (unsorted column)") {
    val stableSpark = spark
    import stableSpark.implicits._
    // UNSORTED high-cardinality keys: every chunk's [min,max] spans the
    // whole domain, so range pruning keeps everything — only the bloom
    // can reject chunks
    val rng = new scala.util.Random(3)
    val rows = (0 until 20000).map(i => (i.toLong, s"key-${rng.nextLong()}-$i"))
    val df = rows.toDF("id", "k").repartition(8)
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      strideRows = 1000, segmented = true, bloomColumns = Set("k", "id")).persist()
    val totalChunks = chunks.filter(col("column") === "k").count()
    assert(totalChunks >= 8, s"need many chunks, got $totalChunks")

    val target = rows(12345)._2
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("k", target))), specs).persist()
    // correctness: the matching row survives, the filter gives exactly it
    val exact = decoded.filter(col("k") === target).collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(12345L))
    // pruning power: only ~1 chunk (+ rare FPs) of 20 was decoded
    assert(decoded.count() <= 3 * 1000,
      s"bloom kept ${decoded.count()} rows of 20000 — no chunk-level rejection")
    decoded.unpersist()

    // long-family variant
    val decodedL = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("id", 777L))), specs)
    assert(decodedL.filter(col("id") === 777).count() == 1)

    // a column WITHOUT a bloom written keeps chunks conservatively on a
    // miss (no silent drops) — absent value still yields zero matches
    val miss = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("k", "absent-value"))), specs)
    assert(miss.filter(col("k") === "absent-value").count() == 0)
    chunks.unpersist()
  }

  test("bloom equality pruning on a BINARY column (content-addressed blob lookup)") {
    val stableSpark = spark
    import stableSpark.implicits._
    // binary columns have NO min/max stats (length-sum only), so the
    // bloom is the only possible chunk rejection — the content-addressed
    // html-blob lookup shape
    val rng = new scala.util.Random(9)
    val rows = (0 until 20000).map(i => (i.toLong, s"<html>${rng.nextLong()}-$i</html>".getBytes("UTF-8")))
    val df = rows.toDF("id", "blob").repartition(8)
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      strideRows = 1000, segmented = true, bloomColumns = Set("blob")).persist()
    assert(chunks.filter(col("column") === "blob").count() >= 8)

    val target = rows(4321)._2
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("blob", target))), specs).persist()
    val exact = decoded.filter(col("blob") === lit(target)).collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(4321L))
    assert(decoded.count() <= 3 * 1000,
      s"binary bloom kept ${decoded.count()} rows of 20000 — no chunk-level rejection")
    decoded.unpersist()

    // absent blob: zero matches, no silent drops
    val miss = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("blob", "nope".getBytes("UTF-8")))), specs)
    assert(miss.filter(col("blob") === lit("nope".getBytes("UTF-8"))).count() == 0)
    chunks.unpersist()
  }

  test("degenerate inputs: empty, single-row, and all-null columns round trip") {
    val stableSpark = spark
    import stableSpark.implicits._
    val schemaDf = Seq((1L, Option("x"), Option(1.5))).toDF("id", "s", "d")
    val specs = TableEncoder.columnSpecs(schemaDf.schema, Map.empty)

    // empty input: no chunks, decode yields an empty frame of the right schema
    val empty = schemaDf.filter(col("id") < 0)
    val emptyChunks = TableEncoder.encode(TableEncoder.shred(empty, specs), specs, segmented = true)
    assert(emptyChunks.count() == 0)
    val emptyOut = TableEncoder.unshred(TableEncoder.decode(emptyChunks, specs), specs)
    assert(emptyOut.count() == 0 && emptyOut.schema.fieldNames.toSeq == Seq("id", "s", "d"))

    // single row (stride 1-of-1, segmented)
    val one = Seq((7L, Option("only"), Option(2.25))).toDF("id", "s", "d")
    val oneChunks = TableEncoder.encode(TableEncoder.shred(one, specs), specs, segmented = true)
    val oneOut = TableEncoder.unshred(TableEncoder.decode(oneChunks, specs), specs)
    assert(oneOut.collect().toSeq == one.collect().toSeq)

    // a fully-null column (PRESENT all-false; no values in any stride)
    val nulls = (0 until 5000).map(i =>
      (i.toLong, None: Option[String], None: Option[Double])).toDF("id", "s", "d")
    val nullChunks = TableEncoder.encode(TableEncoder.shred(nulls, specs), specs,
      indexStrideRows = 700, segmented = true)
    val nullOut = TableEncoder.unshred(TableEncoder.decode(nullChunks, specs), specs)
    assert(nullOut.count() == 5000)
    assert(nullOut.filter(col("s").isNotNull || col("d").isNotNull).count() == 0)
    // and range-pruning the all-null column keeps rows (sentinel strides)
    val prunedNull = TableEncoder.unshred(
      TableEncoder.decodePruned(nullChunks, specs, between("d", 0.0, 1.0)), specs)
    assert(prunedNull.count() == 5000, "all-null strides must be kept, never dropped")
  }

  test("fuzz: segmented and whole-stream layouts decode identically on random data") {
    val stableSpark = spark
    import stableSpark.implicits._
    val rng = new scala.util.Random(20260817)
    (0 until 3).foreach { trial =>
      val n = 3000 + rng.nextInt(4000)
      val nullEvery = 2 + rng.nextInt(9)
      val rows = (0 until n).map { i =>
        def maybe[T](v: T): Option[T] = if ((i + trial) % nullEvery == 0) None else Some(v)
        (i.toLong,
          maybe(rng.nextLong()),
          maybe(rng.nextInt(1 << rng.nextInt(30))),
          maybe(rng.nextDouble() * math.pow(10, rng.nextInt(8)) - 5000),
          maybe(rng.nextFloat() * 100 - 50),
          maybe(rng.nextBoolean()),
          maybe(rng.alphanumeric.take(rng.nextInt(40)).mkString),
          maybe(Array.fill(rng.nextInt(30))(rng.nextInt().toByte)))
      }
      val df = rows.toDF("id", "v_long", "v_int", "v_double", "v_float", "v_bool", "v_str", "v_bin")
      val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
      val stride = 1 << (7 + rng.nextInt(4)) // 128..1024
      val shredded = TableEncoder.shred(df, specs)
      val seg = TableEncoder.unshred(TableEncoder.decode(
        TableEncoder.encode(shredded, specs, indexStrideRows = stride, segmented = true),
        specs), specs)
      val whole = TableEncoder.unshred(TableEncoder.decode(
        TableEncoder.encode(shredded, specs, indexStrideRows = stride),
        specs), specs)
      assert(seg.exceptAll(whole).count() == 0, s"trial $trial: segmented ⊄ whole")
      assert(whole.exceptAll(seg).count() == 0, s"trial $trial: whole ⊄ segmented")
      assert(seg.exceptAll(df).count() == 0 && df.exceptAll(seg).count() == 0,
        s"trial $trial: round trip differs from input")
    }
  }

  test("bool stride index skips all-false strides for a `= true` predicate") {
    val stableSpark = spark
    import stableSpark.implicits._
    // clustered by flag: only the last ~5% of rows are true
    val df = (0 until 20000).map(i => (i.toLong, i >= 19000)).toDF("id", "flag")
      .repartitionByRange(2, col("flag"), col("id")).sortWithinPartitions("flag", "id")
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs,
      indexStrideRows = 500, segmented = true).persist()
    val decoded = TableEncoder.unshred(
      TableEncoder.decodePruned(chunks, specs, Seq(EqualTo("flag", true))), specs).persist()
    assert(decoded.filter(col("flag")).count() == 1000)
    val keptChunkRows = chunks.filter(col("column") === "flag" &&
        !(col("max_val").cast("long") < 1L))
      .agg(sum(col("row_count"))).first().getLong(0)
    val emitted = decoded.count()
    assert(emitted < keptChunkRows,
      s"no sub-chunk skipping on bool: emitted $emitted == kept-chunk rows $keptChunkRows")
    decoded.unpersist(); chunks.unpersist()
  }

  test("byte columns route through ByteRLE and carry sum stats") {
    val df = spark.range(0, 3000)
      .select(col("id"), (col("id") % 100).cast("byte").as("b"))
    val specs = TableEncoder.columnSpecs(df.schema, Map.empty)
    val chunks = TableEncoder.encode(TableEncoder.shred(df, specs), specs)
    val byCol = chunks.collect().groupBy(_.column)
    assert(byCol("b").forall(_.codec == Codecs.ByteRleC))
    val idSum = byCol("id").flatMap(_.sum_val).sum
    assert(idSum == (0L until 3000L).sum, s"sum stat wrong: $idSum")
    // decode restores byte values
    val decoded = TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
    assert(decoded.exceptAll(df).count() == 0)
    assert(df.exceptAll(decoded).count() == 0)
  }

  test("property: keepsChunk agrees with keepColumn over the same chunk metadata row") {
    val stableSpark = spark
    import stableSpark.implicits._
    val rng = new scala.util.Random(20261017)
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("d", DateType),
      StructField("ts", TimestampType), StructField("dec", DecimalType(10, 2)),
      StructField("big", DecimalType(38, 4)), StructField("b", BooleanType),
      StructField("dbl", DoubleType), StructField("flt", FloatType),
      StructField("s", StringType), StructField("bin", BinaryType)))
    val specs = TableEncoder.columnSpecs(schema, Map.empty)
    def pick[T](xs: T*): T = xs(rng.nextInt(xs.length))
    def opt[T](v: => T): Option[T] = if (rng.nextInt(6) == 0) None else Some(v)
    def bloomOf(members: Seq[Array[Byte]], long: Seq[Long]): Option[Array[Byte]] =
      if (rng.nextInt(3) == 0) None
      else {
        val b = new graft.core.Bloom.Builder
        members.foreach(b.addBytes); long.foreach(b.addLong)
        Some(graft.core.Bloom.serializeTagged(b.build(),
          if (long.nonEmpty) graft.core.Bloom.TagLong else graft.core.Bloom.TagBytes))
      }
    val doubles = Seq(Double.NegativeInfinity, -1e300, -2.5, -0.0, 0.0, 1.5, 2.5, 1e300,
      Double.PositiveInfinity)
    val floats = Seq(Float.NegativeInfinity, -2.5f, -0.0f, 0.0f, 0.1f, 1.5f, 2.5f,
      Float.PositiveInfinity)
    def str(): String = pick("", "a", "prefix-ab", "prefix-abc", "prefix-abcdefgh-x",
      "prefix-abcdefgh-y", "zz", "\u00e9t\u00e9", "prefix-abcdefgh")
    def dec128(): java.math.BigDecimal =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(rng.nextInt(2001) - 1000)
        .multiply(java.math.BigInteger.TEN.pow(pick(0, 20))), 4)

    // random chunk metadata per column: a sorted (min, max) pair drawn
    // from the column's stat space, or absent stats (all-null chunk)
    var id = 0
    val chunks = specs.toSeq.flatMap { spec => (0 until 60).map { _ =>
      id += 1
      def range[T](draw: => T, render: T => String)(implicit o: Ordering[T]) = {
        val a = draw; val b = draw
        (Some(render(o.min(a, b))), Some(render(o.max(a, b))))
      }
      val longs = Seq.fill(3)(rng.nextInt(121).toLong - 60)
      val strs = Seq.fill(3)(str())
      val ((mn, mx), bloom) = spec.name match {
        case "l" | "d" | "ts" | "dec" =>
          (range[Long](rng.nextInt(121) - 60L, _.toString), bloomOf(Nil, longs))
        case "big" => (range[java.math.BigDecimal](dec128(), _.toPlainString), None)
        case "b"   => (range[Long](rng.nextInt(2).toLong, _.toString), None)
        case "dbl" => (range[Double](pick(doubles: _*), _.toString)(Ordering.Double.TotalOrdering), None)
        case "flt" => (range[Float](pick(floats: _*), _.toString)(Ordering.Float.TotalOrdering), None)
        case "s"   => (range[String](str(), identity), bloomOf(strs.map(_.getBytes("UTF-8")), Nil))
        case "bin" => ((None, None), bloomOf(strs.map(_.getBytes("UTF-8")), Nil))
      }
      val rows = 10
      val nulls = if (mn.isEmpty) rows else rng.nextInt(rows)
      val fp = spec.name == "dbl" || spec.name == "flt"
      EncodedChunk(id, 0, 0L, spec.name, "", rows, nulls, Map.empty, 0L, 0L,
        if (rng.nextInt(8) == 0) None else mn, if (rng.nextInt(8) == 0) None else mx, None,
        bloom = bloom,
        nan_count = if (fp) pick(Some(0), Some(2), None) else None)
    }}

    // random filters per column, open and closed bounds, equality, In
    // and null tests; values in the Scala types Spark pushes
    def value(column: String): Any = column match {
      case "l"   => pick[Any](rng.nextInt(121).toLong - 60, rng.nextInt(121) - 60)
      case "d"   => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rng.nextInt(121) - 60L))
      case "ts"  => pick[Any](java.time.Instant.ofEpochSecond(0, (rng.nextInt(121) - 60) * 1000L),
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(0, (rng.nextInt(121) - 60) * 1000L)))
      case "dec" => new java.math.BigDecimal(java.math.BigInteger.valueOf(rng.nextInt(121) - 60),
        pick(2, 3))
      case "big" => pick(dec128(), dec128().add(new java.math.BigDecimal("0.00005")))
      case "b"   => rng.nextBoolean()
      case "dbl" => pick(Double.NaN +: doubles: _*)
      case "flt" => pick[Any](pick(Float.NaN +: floats: _*), 0.1, -0.0, 2.5)
      case "s"   => str()
      case "bin" => str().getBytes("UTF-8")
    }
    val filters: Seq[Filter] = specs.toSeq.flatMap { spec => (0 until 25).map { _ =>
      val c = spec.name
      rng.nextInt(9) match {
        case 0 => EqualTo(c, value(c)); case 1 => GreaterThan(c, value(c))
        case 2 => GreaterThanOrEqual(c, value(c)); case 3 => LessThan(c, value(c))
        case 4 => LessThanOrEqual(c, value(c)); case 5 => IsNull(c); case 6 => IsNotNull(c)
        case _ => In(c, Array.fill(1 + rng.nextInt(4))(value(c)))
      }
    }}
    val preds = filters.flatMap(ChunkPrune.from(_, specs))
    // every type reaches the evaluator, binary equality included
    assert(preds.map(_.column).distinct.size == specs.length)
    assert(preds.exists { case p: PrunePred => p.statType.isInstanceOf[DecimalType]; case _ => false })

    val evaluated = chunks.toDS().select(
      (col("part_id") +: preds.map(_.keepColumn)).toIndexedSeq: _*).collect()
      .map(r => r.getInt(0) -> r).toMap
    var compared = 0
    for (c <- chunks; (p, j) <- preds.zipWithIndex if p.column == c.column) {
      val sql = evaluated(c.part_id).getBoolean(j + 1)
      assert(p.keepsChunk(c) == sql,
        s"$p on (min=${c.min_val}, max=${c.max_val}, nulls=${c.null_count}, " +
          s"nan=${c.nan_count}, bloom=${c.bloom.isDefined}): keepsChunk=${!sql}, keepColumn=$sql")
      compared += 1
    }
    // not vacuous: both keep and prune outcomes occur
    assert(compared > 5000)
    assert(chunks.exists(c => preds.exists(p => p.column == c.column && !p.keepsChunk(c))))
  }

  test("format(graft): decimal(38,x) and bool pushdown decompress less than an unfiltered read") {
    val out = java.nio.file.Files.createTempDirectory("graft-prune-dsv2").toString
    // big = id·10^20 + 1.5: mantissas beyond long range, monotonic in id
    val df = spark.range(0, 20000).select(col("id"),
      concat(col("id").cast("string"), lit("00000000000000000001.5"))
        .cast("decimal(38,4)").as("big"),
      (col("id") >= 19000).as("flag"))
    EncodeJob.run(df, EncodeJob.Config(out, numPartitions = 2, keyColumn = None,
      strideRows = 1000, sortColumns = Seq("id")))
    assert(EncodeJob.specsFromDisk(spark, out).get.find(_.name == "big").get.logical == "decimal128")
    val src = spark.read.format("graft").load(out)
    def run(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): (Long, Long) = {
      graft.core.BlockCompression.resetCounters()
      val v = f(src).agg(sum("id"), count(col("big")), count(col("flag"))).first().getLong(0)
      (v, graft.core.BlockCompression.decompressInputBytes)
    }
    val (allSum, full) = run(identity)
    assert(allSum == (0L until 20000L).sum)
    val lo = new java.math.BigDecimal("500000000000000000000001.5")
    val hi = new java.math.BigDecimal("700000000000000000000001.5")
    val (decSum, decBytes) = run(_.filter(col("big").between(lit(lo), lit(hi))))
    assert(decSum == (5000L to 7000L).sum)
    assert(decBytes < full / 2, s"decimal(38,x) pushdown decompressed $decBytes of $full bytes")
    val (flagSum, flagBytes) = run(_.filter(col("flag") === true))
    assert(flagSum == (19000L until 20000L).sum)
    assert(flagBytes < full / 2, s"bool pushdown decompressed $flagBytes of $full bytes")
  }
}
