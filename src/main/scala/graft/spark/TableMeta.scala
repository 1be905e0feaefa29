package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-side table-metadata snapshot, cached per JVM and validated
  * against the filesystem on EVERY access (guide §6: table formats win at
  * scale by reading manifests instead of re-listing/re-scanning, and
  * Spark itself caches file listings per session).
  *
  * Before this cache, every DSv2 action re-ran the same four or five
  * small Spark jobs at plan time (manifest visibility read, per-batch
  * column sets, codec lineage, size statistics — each with a parquet
  * schema-inference pass), so a query that touches a graft table three
  * times paid the metadata cost three times. Now:
  *
  *  - validity is a SIGNATURE of the manifest + compactions dirs (one
  *    `listStatus` each, no Spark jobs, no parquet footers): every commit
  *    appends a manifest file and every compaction adds a record file, so
  *    any writer — same JVM or not — changes the signature and invalidates
  *    the entry. The cache can never serve metadata the disk doesn't show.
  *  - a miss costs ONE distributed aggregate over the manifest (explicit
  *    schema, so no inference job) returning ~one row per batch, from
  *    which visibility, per-batch stats, codec lineage and per-batch
  *    column sets are all derived.
  *
  * This is metadata caching only — never row data, never query results.
  */
object TableMeta {

  final case class Snapshot(
      /** Manifest batch ids (pre-compaction visibility). */
      batchIds: Set[Int],
      /** Highest part_id any manifest row committed (-1 = none). */
      maxPart: Int,
      /** Codec lineage of the NEWEST batch — post-ALTER batches carry
        * strictly more columns, so the newest lineage is the complete one.
        */
      codecs: Option[String],
      /** Per-batch written column sets from the lineage strings. */
      batchColumns: Map[Int, Set[String]],
      /** batch id -> (rows, rawBytes) for size statistics. */
      perBatch: Map[Int, (Long, Long)],
      /** Committed compaction records, oldest first. */
      compactions: Seq[EncodeJob.Compaction])

  val manifestSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ManifestEntry].schema

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Snapshot)]()

  /** Chunk-file lists per (outDir, committed batch set), VALIDATED on
    * every access against the sidecar dirs' own listing (names + sizes +
    * mtimes): an overwrite that reuses batch ids, a vacuum, or any other
    * external change re-lists differently and reloads — only the Spark
    * job that parses the sidecar rows is ever skipped, never a freshness
    * check.
    */
  private val sidecarCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Int]), (String, Option[Seq[(Int, Option[String], String)]])]()

  private def boundedPut[K, V](m: java.util.concurrent.ConcurrentHashMap[K, V],
                               k: K, v: V): V = {
    if (m.size > 1024) m.clear() // crude bound; entries rebuild on demand
    m.put(k, v)
    v
  }

  private def signature(spark: SparkSession, outDir: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    def sig(dir: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) "-"
      else fs.listStatus(p).iterator
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .toArray.sorted.mkString(",")
    }
    sig(EncodeJob.manifestDir(outDir)) + "|" + sig(EncodeJob.compactionsDir(outDir))
  }

  /** Test instrumentation: snapshot LOADS (cache misses). */
  private[graft] val snapshotLoads = new java.util.concurrent.atomic.AtomicLong(0)

  def snapshot(spark: SparkSession, outDir: String): Snapshot = {
    val sig = signature(spark, outDir)
    val hit = cache.get(outDir)
    if (hit != null && hit._1 == sig) return hit._2
    snapshotLoads.incrementAndGet()
    val snap = load(spark, outDir)
    boundedPut(cache, outDir, (sig, snap))
    snap
  }

  private def load(spark: SparkSession, outDir: String): Snapshot = {
    val comps = EncodeJob.readCompactionRecords(spark, outDir)
    val manifestPath = new org.apache.hadoop.fs.Path(EncodeJob.manifestDir(outDir))
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(manifestPath))
      return Snapshot(Set.empty, -1, None, Map.empty, Map.empty, comps)
    // JSON commit files parse on the driver (no Spark job at all);
    // legacy parquet rows — pre-JSON dirs, forged resume fixtures — are
    // aggregated distributedly with the explicit schema when present.
    val (jsonEntries, legacyFiles) = EncodeJob.readManifestJson(spark, outDir)
    // per batch: (maxPart, rows, rawBytes, lineages)
    val agg = scala.collection.mutable.Map[Int, (Int, Long, Long, List[String])]()
    def add(b: Int, part: Int, rows: Long, raw: Long, lineage: Seq[String]): Unit = {
      val (p0, r0, w0, l0) = agg.getOrElse(b, (-1, 0L, 0L, Nil))
      agg(b) = (math.max(p0, part), r0 + rows, w0 + raw,
        (lineage.filterNot(l0.contains) ++ l0).toList)
    }
    jsonEntries.foreach(e =>
      add(e.batch_id, e.part_id, e.row_count, e.raw_bytes, Option(e.codecs).toSeq))
    if (legacyFiles.nonEmpty)
      spark.read.schema(manifestSchema).parquet(legacyFiles: _*)
        .groupBy(col("batch_id"))
        .agg(max("part_id").as("mp"), sum("row_count").as("r"),
          sum("raw_bytes").as("b"), collect_set("codecs").as("cs"))
        .collect().foreach { r =>
          add(r.getInt(0), if (r.isNullAt(1)) -1 else r.getInt(1),
            if (r.isNullAt(2)) 0L else r.getLong(2),
            if (r.isNullAt(3)) 0L else r.getLong(3),
            r.getSeq[String](4).filter(_ != null))
        }
    val batchIds = agg.keySet.toSet
    val maxPart = agg.valuesIterator.map(_._1).foldLeft(-1)(math.max)
    val perBatch = agg.iterator.map { case (b, (_, r, w, _)) => b -> (r, w) }.toMap
    val batchColumns = agg.iterator.map { case (b, (_, _, _, ls)) =>
      b -> ls.iterator
        .flatMap(_.split(',').iterator.map(_.split('=')(0).trim).filter(_.nonEmpty))
        .toSet
    }.filter(_._2.nonEmpty).toMap
    val codecs = agg.toSeq.sortBy(-_._1).iterator
      .flatMap(_._2._4.headOption).find(_ => true)
    Snapshot(batchIds, maxPart, codecs, batchColumns, perBatch, comps)
  }

  /** Chunk-file list for `committed` from the filestats sidecar — None
    * when any committed batch predates the sidecar (callers fall back to
    * the legacy chunk-tree walk). Cached per (outDir, batch set): the
    * sidecar of a committed batch is immutable.
    */
  def sidecarChunkFiles(spark: SparkSession, outDir: String, committed: Set[Int])
      : Option[Seq[(Int, Option[String], String)]] = {
    if (committed.isEmpty) return Some(Seq.empty)
    val key = (outDir, committed.toSeq.sorted)
    listSidecarFiles(spark, outDir, committed) match {
      case None =>
        sidecarCache.remove(key)
        None // a batch predates the sidecar: caller walks the chunk tree
      case Some(listing) =>
        val sig = listing.map(s =>
          s"${s.getPath}:${s.getLen}:${s.getModificationTime}").mkString(",")
        val hit = sidecarCache.get(key)
        if (hit != null && hit._1 == sig) return hit._2
        val v = parseSidecarFiles(spark, listing.map(_.getPath.toString), committed)
        boundedPut(sidecarCache, key, (sig, v))._2
    }
  }

  /** Sidecar parquet schema (fixed projection of the chunk metadata, plus
    * the `batch` partition column) — explicit everywhere so no read pays
    * a schema-inference pass; batches written before `nan_count` simply
    * read it as null, which is the conservative keep.
    */
  val filestatsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("part_id", IntegerType), StructField("chunk_id", IntegerType),
      StructField("column", StringType), StructField("min_val", StringType),
      StructField("max_val", StringType), StructField("null_count", IntegerType),
      StructField("row_count", IntegerType), StructField("nan_count", IntegerType),
      StructField("bloom", BinaryType), StructField("file", StringType),
      StructField("batch", IntegerType)))
  }

  /** Read the filestats sidecar root with the fixed schema. */
  def readFilestats(spark: SparkSession, outDir: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(filestatsSchema).parquet(EncodeJob.filestatsDir(outDir))

  /** Driver-side listing of the committed batches' sidecar parquet files
    * — the freshness probe AND the read's file list. None when any
    * committed batch lacks a sidecar dir (pre-sidecar batch: walk).
    */
  private def listSidecarFiles(spark: SparkSession, outDir: String, committed: Set[Int])
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    val dir = new org.apache.hadoop.fs.Path(EncodeJob.filestatsDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    // O(batches) presence probe, not a tree walk
    val present = fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
    }.toSet
    if (!committed.subsetOf(present)) return None
    // one bounded listing per COMMITTED batch dir (never a recursive walk
    // of the whole sidecar tree — replaced/orphan batches stay unvisited)
    val sidecar = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
    committed.toSeq.sorted.foreach { b =>
      val bd = new org.apache.hadoop.fs.Path(EncodeJob.filestatsBatchDir(outDir, b))
      if (!fs.exists(bd)) return None // pre-sidecar batch: caller walks
      fs.listStatus(bd).foreach { st =>
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) sidecar += st
      }
    }
    Some(sidecar.toSeq)
  }

  private def parseSidecarFiles(spark: SparkSession, sidecar: Seq[String],
                                committed: Set[Int])
      : Option[Seq[(Int, Option[String], String)]] = {
    if (sidecar.isEmpty) return Some(Seq.empty)
    // leaf-file reads skip Hive partition discovery, so `batch` rides in
    // the chunk-file path itself (chunks/batch=N/...), same as the walk.
    // Explicit schema minus the partition column: leaf reads have none.
    val leafSchema = org.apache.spark.sql.types.StructType(
      filestatsSchema.fields.filterNot(_.name == "batch"))
    val rows = spark.read.schema(leafSchema).parquet(sidecar: _*)
      .select(col("file")).distinct().collect()
    Some(rows.iterator.flatMap { r =>
      val p = r.getString(0)
      val batch = """batch=(\d+)""".r.findFirstMatchIn(p).map(_.group(1).toInt)
      val column = """column=([^/]+)/""".r.findFirstMatchIn(p).map(_.group(1))
      batch.filter(committed.contains).map(b => (b, column, p))
    }.toSeq)
  }

  /** Plan-time file-keep maps per (outDir, committed set, predicate
    * signature), validated against the sidecar listing exactly like the
    * chunk-file cache: the same filter re-planned (Spark re-plans a scan
    * per action) stops paying the distributed keep evaluation twice.
    */
  private val fileKeepCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[Int], String), (String, Map[String, Boolean])]()

  /** Value-based predicate signature: ChunkPrune renders as a case class
    * over values, so equal filters share an entry and different ones
    * never do.
    */
  private[spark] def predsKey(preds: Seq[ChunkPrune]): String =
    preds.map(_.toString).sorted.mkString(";")

  def fileKeep(spark: SparkSession, outDir: String, committed: Set[Int],
               preds: Seq[ChunkPrune])
      (compute: => Map[String, Boolean]): Map[String, Boolean] = {
    val key = (outDir, committed.toSeq.sorted, predsKey(preds))
    listSidecarFiles(spark, outDir, committed) match {
      case None => compute // no sidecar: cheap anyway (empty keep map)
      case Some(listing) =>
        val sig = listing.map(s =>
          s"${s.getPath}:${s.getLen}:${s.getModificationTime}").mkString(",")
        val hit = fileKeepCache.get(key)
        if (hit != null && hit._1 == sig) return hit._2
        boundedPut(fileKeepCache, key, (sig, compute))._2
    }
  }

  /** Drop every cached entry (tests; external tampering recovery). */
  def invalidateAll(): Unit = {
    cache.clear(); sidecarCache.clear(); fileKeepCache.clear()
  }
}
