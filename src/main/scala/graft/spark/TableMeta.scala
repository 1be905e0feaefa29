package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Driver-side table metadata, cached per JVM and validated against the
  * filesystem on EVERY access (guide §6: table formats win at scale by
  * reading manifests instead of re-listing/re-scanning, and Spark itself
  * caches file listings per session). Two caches, both LRU-bounded:
  *
  *  - the SNAPSHOT per table dir (visibility, per-batch stats, codec
  *    lineage, per-batch column sets, compaction records). Its validity
  *    is a SIGNATURE of the manifest + compactions dirs (one `listStatus`
  *    each, no Spark jobs, no parquet footers): every commit appends a
  *    manifest file and every compaction adds a record file, so any
  *    writer — same JVM or not — changes the signature and invalidates
  *    the entry. A miss parses the JSON commits on the driver (legacy
  *    parquet manifest rows take one aggregate).
  *  - the SIDECAR INDEX per (table dir, batch): the filestats rows every
  *    plan-time keep decision reads (scan file keep, DML batch pruning,
  *    the chunk-file list). Each entry is validated against its batch
  *    dir's listing, and evaluating predicates over it runs in memory —
  *    planning a filtered scan or a DML statement starts no Spark job
  *    once the index is warm.
  *
  * The cache can never serve metadata the disk doesn't show. This is
  * metadata caching only — never row data, never query results.
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

  private val cache = new Lru[String, (String, Snapshot)](1024)

  /** The sidecar index: (outDir, batch) -> (listing signature, rows). */
  private val sidecarCache = new Lru[(String, Int), (String, SidecarBatch)](1024)

  /** A bounded map that evicts the least recently used entry, so a hot
    * table keeps its entries however many others pass through.
    */
  private[spark] final class Lru[K, V](capacity: Int) {
    private val m = new java.util.LinkedHashMap[K, V](16, 0.75f, /* accessOrder */ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size > capacity
    }
    def get(k: K): Option[V] = m.synchronized(Option(m.get(k)))
    def put(k: K, v: V): Unit = m.synchronized { m.put(k, v); () }
    def clear(): Unit = m.synchronized(m.clear())
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
    cache.get(outDir).filter(_._1 == sig).map(_._2).getOrElse {
      snapshotLoads.incrementAndGet()
      val snap = load(spark, outDir)
      cache.put(outDir, (sig, snap))
      snap
    }
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

  /** One filestats sidecar row: a (chunk, column)'s stats plus the chunk
    * file holding it.
    */
  final case class SidecarRow(part_id: Int, chunk_id: Int, column: String,
                              min_val: Option[String], max_val: Option[String],
                              null_count: Int, row_count: Int, nan_count: Option[Int],
                              bloom: Option[Array[Byte]], file: String) extends ChunkStats

  /** One committed batch's sidecar: its parquet files (the listing the
    * entry was validated against) and their rows.
    */
  final case class SidecarBatch(sidecarFiles: Seq[String], rows: IndexedSeq[SidecarRow]) {
    /** Distinct chunk files with the column their path names, if any. */
    lazy val chunkFiles: Seq[(Option[String], String)] =
      rows.iterator.map(_.file).distinct.map { p =>
        ("""column=([^/]+)/""".r.findFirstMatchIn(p).map(_.group(1)), p)
      }.toSeq
  }

  /** Sidecar parquet schema (fixed projection of the chunk metadata) —
    * explicit so no read pays a schema-inference pass; batches written
    * before `nan_count` simply read it as null, which is the
    * conservative keep.
    */
  val filestatsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("part_id", IntegerType), StructField("chunk_id", IntegerType),
      StructField("column", StringType), StructField("min_val", StringType),
      StructField("max_val", StringType), StructField("null_count", IntegerType),
      StructField("row_count", IntegerType), StructField("nan_count", IntegerType),
      StructField("bloom", BinaryType), StructField("file", StringType)))
  }

  /** The sidecar stats index: per committed batch in `batches` that has a
    * sidecar, its rows; batches without one (older dirs) are absent and
    * callers treat them conservatively. A committed batch's sidecar never
    * changes, so entries are cached per (outDir, batch) — and VALIDATED
    * on every access against that batch dir's listing (names + sizes +
    * mtimes): an overwrite that reuses a batch id, a vacuum, or an
    * external edit lists differently and reloads. A miss reads every
    * stale batch in ONE Spark job, so an append loads only its new batch.
    */
  def sidecarIndex(spark: SparkSession, outDir: String, batches: Set[Int])
      : Map[Int, SidecarBatch] = {
    val dir = new org.apache.hadoop.fs.Path(EncodeJob.filestatsDir(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (batches.isEmpty || !fs.exists(dir)) return Map.empty
    // O(batches) presence probe, then one bounded listing per requested
    // batch dir (never a recursive walk of the whole sidecar tree —
    // replaced/orphan batches stay unvisited)
    val present = fs.listStatus(dir).iterator.map(_.getPath.getName).collect {
      case n if n.startsWith("batch=") => n.stripPrefix("batch=").toInt
    }.toSet
    val listed = batches.intersect(present).toSeq.sorted.map { b =>
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(EncodeJob.filestatsBatchDir(outDir, b)))
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      val sig = files.map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}").sorted.mkString(",")
      (b, sig, files.map(_.getPath.toString).sorted.toSeq)
    }
    val hits = listed.flatMap { case (b, sig, _) =>
      sidecarCache.get((outDir, b)).filter(_._1 == sig).map(e => b -> e._2)
    }.toMap
    val misses = listed.filterNot(l => hits.contains(l._1))
    hits ++ (if (misses.isEmpty) Map.empty else loadSidecars(spark, outDir, misses))
  }

  /** One collect over the sidecar files of every batch in `misses`; the
    * batch of each row rides in its chunk-file path (chunks/batch=N/...).
    */
  private def loadSidecars(spark: SparkSession, outDir: String,
                           misses: Seq[(Int, String, Seq[String])]): Map[Int, SidecarBatch] = {
    val files = misses.flatMap(_._3)
    val rows = if (files.isEmpty) Array.empty[org.apache.spark.sql.Row]
               else spark.read.schema(filestatsSchema).parquet(files: _*).collect()
    def opt[T](r: org.apache.spark.sql.Row, i: Int): Option[T] =
      if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    val byBatch = rows.iterator.map { r =>
      val file = r.getString(9)
      val batch = """batch=(\d+)""".r.findAllMatchIn(file).map(_.group(1).toInt).toSeq.lastOption
      // the sidecar is written from EncodedChunk's non-optional counts;
      // an absent one reads as "some nulls, some values" — both null
      // tests keep
      batch -> SidecarRow(r.getInt(0), r.getInt(1), r.getString(2),
        opt[String](r, 3), opt[String](r, 4),
        opt[Int](r, 5).getOrElse(1), opt[Int](r, 6).getOrElse(Int.MaxValue),
        opt[Int](r, 7), opt[Array[Byte]](r, 8), file)
    }.toSeq.groupBy(_._1)
    misses.map { case (b, sig, sidecarFiles) =>
      val entry = SidecarBatch(sidecarFiles,
        byBatch.getOrElse(Some(b), Seq.empty).map(_._2).toIndexedSeq)
      sidecarCache.put((outDir, b), (sig, entry))
      b -> entry
    }.toMap
  }

  /** Chunk-file list for `committed` from the sidecar index — None when
    * any committed batch predates the sidecar (callers fall back to the
    * legacy chunk-tree walk).
    */
  def sidecarChunkFiles(index: Map[Int, SidecarBatch], committed: Set[Int])
      : Option[Seq[(Int, Option[String], String)]] =
    if (!committed.subsetOf(index.keySet)) None
    else Some(committed.toSeq.sorted.flatMap(b =>
      index(b).chunkFiles.map { case (c, f) => (b, c, f) }))

  /** Drop every cached entry (tests; external tampering recovery). */
  def invalidateAll(): Unit = {
    cache.clear(); sidecarCache.clear()
  }
}
