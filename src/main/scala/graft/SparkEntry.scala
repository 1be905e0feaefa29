package graft

import graft.functions.{Dedup, Multimodal, Similarity, TextOps}
import graft.spark.{EncodeJob, OrcInterop, TableEncoder}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, sources}
import org.apache.spark.sql.functions._

/** Driver contract — queries per implemented operator (SURVEY.md §2 codecs
  * exercised end-to-end via encode→decode round trips; training-data
  * pipeline ops as first-class queries) with DuckDB oracles where the
  * semantics are SQL-expressible with bit-stable results.
  */
object SparkEntry {

  /** In-memory encode→decode round trip through the full engine: pin
    * codecs from a sample, shred, chunk-encode per partition (RLEv2 /
    * dict / FSST / FoR / zlib), decode, restore schema. The identity of
    * this transform IS the correctness claim for every codec underneath.
    */
  /** Fan a single-split input out to the session's parallelism before
    * encoding, exactly like the production write path (EncodeJob.run
    * repartitions explicitly) — but only when the input is big enough
    * that the shuffle pays for itself (size from the optimizer's own
    * plan statistics, a driver-side read, no job). Tiny tables keep
    * their single partition: measured, the extra exchange costs more
    * than the parallel encode saves below a few MB. Scale-adaptive,
    * never a constant.
    */
  private def fanOut(df: DataFrame): DataFrame = {
    val sizeHint = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (sizeHint >= BigInt(4L * 1024 * 1024))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df
  }

  private def roundTrip(spark: SparkSession, df: DataFrame): DataFrame = {
    val codecs = EncodeJob.pinStringCodecs(df, sampleRows = 5000)
    val specs = TableEncoder.columnSpecs(df.schema, codecs)
    // a round trip is partitioning-invariant (identity per row) and the
    // driver comparer canonically row-sorts, so fanOut never changes the
    // result — the tie-prone queries additionally total-order the output
    // segmented = the production layout (per-stride independently-
    // compressed segments); its decode correctness rides this gate
    val chunks = TableEncoder.encode(TableEncoder.shred(fanOut(df), specs), specs, segmented = true)
    TableEncoder.unshred(TableEncoder.decode(chunks, specs), specs)
  }

  private def read(s: SparkSession, dir: String, table: String): DataFrame =
    s.read.parquet(s"$dir/$table.parquet")

  /** Wall time spent in in-query verification GATES (exact baselines,
    * control experiments, planted-truth checks computed inside the
    * query). graft.Bench reads and resets this around each query so the
    * artifact reports engine time and gate time separately — the gates
    * are deliberately heavyweight and must not read as engine cost.
    */
  val gateNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private def gated[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally gateNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Hard self-validation for the approximate-NN queries: recall against
    * the exact brute-force answer on the same (tiny) query set, computed
    * inside the query — below `floor` throws, flipping the CORRECTNESS
    * row to `err` on a recall regression instead of silently passing
    * rows-only. The recall rides the output as a column. (Floors match
    * the FunctionsSpec recall envelopes, not 1.0: ANN is approximate by
    * contract — only the near-dup queries have exactness guarantees.)
    */
  private def withAnnRecall(approx: DataFrame, corpus: DataFrame, queries: DataFrame,
                            k: Int, floor: Double): DataFrame = {
    val spark = approx.sparkSession
    val approxRows = approx.collect() // ≤ queries × k by contract
    val exact = gated {
      Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", "vec_id", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = approxRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = if (exact.isEmpty) 1.0 else exact.count(got.contains).toDouble / exact.size
    require(recall >= floor,
      f"ANN recall vs exact top-$k%d fell to $recall%.3f (< $floor%.2f floor)")
    spark.createDataFrame(java.util.Arrays.asList(approxRows: _*), approx.schema)
      .withColumn("recall_vs_exact", lit(recall))
      .orderBy("query_id", "rank")
  }

  /** Hard self-validation for the planted-truth near-dup queries: DuckDB
    * cannot oracle LSH outputs, but the queries plant ground-truth pairs
    * (id, id + offset) — so recall over the planted set is computed INSIDE
    * the query and a recall below 1.0 throws, flipping the CORRECTNESS row
    * to `err` on any regression instead of silently passing rows-only. The
    * recall also rides the output as a column so the driver hashes it.
    * localCheckpoint materializes the (tiny) pair set once so the recall
    * count does not re-run the LSH pipeline.
    */
  private def withPlantedRecall(pairs: DataFrame, planted: Long, offset: Long): DataFrame = {
    val spark = pairs.sparkSession
    // near-dup PAIR sets are tiny by contract (pairs, not corpus) — one
    // collect runs the LSH pipeline exactly once; recall and the final
    // sort then cost driver-array work instead of a localCheckpoint
    // materialization pass (~1 s slower than a count on the same join)
    val rows = pairs.collect()
    val hits = rows.iterator
      .filter(r => r.getLong(0) < planted && r.getLong(1) == r.getLong(0) + offset)
      .map(_.getLong(0)).toSet.size
    val recall = hits.toDouble / planted
    require(recall >= 1.0,
      f"planted near-dup recall $recall%.3f < 1.0 (only $hits of $planted planted pairs surfaced)")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), pairs.schema)
      .withColumn("planted_recall", lit(recall))
  }

  /** Flagship query on sf=0.001: full round trip of the documents table
    * through the encode/decode engine; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    roundTrip(spark, spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- codec coverage: encode→decode identity on real tables ----
    "rt_lineitem" -> ((s, dir) => {
      // total order over ALL columns, same as rt_orc_file: (l_orderkey,
      // l_linenumber) is not unique and the parallel encode fan-out
      // scrambles ties — the driver comparer row-sorts canonically, but a
      // total order keeps the output deterministic everywhere
      val li = read(s, dir, "lineitem")
      roundTrip(s, li).orderBy(li.columns.map(col).toIndexedSeq: _*)
    }),
    "rt_documents" -> ((s, dir) =>
      roundTrip(s, read(s, dir, "documents")).orderBy("doc_id")),
    "rt_events" -> ((s, dir) =>
      roundTrip(s, read(s, dir, "events")).orderBy("event_id")),
    "rt_orders" -> ((s, dir) =>
      roundTrip(s, read(s, dir, "orders")).orderBy("o_orderkey")),
    // narrow ints, decimal, float, bool, date — the full type funnel
    "rt_alltypes" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").select(
        col("l_orderkey"),
        col("l_linenumber"),
        col("l_linenumber").cast("byte").as("v_byte"),
        (col("l_suppkey") % 1000).cast("short").as("v_short"),
        col("l_quantity").cast("decimal(18,6)").as("v_decimal"),
        // >64-bit mantissa path (DECIMAL128 big-varint): value built via
        // string concat so both engines parse the identical exact literal
        // (no double→decimal rounding divergence); negatives on odd keys,
        // nulls on linenumber 7
        when(col("l_linenumber") === 7, lit(null))
          .otherwise(concat(
            when(col("l_orderkey") % 2 === 1, lit("-")).otherwise(lit("")),
            col("l_orderkey").cast("string"), lit("00000000000000000001.5")))
          .cast("decimal(38,4)").as("v_dec38"),
        col("l_discount").cast("float").as("v_float"),
        (col("l_orderkey") % 2 === 0).as("v_bool"),
        col("l_shipdate").cast("date").as("v_date"),
        concat(col("l_returnflag"), col("l_linestatus"),
          col("l_orderkey").cast("string")).cast("binary").as("v_binary"))
      // binary is compared base64'd and decimal stringified so the oracle
      // diff is representation-safe (the codecs still see the real types
      // inside roundTrip; only the FINAL projection is normalized)
      // total order over ALL columns (ties of (l_orderkey, l_linenumber)
      // exist; the parallel fan-out scrambles them — see rt_lineitem)
      val out = roundTrip(s, li)
        .withColumn("v_binary", base64(col("v_binary")))
        .withColumn("v_decimal", col("v_decimal").cast("string"))
        .withColumn("v_dec38", col("v_dec38").cast("string"))
      out.orderBy(out.columns.map(col).toIndexedSeq: _*)
    }),

    // whole-file ORC interop (the reference's primary deliverable,
    // OrcWriter.cs:21-105 / FileTail.cs:22-54, as a product API): write a
    // real multi-file .orc dataset with graft's encoders, read it back
    // with graft's own tail parser + decoders. OrcInteropSpec additionally
    // proves Spark's STOCK reader (Java orc-core) reads the same files.
    "rt_orc_file" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft-orc-rt").toString
      // one .orc file per task; fan out to the session's parallelism
      // (floor 4 keeps the multi-file shape at tiny SFs) — the read-back
      // orders by ALL columns, so the result is partitioning-invariant
      OrcInterop.writeOrcFiles(
        li.repartition(math.max(4, s.sparkContext.defaultParallelism)), out,
        stripeRows = 20000)
      // total order over ALL columns: (l_orderkey, l_linenumber) is not
      // unique in the synthetic lineitem, and repartition scrambles ties
      OrcInterop.readOrcFile(s, out).orderBy(li.columns.map(col).toIndexedSeq: _*)
    }),

    // the DataSource V2 surface end-to-end: write through
    // df.write.format("graft") (Append/Overwrite ride the V1Write
    // fallback so the full EncodeJob pipeline — codec pinning, salting,
    // atomic manifest commit — applies), then read back through the
    // registered source with a pushed date filter and a pruned
    // projection — schema inferred from disk, filters residual-exact
    "rt_source" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft-dsv2-rt").toString
      li.write.format("graft").mode("overwrite").option("numPartitions", "4").save(out)
      s.read.format("graft").load(out)
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    }),

    // stats pruning at two granularities: whole chunks whose [min,max]
    // miss the predicate are never decoded, and WITHIN a partially-
    // overlapping chunk the per-stride row index skips non-matching
    // strides at materialization — the reference's RowIndex (SURVEY
    // §2.5) actually exploited, at DEFAULT chunk size (small chunks
    // would multiply zlib/dict/FSST fixed costs; round-1 finding)
    "rt_pruned" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      // range-partition width follows the session's parallelism (floor 8
      // keeps the multi-partition pruning shape at tiny SFs): encode runs
      // one task per range instead of 8 regardless of core count; pruned
      // decode + the exact filter make the result partition-invariant
      val clustered = li
        .repartitionByRange(math.max(8, s.sparkContext.defaultParallelism), col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
      val codecs = EncodeJob.pinStringCodecs(li, 5000)
      val specs = TableEncoder.columnSpecs(li.schema, codecs)
      // segmented: pruned strides skip decompression + value decode, not
      // just row materialization
      val chunks = TableEncoder.encode(TableEncoder.shred(clustered, specs), specs,
        indexStrideRows = 2000, segmented = true)
      TableEncoder.unshred(
          TableEncoder.decodePruned(chunks, specs, Seq(
            sources.GreaterThanOrEqual("l_orderkey", 1000L),
            sources.LessThanOrEqual("l_orderkey", 2000L))), specs)
        .filter(col("l_orderkey").between(1000, 2000))
        // total order (tie determinism under partitioning, see rt_lineitem)
        .orderBy(li.columns.map(col).toIndexedSeq: _*)
    }),

    // columnar projection pushdown: decode ONLY 2 of 11 columns — the
    // other columns' stream blobs are never decompressed or value-decoded
    "rt_subset" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val codecs = EncodeJob.pinStringCodecs(li, 5000)
      val specs = TableEncoder.columnSpecs(li.schema, codecs)
      // same production-shaped, size-adaptive fan-out as roundTrip: the
      // single-split parquet otherwise encodes on one task at local[N]
      val chunks = TableEncoder.encode(TableEncoder.shred(fanOut(li), specs), specs)
      TableEncoder.unshred(
          TableEncoder.decodeColumns(chunks, specs, Seq("l_orderkey", "l_extendedprice")),
          TableEncoder.subsetSpecs(specs, Seq("l_orderkey", "l_extendedprice")))
        .orderBy("l_orderkey", "l_extendedprice")
    }),

    // ---- analytics over the star schema (oracle-checked) ----
    // Final DECIMAL columns are rendered as STRING at a pinned scale on
    // BOTH sides: the driver's hash is sensitive to the decimal physical
    // representation (Spark decimal128(28,4) vs DuckDB DECIMAL(38,4) hash
    // differently even when every value is identical — round-1 verdict).
    "q1_agg" -> ((s, dir) =>
      read(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,2)").cast("string").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("decimal(18,2)").cast("string").as("sum_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_join_agg" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val o = read(s, dir, "orders")
      val c = read(s, dir, "customer")
      val n = read(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) - col("l_discount").cast("decimal(18,4)")))
          .cast("decimal(30,6)").cast("string").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("n_name")
    }),
    "q_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      read(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .withColumn("running", round(sum(col("value")).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4))
        .select("event_id", "user_id", "rn", "running")
        .orderBy("user_id", "rn")
    }),
    "q_topk" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val p = read(s, dir, "part")
      // order/limit on the NUMERIC revenue, stringify only in the final
      // projection (a string sort would be lexicographic)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) - col("l_discount").cast("decimal(18,4)"))).as("revenue"))
        .orderBy(desc("revenue"), col("p_brand"))
        .limit(20)
        .select(col("p_brand"), col("revenue").cast("decimal(30,6)").cast("string").as("revenue"))
    }),

    // ---- text analysis (oracle-checked where bit-stable) ----
    "q_text_stats" -> ((s, dir) =>
      read(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars2"),
        when(length(trim(col("text"))) === 0, 0)
          .otherwise(length(trim(col("text"))) - length(regexp_replace(trim(col("text")), " ", "")) + 1)
          .as("n_tokens"),
        round(length(regexp_replace(col("text"), " ", "")).cast("double") /
          nullif(length(trim(col("text"))) - length(regexp_replace(trim(col("text")), " ", "")) + lit(1), lit(0)), 4)
          .as("mean_word_len"))
        .orderBy("doc_id")),
    // the SQL codec surface (GraftExtensions): native Catalyst expressions
    // fsst_compress/fsst_decompress/zlib_block/zlib_unblock round-tripping
    // inside a SQL statement on an existing session
    "q_sql_codecs" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      read(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql(
        """SELECT doc_id,
          |  cast(fsst_decompress(fsst_compress(cast(text AS binary))) AS string) AS text2,
          |  cast(zlib_unblock(zlib_block(cast(lang AS binary))) AS string) AS lang2,
          |  cast(zstd_unblock(zstd_block(cast(text AS binary))) AS string) AS text_zstd,
          |  cast(lz4_unblock(lz4_block(cast(text AS binary))) AS string) AS text_lz4
          |FROM graft_docs ORDER BY doc_id""".stripMargin)
    }),

    // exact n-gram (word-trigram) Jaccard similarity of adjacent doc pairs
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = read(s, dir, "documents").select(col("doc_id"), col("text"))
      val b = d.select(col("doc_id").as("doc_id_b"), col("text").as("text_b"))
      d.join(b, col("doc_id_b") === col("doc_id") + 1)
        .select(col("doc_id"),
          round(Dedup.ngramJaccard(col("text"), col("text_b")), 6).as("jaccard"))
        .orderBy("doc_id")
    }),

    // the stats-merge story as a TRANSPARENT Catalyst feature: ungrouped
    // MIN/MAX/COUNT over the DataSource V2 surface are answered from
    // chunk metadata alone (SupportsPushDownAggregates, partial partials
    // merged by Spark's final aggregate) — the stream blobs are never
    // read, and the query hard-gates on that (decompressInputBytes == 0)
    "q_source_agg" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val out = java.nio.file.Files.createTempDirectory("graft-dsv2-agg").toString
      li.write.format("graft").mode("overwrite").option("numPartitions", "4").save(out)
      val res = s.read.format("graft").load(out).agg(
        min(col("l_orderkey")).as("min_key"), max(col("l_orderkey")).as("max_key"),
        count(col("l_orderkey")).as("n_rows"),
        min(col("l_shipdate")).as("min_ship"), max(col("l_shipdate")).as("max_ship"),
        min(col("l_returnflag")).as("min_flag"), max(col("l_linestatus")).as("max_status"),
        // double min/max are metadata-answerable too: chunk stats pair the
        // NaN-excluding range with nan_count, restoring Spark's exact
        // NaN-above-+Inf semantics without touching the blobs
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      // hard gate: the answer must come from metadata alone — any blob
      // decompression means the pushdown silently disengaged
      graft.core.BlockCompression.resetCounters()
      res.collect()
      require(graft.core.BlockCompression.decompressInputBytes == 0,
        "q_source_agg: aggregate pushdown disengaged — stream blobs were decompressed")
      res
    }),

    // the reference's stats-merge (stride→stripe→file, SURVEY §2.5): the
    // query is answered from CHUNK METADATA ONLY — the streams blobs are
    // never decoded — and must equal the oracle's full scan
    "q_stats_merge" -> ((s, dir) => {
      // project to the three reported columns BEFORE encoding (guide
      // §2.3): the other eight columns' encode work was thrown away, and
      // the global min/max/sum/count per column are invariant to chunk
      // boundaries, so the output is bit-identical. No string columns
      // remain, so the codec-pinning sampling job disappears too.
      val li = read(s, dir, "lineitem").select("l_orderkey", "l_suppkey", "l_partkey")
      val specs = TableEncoder.columnSpecs(li.schema, Map.empty)
      TableEncoder.encode(TableEncoder.shred(li, specs), specs, strideRows = 2000)
        .filter(col("column").isin("l_orderkey", "l_suppkey", "l_partkey"))
        .groupBy(col("column").as("col_name"))
        .agg(
          min(col("min_val").cast("long")).as("mn"),
          max(col("max_val").cast("long")).as("mx"),
          sum(col("sum_val")).as("sm"),
          (sum(col("row_count")) - sum(col("null_count"))).as("n_vals"))
        .orderBy("col_name")
    }),

    // content-addressed point lookup: bloom-filter chunk pruning on an
    // unsorted high-cardinality column (text), where min/max range stats
    // keep every chunk — the reference's Protocol/BloomFilter.cs stub
    // (never implemented there) actually built and exploited
    "q_bloom_lookup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val target = docs.filter(col("doc_id") === 42).select("text").first().getString(0)
      val codecs = EncodeJob.pinStringCodecs(docs, 5000)
      val specs = TableEncoder.columnSpecs(docs.schema, codecs)
      val chunks = TableEncoder.encode(TableEncoder.shred(docs, specs), specs,
        strideRows = 100, segmented = true, bloomColumns = Set("text"))
      TableEncoder.unshred(
          TableEncoder.decodePruned(chunks, specs, Seq(sources.EqualTo("text", target))), specs)
        .filter(col("text") === lit(target))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),
    "q_dedup_exact" -> ((s, dir) =>
      read(s, dir, "documents")
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .select("keep_id", "dup_count")
        .orderBy("keep_id")),
    // the 100 TB shape of exact dedup: group on a 128-bit digest of the
    // normalized text, so the shuffle moves 16-byte keys instead of
    // whole documents (md5 here because the oracle must compute the
    // same key; the library's Dedup.exactByFingerprint uses xxhash64)
    "q_dedup_fingerprint" -> ((s, dir) =>
      read(s, dir, "documents")
        .groupBy(md5(col("text").cast("binary")).as("digest"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .select("keep_id", "dup_count")
        .orderBy("keep_id")),
    "q_lang_counts" -> ((s, dir) =>
      read(s, dir, "documents").groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // document fingerprint + quality score, oracle-checked: the
    // fingerprint is md5 over the same whitespace normalization as
    // TextOps.fingerprintCol so DuckDB computes the identical key (the
    // library default stays xxhash64 — FunctionsSpec covers it — because
    // DuckDB has no xxhash64 to oracle against); quality is the codegen'd
    // TextOps.qualityScore, reproduced in RE2-class SQL on the oracle side
    "q_fingerprint" -> ((s, dir) =>
      read(s, dir, "documents")
        .select(col("doc_id"),
          md5(regexp_replace(trim(col("text")), "\\s+", " ").cast("binary")).as("fingerprint"),
          TextOps.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),
    "q_langid" -> ((s, dir) => {
      // hard gate via planted separable languages: the synthetic corpus
      // shares ONE vocabulary across its lang labels (token-frequency
      // divergence ≤0.4% at sf0.1 — pure sampling noise), so corpus
      // accuracy is chance-capped by construction and cannot gate
      // anything. Instead plant 5 artificial languages with disjoint
      // vocabularies (ids ≥ 1e6, own lang labels), train profiles on the
      // UNION, and require ≥95% accuracy on the planted set — a training
      // or inference regression (e.g. the round-3 head-sampling bug,
      // which starves every lang outside the head cluster of a profile)
      // fails the gate. FunctionsSpec holds the ≥0.7 envelope on its
      // separable WebGen corpus.
      import s.implicits._
      val planted = (for (l <- 0 until 5; d <- 0 until 50) yield {
        val vocab = (0 until 20).map(t => s"w${l}x$t")
        val text = (0 until 30).map(i => vocab((d + i * 7) % vocab.size)).mkString(" ")
        (1000000L + l * 100 + d, s"xx_$l", text)
      }).toDF("doc_id", "lang", "text")
      val docs = read(s, dir, "documents").select("doc_id", "lang", "text")
        .union(planted)
      val profiles = TextOps.trainLangProfiles(docs, "text", "lang")
      val scored = docs.select(col("doc_id"), col("lang"),
          TextOps.langIdUdf(profiles)(col("text")).as("predicted"))
        .withColumn("correct", (col("lang") === col("predicted")).cast("int"))
        .localCheckpoint(true)
      val plantedAcc = gated {
        scored.filter(col("doc_id") >= 1000000L)
          .agg(avg(col("correct"))).first().getDouble(0)
      }
      require(plantedAcc >= 0.95,
        f"langid accuracy on planted separable langs $plantedAcc%.3f fell below 0.95")
      scored.withColumn("planted_accuracy", round(lit(plantedAcc), 4)).orderBy("doc_id")
    }),
    "q_minhash_neardup" -> ((s, dir) => {
      // plant near-duplicates (first 20 docs with the first word dropped,
      // ids offset by 1e6) so the detector's output is self-validating:
      // each planted pair (i, i+1000000) must surface
      val docs = read(s, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 1000000).as("doc_id"),
        expr("substring(text, instr(text, ' ') + 1)").as("text"))
      withPlantedRecall(
        Dedup.minhashNearDuplicates(docs.union(planted), "doc_id", "text",
          k = 32, bands = 8, shingleSize = 3, threshold = 0.5),
        planted = 20, offset = 1000000)
        .orderBy("id_a", "id_b")
    }),
    "q_neardup_dedup" -> ((s, dir) => {
      // the operator AFTER pair detection: collapse transitive near-dup
      // families to one canonical row. Planted per base doc (doc_id<10):
      // a copy missing the first word (+1e6) and one missing the first
      // TWO words (+2e6) — the latter pairs with the former even when it
      // misses the base directly, so only transitive clustering kills it.
      // Hard gate: no planted id may survive the dedup.
      val docs = read(s, dir, "documents").select("doc_id", "text")
      val drop1 = expr("substring(text, instr(text, ' ') + 1)")
      val p1 = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000).as("doc_id"), drop1.as("text"))
      val p2 = p1.select((col("doc_id") + 1000000).as("doc_id"), drop1.as("text"))
      val all = docs.union(p1).union(p2)
      val pairs = Dedup.minhashNearDuplicates(all, "doc_id", "text",
        k = 32, bands = 8, shingleSize = 3, threshold = 0.5)
      val kept = Dedup.dropNearDuplicates(all, "doc_id", pairs)
        .select("doc_id").localCheckpoint(true)
      val survivors = gated { kept.filter(col("doc_id") >= 1000000).count() }
      require(survivors == 0,
        s"$survivors planted near-dup copies survived transitive clustering")
      kept.withColumn("planted_survivors", lit(survivors)).orderBy("doc_id")
    }),
    "q_simhash" -> ((s, dir) => {
      // hard gate: plant byte-identical copies (ids + 1e6) — simhash is a
      // pure function of the token stream, so every copy MUST land on its
      // base's exact signature; any drift (hashing, tokenization, vote
      // accumulation) flips this row to err instead of silently passing
      val docs = read(s, dir, "documents").select("doc_id", "text")
      val copies = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val sigs = Dedup.simhashSignatures(docs.union(copies), "doc_id", "text")
        .localCheckpoint(true)
      val mismatched = gated {
        sigs.alias("a").join(sigs.alias("b"),
            col("a.doc_id") + 1000000 === col("b.doc_id") &&
              col("a.simhash") =!= col("b.simhash"))
          .count()
      }
      require(mismatched == 0,
        s"$mismatched planted identical copies got a different simhash")
      sigs.orderBy("doc_id")
    }),
    "q_simhash_neardup" -> ((s, dir) => {
      // plant near-identical docs (one word altered, ids offset by 1e6).
      // Hard gate: the 4-band LSH is pigeonhole-EXACT to signature hamming
      // ≤ maxHamming, so every planted pair whose signatures actually land
      // within that distance MUST surface — recall over that provable set
      // below 1.0 throws (an edit can flip >3 signature bits, so gating on
      // ALL planted pairs would assert more than the detector promises).
      val docs = read(s, dir, "documents").select("doc_id", "text")
      val planted = docs.filter(col("doc_id") < 20).select(
        (col("doc_id") + 1000000).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 8)"), lit(" altered")).as("text"))
      val union = docs.union(planted)
      // signatures computed ONCE (checkpointed), consumed by both the
      // detector and the ground-truth set
      val sigs = Dedup.simhashSignatures(union, "doc_id", "text").localCheckpoint(true)
      val pairsDf = Dedup.simhashNearDuplicatesFromSigs(sigs, "doc_id", maxHamming = 3)
      val pairRows = pairsDf.collect() // tiny by contract
      val guaranteed = gated {
        sigs.alias("a")
          .join(sigs.alias("b"), col("b.doc_id") === col("a.doc_id") + 1000000)
          .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
          .select(col("a.doc_id").as("id_a")).count()
      }
      val hits = pairRows.iterator
        .filter(r => r.getLong(0) < 20 && r.getLong(1) == r.getLong(0) + 1000000)
        .map(_.getLong(0)).toSet.size
      require(guaranteed >= 5,
        s"planted construction degraded: only $guaranteed of 20 edits stay within hamming 3")
      require(hits >= guaranteed,
        s"simhash pigeonhole violated: $hits of $guaranteed guaranteed planted pairs surfaced")
      s.createDataFrame(java.util.Arrays.asList(pairRows: _*), pairsDf.schema)
        .withColumn("planted_recall", lit(hits.toDouble / guaranteed))
        .orderBy("id_a", "id_b")
    }),
    "q_ann_cosine" -> ((s, dir) => {
      // the corpus comes from a GRAFT table, not parquet: float vectors
      // are first-class graft columns (fvec — IEEE-LE payload on the
      // binary codec), so the ANN path runs off the engine's own format
      val out = java.nio.file.Files.createTempDirectory("graft-emb").toString
      read(s, dir, "embeddings").write.format("graft").mode("overwrite")
        .option("numPartitions", "4").save(out)
      val emb = s.read.format("graft").load(out)
      val queries = emb.orderBy("vec_id").limit(5)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 10)
        .orderBy("query_id", "rank")
    }),
    // float-vector round trip: embeddings written to a graft table and
    // read back exactly (row nulls via PRESENT, per-row dims via LENGTH)
    "rt_embeddings" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-rtemb").toString
      read(s, dir, "embeddings").write.format("graft").mode("overwrite")
        .option("numPartitions", "4").save(out)
      s.read.format("graft").load(out)
        .select("vec_id", "embedding", "label").orderBy("vec_id")
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5)
      withAnnRecall(
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 10, planes = 6,
          probeBits = 2, tables = 4),
        emb, queries, k = 10, floor = 0.5)
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.orderBy("vec_id").limit(5)
      withAnnRecall(
        Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "vec_id", k = 10,
          nlist = 32, nProbe = 12),
        emb, queries, k = 10, floor = 0.5)
    }),
    "q_embed_neardup" -> ((s, dir) => {
      // plant scaled copies (cosine exactly 1.0 to the original) so the
      // bucket-join + verify pipeline provably recalls them
      val emb = read(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.01f)).as("embedding"))
      withPlantedRecall(
        Dedup.embeddingNearDuplicates(emb.union(planted), "vec_id", "embedding",
          planes = 8, threshold = 0.98),
        planted = 10, offset = 1000000)
        .orderBy("id_a", "id_b")
    }),
    "q_multimodal_meta" -> ((s, dir) => {
      // hard gate: plant real container headers (PNG IHDR 640×480, GIF89a
      // 320×200, WAV 44.1kHz stereo 16-bit 1000 frames) alongside the
      // opaque text blobs; the header walk must recover the exact planted
      // values or the row flips to err — a parser regression can no longer
      // hide behind "rows returned".
      import s.implicits._
      def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
      def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
      val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
        be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++ Array[Byte](8, 2, 0, 0, 0)
      val gif = "GIF89a".getBytes ++ le16(320) ++ le16(200) ++ Array[Byte](0, 0, 0)
      val wavData = 1000 * 2 * 2 // frames × channels × bytes-per-sample
      val wav = "RIFF".getBytes ++ le32(36 + wavData) ++ "WAVE".getBytes ++
        "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
        le32(44100 * 4) ++ le16(4) ++ le16(16) ++
        "data".getBytes ++ le32(wavData) ++ Array.fill[Byte](wavData)(0)
      val planted = Seq((1000000L, png), (1000001L, gif), (1000002L, wav))
        .toDF("doc_id", "blob")
      val out = read(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("blob"))
        .union(planted)
        .select(col("doc_id"), Multimodal.extractMetaUdf(col("blob")).as("meta"))
        .select(col("doc_id"), col("meta.format"), col("meta.width"), col("meta.height"),
          col("meta.frames"), col("meta.bytes"))
        .localCheckpoint(true)
      val got = gated {
        out.filter(col("doc_id") >= 1000000L).orderBy("doc_id")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
      }
      val want = Seq((1000000L, "png", 640, 480, 1), (1000001L, "gif", 320, 200, 1),
        (1000002L, "wav", 44100, 2, 1000))
      require(got.toSeq == want,
        s"planted media headers mis-parsed: got ${got.mkString(";")} want ${want.mkString(";")}")
      out.orderBy("doc_id")
    }),
    // Structured Streaming surface driven to completion: file-source
    // stream over events, event-time daily windows with a watermark,
    // complete-mode memory sink. Equals the batch GROUP BY (all rows are
    // on time when replaying a static table), so it is oracle-checkable.
    "q_stream_window" -> ((s, dir) => {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // glob, not a bare file path: the file stream source requires a
      // directory or pattern (test tables are single parquet files)
      val src = s.readStream.schema(schema).parquet(s"$dir/events.parque*")
      val agg = src
        // watermarks require TIMESTAMP; the table stores NTZ (session tz
        // is UTC so the cast is value-preserving, reversed on output)
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("decimal(30,4)").cast("string").as("total"))
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("event_type"), col("n"), col("total"))
      val q = agg.writeStream.format("memory").queryName("q_stream_window")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("q_stream_window").orderBy("day", "event_type")
    }),
    // the streaming READ surface: committed encode batches as
    // micro-batches (manifest-commit offsets). Batch 0 is live before the
    // stream starts; batch 1 is appended MID-stream — exactly-once means
    // the final table equals the whole documents table, oracle-checked
    "q_stream_read" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select("doc_id", "lang", "text")
      val out = java.nio.file.Files.createTempDirectory("graft-stream-read").toString
      docs.filter(col("doc_id") % 2 === 0).write.format("graft")
        .mode("overwrite").option("numPartitions", "2").save(out)
      val q = s.readStream.format("graft").load(out)
        .writeStream.format("memory").queryName("q_stream_read").outputMode("append").start()
      try {
        q.processAllAvailable()
        docs.filter(col("doc_id") % 2 === 1).write.format("graft")
          .mode("append").option("numPartitions", "2").save(out)
        q.processAllAvailable()
      } finally q.stop()
      s.table("q_stream_read").select("doc_id", "lang", "text").orderBy("doc_id")
    }),
    // OPTIMIZE-style compaction: three appended batches rewritten as ONE
    // by EncodeJob.compact, visibility swapped atomically by the
    // compaction record. Hard gates: exactly one visible batch afterwards
    // and fewer visible chunk files than before; the oracle proves the
    // rewrite lost and invented nothing. Time travel (asOfBatch) must
    // still see the pre-compaction batch 0 rows.
    "q_compaction" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select("doc_id", "lang", "text")
      val out = java.nio.file.Files.createTempDirectory("graft-compact").toString
      docs.filter(col("doc_id") % 3 === 0).write.format("graft")
        .mode("overwrite").option("numPartitions", "4").save(out)
      docs.filter(col("doc_id") % 3 === 1).write.format("graft")
        .mode("append").option("numPartitions", "4").save(out)
      docs.filter(col("doc_id") % 3 === 2).write.format("graft")
        .mode("append").option("numPartitions", "4").save(out)
      def chunkFiles(batch: Option[Int]): Long = {
        val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$out/chunks"))
        try st.filter(p => p.toString.endsWith(".parquet") &&
          batch.forall(b => p.toString.contains(s"batch=$b"))).count()
        finally st.close()
      }
      val before = chunkFiles(None)
      val newBatch = EncodeJob.compact(s, out, targetPartitions = 2)
      gated {
        require(EncodeJob.committedBatches(s, out) == Set(newBatch),
          "q_compaction: record did not swap visibility atomically")
        require(chunkFiles(Some(newBatch)) < before,
          "q_compaction: compaction did not reduce the visible file count")
        val batch0 = s.read.format("graft").option("asOfBatch", "0").load(out).count()
        require(batch0 == docs.filter(col("doc_id") % 3 === 0).count(),
          s"q_compaction: time travel to batch 0 returned $batch0 rows")
      }
      s.read.format("graft").load(out).orderBy("doc_id")
    }),
    // rewrite-with-sort: sortColumns clusters rows within each encode
    // partition, so chunk min/max ranges become near-disjoint and a range
    // predicate decompresses a fraction of the full scan (hard-gated);
    // the order is reported to Catalyst via SupportsReportOrdering
    // (hard-gated on the executed plan's scan node)
    "q_sorted_scan" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      val out = java.nio.file.Files.createTempDirectory("graft-sorted").toString
      // small chunks so the gate is meaningful at EVERY sf (65536 gave a
      // single chunk per partition at sf0.001 — nothing to prune)
      li.write.format("graft").mode("overwrite").option("numPartitions", "4")
        .option("chunkTargetBytes", "8192").option("sortColumns", "l_orderkey").save(out)
      val src = s.read.format("graft").load(out)
      val ordering = src.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.outputOrdering
      }.head
      require(ordering.nonEmpty, "q_sorted_scan: sort claim did not reach the scan plan")
      // gate on the filtered scan alone — the returned orderBy's range
      // sampler would double-count the read
      graft.core.BlockCompression.resetCounters()
      val n = src.filter(col("l_orderkey").between(100L, 200L)).collect().length
      val pruned = graft.core.BlockCompression.decompressInputBytes
      val full = gated {
        graft.core.BlockCompression.resetCounters()
        src.collect() // decode-all CONTROL baseline (count() would hit the
                      // metadata-only aggregate path: 0 bytes)
        graft.core.BlockCompression.decompressInputBytes
      }
      require(n == 0 || pruned * 2 < full,
        s"q_sorted_scan: clustered pruning ineffective ($pruned of $full bytes)")
      src.filter(col("l_orderkey").between(100L, 200L))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),
    // the SQL catalog surface end-to-end: CREATE TABLE ... USING graft,
    // INSERT INTO (full encode pipeline), catalog-qualified SELECT — the
    // oracle proves the round trip through DDL+DML loses nothing
    "q_catalog" -> ((s, dir) => {
      val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
      s.conf.set("spark.sql.catalog.gtmp", "graft.spark.source.GraftCatalog")
      s.conf.set("spark.sql.catalog.gtmp.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gtmp.db")
      s.sql("DROP TABLE IF EXISTS gtmp.db.docs")
      s.sql("""CREATE TABLE gtmp.db.docs (doc_id BIGINT, lang STRING, text STRING)
              |USING graft TBLPROPERTIES ('numPartitions' = '4')""".stripMargin)
      read(s, dir, "documents").select("doc_id", "lang", "text")
        .createOrReplaceTempView("q_catalog_src")
      s.sql("INSERT INTO gtmp.db.docs SELECT doc_id, lang, text FROM q_catalog_src")
      s.sql("SELECT doc_id, lang, text FROM gtmp.db.docs ORDER BY doc_id")
    }),
    // SQL UPDATE through the catalog (GraftDmlStrategy → selective
    // EncodeJob.updateWhere rewrite behind the atomic compaction record)
    "q_update" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val wh = java.nio.file.Files.createTempDirectory("graft-wh-upd").toString
      s.conf.set("spark.sql.catalog.gupd", "graft.spark.source.GraftCatalog")
      s.conf.set("spark.sql.catalog.gupd.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gupd.db")
      s.sql("DROP TABLE IF EXISTS gupd.db.docs")
      s.sql("""CREATE TABLE gupd.db.docs (doc_id BIGINT, lang STRING, text STRING)
              |USING graft TBLPROPERTIES ('numPartitions' = '4')""".stripMargin)
      read(s, dir, "documents").select("doc_id", "lang", "text")
        .createOrReplaceTempView("q_update_src")
      s.sql("INSERT INTO gupd.db.docs SELECT doc_id, lang, text FROM q_update_src")
      s.sql("UPDATE gupd.db.docs SET lang = concat('u-', lang), " +
        "text = upper(substring(text, 1, 8)) WHERE doc_id % 10 < 3")
      s.sql("SELECT doc_id, lang, text FROM gupd.db.docs ORDER BY doc_id")
    }),
    // SQL MERGE INTO (matched update + conditional not-matched insert),
    // copy-on-write through the same atomic-record rewrite
    "q_merge" -> ((s, dir) => {
      graft.plans.GraftExtensions.register(s)
      val wh = java.nio.file.Files.createTempDirectory("graft-wh-mrg").toString
      s.conf.set("spark.sql.catalog.gmrg", "graft.spark.source.GraftCatalog")
      s.conf.set("spark.sql.catalog.gmrg.warehouse", wh)
      s.sql("CREATE NAMESPACE IF NOT EXISTS gmrg.db")
      s.sql("DROP TABLE IF EXISTS gmrg.db.docs")
      s.sql("""CREATE TABLE gmrg.db.docs (doc_id BIGINT, lang STRING, text STRING)
              |USING graft TBLPROPERTIES ('numPartitions' = '4')""".stripMargin)
      read(s, dir, "documents").select("doc_id", "lang", "text")
        .createOrReplaceTempView("q_merge_src")
      s.sql("INSERT INTO gmrg.db.docs SELECT doc_id, lang, text FROM q_merge_src")
      s.sql(
        """MERGE INTO gmrg.db.docs t
          |USING (SELECT doc_id * 2 AS doc_id, 'xx' AS lang, 'merged' AS text
          |       FROM q_merge_src WHERE doc_id % 2 = 1) s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET t.lang = s.lang
          |WHEN NOT MATCHED THEN INSERT (doc_id, lang, text) VALUES (s.doc_id, s.lang, s.text)
          |""".stripMargin)
      s.sql("SELECT doc_id, lang, text FROM gmrg.db.docs ORDER BY doc_id")
    }),
    // Z-order clustering: one per-partition sort by the Morton key makes
    // chunk ranges selective on BOTH clustered columns — hard-gated on
    // the NON-leading dimension (l_suppkey), exactly the predicate a
    // lexicographic sort by l_partkey could never prune
    "q_zorder_scan" -> ((s, dir) => {
      val li = read(s, dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
      val out = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      li.write.format("graft").mode("overwrite").option("numPartitions", "4")
        .option("chunkTargetBytes", "8192").option("zorderColumns", "l_partkey,l_suppkey")
        .save(out)
      val src = s.read.format("graft").load(out)
      // gate on the filtered scan alone (orderBy's range sampler would
      // double-count the read)
      graft.core.BlockCompression.resetCounters()
      val n = src.filter(col("l_suppkey") === 17L).collect().length
      val pruned = graft.core.BlockCompression.decompressInputBytes
      val full = gated {
        graft.core.BlockCompression.resetCounters()
        src.collect() // decode-all CONTROL baseline
        graft.core.BlockCompression.decompressInputBytes
      }
      require(n == 0 || pruned * 2 < full,
        s"q_zorder_scan: second-dimension pruning ineffective ($pruned of $full bytes)")
      src.filter(col("l_suppkey") === 17L)
        .orderBy("l_partkey", "l_suppkey", "l_quantity")
    }),
    "q_encode_metrics" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val codecs = EncodeJob.pinStringCodecs(docs, 5000)
      val specs = TableEncoder.columnSpecs(docs.schema, codecs)
      val metrics = TableEncoder.encode(TableEncoder.shred(docs, specs), specs)
        .groupBy(col("column"), col("codec"))
        .agg(sum(col("raw_bytes")).as("raw_bytes"), sum(col("encoded_bytes")).as("encoded_bytes"))
        .orderBy("column")
        .localCheckpoint(true)
      // hard gate: the whole point of the engine — TOTAL encoded bytes
      // must beat raw (individual incompressible columns may not)
      val t = gated { metrics.agg(sum("raw_bytes"), sum("encoded_bytes")).first() }
      require(t.getLong(1) < t.getLong(0),
        s"encoded ${t.getLong(1)} B did not beat raw ${t.getLong(0)} B")
      metrics
    })
  )

  def oracleSql: Map[String, String] = Map(
    "rt_lineitem" -> "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "rt_documents" -> "SELECT * FROM documents ORDER BY doc_id",
    "rt_events" -> "SELECT * FROM events ORDER BY event_id",
    "rt_orders" -> "SELECT * FROM orders ORDER BY o_orderkey",
    "rt_orc_file" -> "SELECT * FROM lineitem ORDER BY ALL",
    "rt_source" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_shipdate""".stripMargin,
    "rt_pruned" ->
      "SELECT * FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000 ORDER BY l_orderkey, l_linenumber",
    "rt_subset" ->
      "SELECT l_orderkey, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_extendedprice",
    "rt_alltypes" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(l_linenumber AS TINYINT) AS v_byte,
        | CAST(l_suppkey % 1000 AS SMALLINT) AS v_short,
        | CAST(CAST(l_quantity AS DECIMAL(18,6)) AS VARCHAR) AS v_decimal,
        | CAST(CAST(CASE WHEN l_linenumber = 7 THEN NULL
        |   ELSE (CASE WHEN l_orderkey % 2 = 1 THEN '-' ELSE '' END)
        |     || CAST(l_orderkey AS VARCHAR) || '00000000000000000001.5'
        |   END AS DECIMAL(38,4)) AS VARCHAR) AS v_dec38,
        | CAST(l_discount AS FLOAT) AS v_float,
        | (l_orderkey % 2 = 0) AS v_bool,
        | CAST(l_shipdate AS DATE) AS v_date,
        | to_base64(CAST(l_returnflag || l_linestatus || CAST(l_orderkey AS VARCHAR) AS BLOB)) AS v_binary
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_qty,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS VARCHAR) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_join_agg" ->
      """SELECT n_name,
        | CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DECIMAL(30,6)) AS VARCHAR) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_window" ->
      """SELECT event_id, user_id,
        | row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        | round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 4) AS running
        |FROM events ORDER BY user_id, rn""".stripMargin,
    "q_topk" ->
      """SELECT p_brand, CAST(CAST(revenue AS DECIMAL(30,6)) AS VARCHAR) AS revenue FROM (
        | SELECT p_brand,
        |  sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand ORDER BY revenue DESC, p_brand LIMIT 20)""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars2,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS n_tokens,
        | round(CAST(length(replace(text, ' ', '')) AS DOUBLE) /
        |   NULLIF(length(trim(text)) - length(replace(trim(text), ' ', '')) + 1, 0), 4) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_sql_codecs" ->
      "SELECT doc_id, text AS text2, lang AS lang2, text AS text_zstd, text AS text_lz4 FROM documents ORDER BY doc_id",
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') toks FROM documents),
        |g AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ')
        |        for i in range(1, greatest(length(toks)-2, 0)+1)]) grams FROM t)
        |SELECT a.doc_id,
        |  round(CASE WHEN length(list_distinct(a.grams || b.grams)) = 0 THEN 0
        |   ELSE length(list_intersect(a.grams, b.grams))::DOUBLE / length(list_distinct(a.grams || b.grams)) END, 6) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,
    "q_stream_read" -> "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
    "q_compaction" -> "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
    "q_sorted_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 200
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,
    "q_zorder_scan" ->
      """SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
        |WHERE l_suppkey = 17 ORDER BY l_partkey, l_suppkey, l_quantity""".stripMargin,
    "q_catalog" -> "SELECT doc_id, lang, text FROM documents ORDER BY doc_id",
    "q_update" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 < 3 THEN concat('u-', lang) ELSE lang END AS lang,
        |  CASE WHEN doc_id % 10 < 3 THEN upper(substring(text, 1, 8)) ELSE text END AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_merge" ->
      """WITH src AS (SELECT doc_id * 2 AS doc_id, 'xx' AS lang, 'merged' AS text
        |             FROM documents WHERE doc_id % 2 = 1)
        |SELECT d.doc_id,
        |  CASE WHEN s.doc_id IS NOT NULL THEN 'xx' ELSE d.lang END AS lang, d.text
        |FROM documents d LEFT JOIN src s ON d.doc_id = s.doc_id
        |UNION ALL
        |SELECT s.doc_id, s.lang, s.text
        |FROM src s LEFT JOIN documents d ON d.doc_id = s.doc_id WHERE d.doc_id IS NULL
        |ORDER BY doc_id""".stripMargin,
    "q_source_agg" ->
      """SELECT min(l_orderkey) AS min_key, max(l_orderkey) AS max_key,
        | count(l_orderkey) AS n_rows,
        | min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        | min(l_returnflag) AS min_flag, max(l_linestatus) AS max_status,
        | min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
        |FROM lineitem""".stripMargin,
    "q_stats_merge" ->
      """SELECT 'l_orderkey' AS col_name, min(l_orderkey) AS mn, max(l_orderkey) AS mx,
        |   CAST(sum(l_orderkey) AS BIGINT) AS sm, count(l_orderkey) AS n_vals FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', min(l_partkey), max(l_partkey), CAST(sum(l_partkey) AS BIGINT), count(l_partkey) FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', min(l_suppkey), max(l_suppkey), CAST(sum(l_suppkey) AS BIGINT), count(l_suppkey) FROM lineitem
        |ORDER BY col_name""".stripMargin,
    "q_bloom_lookup" ->
      """SELECT doc_id, lang FROM documents
        |WHERE text = (SELECT text FROM documents WHERE doc_id = 42)
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q_dedup_fingerprint" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_lang_counts" ->
      "SELECT lang, count(*) AS n FROM documents GROUP BY lang ORDER BY lang",
    "q_fingerprint" ->
      """WITH t AS (SELECT doc_id, text,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(string_split_regex(trim(text), '\s+')) END AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  md5(regexp_replace(trim(text), '\s+', ' ', 'g')) AS fingerprint,
        |  least(length(text) / 500.0, 1.0) AS len_score,
        |  CASE WHEN toks = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / toks END AS word_len,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
        |  CASE WHEN length(regexp_replace(text, '[^\p{L}]', '', 'g')) = 0 THEN 0.0
        |       ELSE CAST(length(regexp_replace(text, '[^\p{Lu}]', '', 'g')) AS DOUBLE)
        |            / length(regexp_replace(text, '[^\p{L}]', '', 'g')) END AS upper_ratio
        | FROM t)
        |SELECT doc_id, fingerprint,
        |  round(len_score * 0.4
        |    + (CASE WHEN word_len BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.3
        |    + (1.0 - least(punct_ratio * 5.0, 1.0)) * 0.2
        |    + (1.0 - least(upper_ratio * 2.0, 1.0)) * 0.1, 4) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,
    "rt_embeddings" -> "SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id",
    "q_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
        |           FROM embeddings ORDER BY vec_id LIMIT 5),
        |s AS (SELECT q.query_id, e.vec_id,
        |        list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qe AS DOUBLE[])) AS cos
        |      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cos,
        |        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
        |      FROM s)
        |SELECT query_id, vec_id, round(cos, 6) AS cosine, rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q_stream_window" ->
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        | count(*) AS n, CAST(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DECIMAL(30,4)) AS VARCHAR) AS total
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin
  )
}
