package graft.spark

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{coalesce, col, lit, min, udf}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The statistics one (chunk, column) carries — all a keep decision
  * reads. An EncodedChunk and a filestats sidecar row
  * (`TableMeta.SidecarRow`) are both one.
  */
trait ChunkStats {
  def column: String
  def min_val: Option[String]
  def max_val: Option[String]
  def null_count: Int
  def row_count: Int
  def nan_count: Option[Int]
  def bloom: Option[Array[Byte]]
}

/** A chunk-level pruning decision derived from one source Filter — the
  * ONE place a predicate is mapped onto chunk statistics. The same
  * decision serves the DSv2 scan (task-time chunk keep + stride skip,
  * plan-time file keep over the cached sidecar index), DML batch pruning
  * and the in-memory `TableEncoder.decodePruned`. All implementations are
  * conservative (keep on any doubt) — correctness comes from the caller
  * re-applying the exact predicate to the decoded rows.
  */
sealed trait ChunkPrune extends Serializable {
  def column: String
  def keepsChunk(c: ChunkStats): Boolean
  /** Sub-chunk stride-skip bounds in the stride index's long space, when
    * this predicate can drive one.
    */
  def stridePrune: Option[TableEncoder.StridePrune] = None
  /** The same decision as a Column expression over chunk metadata rows
    * (column, min_val, max_val, null_count, row_count, nan_count, bloom)
    * — an EncodedChunk frame. Rows of other columns stay true (the AND
    * across predicates spans columns).
    */
  final def keepColumn: Column = (col("column") =!= lit(column)) || keepSelf
  protected def keepSelf: Column
}

/** IsNotNull: an all-null chunk can contribute no matching rows. */
final case class NotNullPrune(column: String) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean = c.null_count < c.row_count
  override protected def keepSelf: Column = col("null_count") < col("row_count")
}

/** IsNull: a null-free chunk can contribute no matching rows. */
final case class NullOnlyPrune(column: String) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean = c.null_count > 0
  override protected def keepSelf: Column = col("null_count") > 0
}

/** In(col, values): keep the chunk if ANY value might be present —
  * per-value min/max range + bloom probes, OR-combined.
  */
final case class AnyOfPrune(column: String, alts: Seq[PrunePred]) extends ChunkPrune {
  override def keepsChunk(c: ChunkStats): Boolean =
    alts.exists(_.keeps(c.min_val, c.max_val, c.nan_count, c.bloom))
  // one UDF running the alternatives' own keep test, not an OR of their
  // Columns: IN lists run to hundreds of values (selective MERGE pushes
  // up to 512), and an expression tree that size overflows the stack
  // when Catalyst walks it, or the 64 KB method limit when it compiles
  override protected def keepSelf: Column = {
    val a = alts
    val anyKeeps = udf { (mn: String, mx: String, nans: java.lang.Integer, bloom: Array[Byte]) =>
      a.exists(_.keeps(Option(mn), Option(mx), Option(nans).map(_.intValue), Option(bloom)))
    }
    anyKeeps(col("min_val"), col("max_val"), col("nan_count"), col("bloom"))
  }
}

/** One pushed comparison, pre-resolved on the driver into the spaces the
  * chunk metadata speaks: `statType` is the type the column's min/max
  * stat strings parse to, `lo`/`hi` the (inclusive, None = open) bounds
  * in that type, `stridePrune` the bounds in the stride index's long
  * space and `bloom` the Bloom hash pair for equality probes.
  *
  * `nanKeeps`: double/float chunk min/max (and stride indexes) EXCLUDE
  * NaN — nan_count records them. Spark orders NaN above every value, so
  * a predicate whose match set can contain NaN (`x > v`, `x >= v`,
  * `x = NaN`) must keep any chunk that may hold NaN rows, whatever the
  * NaN-free range says. Absent nan_count keeps — conservative.
  */
final case class PrunePred(column: String, statType: DataType,
                           lo: Option[Any], hi: Option[Any],
                           override val stridePrune: Option[TableEncoder.StridePrune],
                           bloom: Option[(Long, Long)], nanKeeps: Boolean)
    extends ChunkPrune {

  /** Stat string vs bound in `statType`. ±0.0 are canonicalized on both
    * sides (stats render via toString and can read "-0.0"; SQL compares
    * -0.0 == 0.0); Double/Float.compare order NaN above everything, like
    * Spark.
    */
  private def cmp(stat: String, bound: Any): Int = (statType, bound) match {
    case (LongType, b: Long)     => java.lang.Long.compare(stat.toLong, b)
    case (DoubleType, b: Double) => java.lang.Double.compare(stat.toDouble + 0.0, b + 0.0)
    case (FloatType, b: Float)   => java.lang.Float.compare(stat.toFloat + 0.0f, b + 0.0f)
    case (StringType, b: String) => UTF8String.fromString(stat).compareTo(UTF8String.fromString(b))
    case (_: DecimalType, b: java.math.BigDecimal) => new java.math.BigDecimal(stat).compareTo(b)
    case _ => throw new IllegalStateException(s"$statType bound $bound")
  }

  /** SQL three-valued semantics of keepSelf: a chunk is pruned only
    * when one bound is DEFINITELY violated; an absent or unparseable stat
    * decides nothing.
    */
  private def violates(stat: Option[String], bound: Option[Any], sign: Int): Boolean =
    (for (s <- stat; b <- bound) yield
      try cmp(s, b) * sign > 0 catch { case _: NumberFormatException => false })
      .getOrElse(false)

  def keepsChunk(c: ChunkStats): Boolean = keeps(c.min_val, c.max_val, c.nan_count, c.bloom)

  private[spark] def keeps(minVal: Option[String], maxVal: Option[String],
                           nanCount: Option[Int], chunkBloom: Option[Array[Byte]]): Boolean = {
    if (nanKeeps && nanCount.forall(_ > 0)) return true
    val byRange = !(violates(maxVal, lo, -1) || violates(minVal, hi, 1))
    byRange && bloom.forall { case (h1, h2) =>
      chunkBloom.forall(b => graft.core.Bloom.deserializeTagged(b)._2.mightContain(h1, h2))
    }
  }

  /** keepsChunk as a Column — the same type and conservatism: try_cast
    * yields null on unparseable stats and coalesce(..., true) keeps;
    * string compares ride Spark's binary collation (= the UTF8String
    * comparator); bloom rejection requires a present blob AND a
    * definite miss.
    */
  override protected def keepSelf: Column = {
    def stat(f: String) = col(f).try_cast(statType)
    def bound(v: Any) = lit(v).cast(statType)
    val violated = lo.map(l => stat("max_val") < bound(l)).toSeq ++
      hi.map(h => stat("min_val") > bound(h))
    val range = violated.reduceOption(_ || _).fold(lit(true))(v => coalesce(!v, lit(true)))
    val byRange =
      if (nanKeeps) range || coalesce(col("nan_count") > lit(0), lit(true)) else range
    bloom.fold(byRange) { case (h1, h2) =>
      val rejects = udf { (b: Array[Byte]) =>
        b != null && !graft.core.Bloom.deserializeTagged(b)._2.mightContain(h1, h2)
      }
      byRange && !rejects(col("bloom"))
    }
  }
}

object ChunkPrune {
  /** Resolve a source Filter into a chunk-pruning decision; None when the
    * stat space can't act on it (still correct — the filter stays
    * residual).
    */
  def from(f: Filter, specs: Array[ColumnSpec]): Option[ChunkPrune] = f match {
    case IsNotNull(a) =>
      specs.find(_.name.equalsIgnoreCase(a)).map(s => NotNullPrune(s.name))
    case IsNull(a) =>
      specs.find(_.name.equalsIgnoreCase(a)).map(s => NullOnlyPrune(s.name))
    case In(a, vs) if vs.nonEmpty =>
      // all alternatives must resolve, else the disjunction is unsound
      val alts = vs.toSeq.map(v => PrunePred.from(EqualTo(a, v), specs))
      if (alts.forall(_.isDefined)) Some(AnyOfPrune(alts.head.get.column, alts.map(_.get)))
      else None
    case _ => PrunePred.from(f, specs)
  }

  /** Per-(part_id, chunk_id) keep over chunk metadata rows: a group is
    * kept only when EVERY predicate keeps it (`ck`) — the in-memory
    * pruned decode's chunk Datasets.
    */
  def chunkKeep(rows: DataFrame, preds: Seq[ChunkPrune]): DataFrame =
    rows.withColumn("k", preds.map(_.keepColumn).reduce(_ && _))
      .groupBy(col("part_id"), col("chunk_id")).agg(min(col("k")).as("ck"))

  /** keepColumn's scalar twin over one chunk group's stats rows: kept
    * only when every predicate keeps each row of its own column. The
    * plan-time file keep and DML batch pruning, over the sidecar index.
    */
  def keepsGroup(preds: Seq[ChunkPrune], rows: Iterable[ChunkStats]): Boolean =
    rows.forall(r => preds.forall(p => p.column != r.column || p.keepsChunk(r)))
}

object PrunePred {
  /** Resolve a single comparison against the written spec; None when the
    * column's stat space can't act on the value type (still correct —
    * the filter stays residual). `GreaterThan`/`LessThan` are treated as
    * inclusive (a superset).
    */
  def from(f: Filter, specs: Array[ColumnSpec]): Option[PrunePred] = {
    val (attr, v, isLo, isHi) = f match {
      case EqualTo(a, x)            => (a, x, true, true)
      case GreaterThan(a, x)        => (a, x, true, false)
      case GreaterThanOrEqual(a, x) => (a, x, true, false)
      case LessThan(a, x)           => (a, x, false, true)
      case LessThanOrEqual(a, x)    => (a, x, false, true)
      case _                        => return None
    }
    val spec = specs.find(_.name.equalsIgnoreCase(attr)).getOrElse(return None)
    val eq = isLo && isHi
    def stride(lo: Long, hi: Long, nanBlockable: Boolean) =
      Some(TableEncoder.StridePrune(spec.name,
        if (isLo) lo else Long.MinValue, if (isHi) hi else Long.MaxValue, nanBlockable))
    def pred(statType: DataType, lo: Any, hi: Any,
             stridePrune: Option[TableEncoder.StridePrune],
             bloom: Option[(Long, Long)], nanKeeps: Boolean) =
      Some(PrunePred(spec.name, statType, Some(lo).filter(_ => isLo), Some(hi).filter(_ => isHi),
        stridePrune, bloom, nanKeeps))
    // long family: stats, strides and blooms all speak the shredded long
    def longPred(x: Long) =
      pred(LongType, x, x, stride(x, x, nanBlockable = false),
        if (eq) Some(graft.core.Bloom.hashPairLong(x)) else None, nanKeeps = false)

    spec.logical match {
      case "long" => v match {
        case n: Long => longPred(n); case n: Int => longPred(n.toLong)
        case n: Short => longPred(n.toLong); case n: Byte => longPred(n.toLong)
        case _ => None
      }
      case "bool" => v match {
        case b: Boolean =>
          val x = if (b) 1L else 0L
          pred(LongType, x, x, stride(x, x, nanBlockable = false), None, nanKeeps = false)
        case _ => None
      }
      case "date" => v match {
        case d: java.sql.Date       => longPred(d.toLocalDate.toEpochDay)
        case d: java.time.LocalDate => longPred(d.toEpochDay)
        case _                      => None
      }
      case "timestamp" | "timestamp_ntz" => v match {
        case t: java.sql.Timestamp      => longPred(DateTimeUtils.fromJavaTimestamp(t))
        case t: java.time.Instant       => longPred(DateTimeUtils.instantToMicros(t))
        case t: java.time.LocalDateTime => longPred(DateTimeUtils.localDateTimeToMicros(t))
        case _                          => None
      }
      case "decimal" => v match {
        case d: java.math.BigDecimal =>
          val sc = spec.narrow.split(',')(1).toInt
          try longPred(d.setScale(sc).unscaledValue().longValueExact())
          catch { case _: ArithmeticException => None }
        case _ => None
      }
      case "decimal128" => v match {
        case d: java.math.BigDecimal =>
          val Array(p, sc) = spec.narrow.split(',').map(_.toInt)
          // bounds rounded OUTWARD to the column's scale (floor below,
          // ceiling above), strides in saturating clamped-mantissa space:
          // rounding and truncation can only keep more, never drop a match
          val l = d.setScale(sc, java.math.RoundingMode.FLOOR)
          val h = d.setScale(sc, java.math.RoundingMode.CEILING)
          if (l.precision > p || h.precision > p) None
          else pred(DecimalType(p, sc), l, h,
            stride(TableEncoder.clampMantissa(l.unscaledValue),
              TableEncoder.clampMantissa(h.unscaledValue), nanBlockable = false),
            None, nanKeeps = false)
        case _ => None
      }
      case "double" | "float" =>
        val x = v match {
          case d: Double => d; case d: Float => d.toDouble; case _ => return None
        }
        // the match set can contain NaN when unbounded above (Spark orders
        // NaN above +Inf, so NaN rows satisfy `x > v`) or when the literal
        // itself is NaN (NaN = NaN is TRUE in Spark SQL)
        val nanKeeps = !isHi || x.isNaN
        // a lo == ±0.0 stride bound widens to the uncanonicalized -0.0
        // sortable value (-1): strides written before signed-zero
        // canonicalization may carry -1 for -0.0
        if (spec.logical == "double")
          pred(DoubleType, x, x,
            stride(if (x == 0.0) -1L else TableEncoder.doubleSortableBits(x),
              TableEncoder.doubleSortableBits(x), nanKeeps), None, nanKeeps)
        else {
          // float stats parse as float: bounds round OUTWARD to the
          // enclosing representable floats
          var lf = x.toFloat; if (lf.toDouble > x) lf = Math.nextDown(lf)
          var hf = x.toFloat; if (hf.toDouble < x) hf = Math.nextUp(hf)
          pred(FloatType, lf, hf,
            stride(if (lf == 0.0f) -1L else TableEncoder.floatSortableBits(lf),
              TableEncoder.floatSortableBits(hf), nanKeeps), None, nanKeeps)
        }
      case "string" => v match {
        case s: String =>
          val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          pred(StringType, s, s,
            stride(TableEncoder.stringPrefixFloor(bytes), TableEncoder.stringPrefixCeil(bytes),
              nanBlockable = false),
            if (eq) Some(graft.core.Bloom.hashPair(bytes)) else None, nanKeeps = false)
        case _ => None
      }
      // binary columns carry no min/max: equality prunes by bloom only
      case "binary" if eq => v match {
        case b: Array[Byte] =>
          Some(PrunePred(spec.name, StringType, None, None, None,
            Some(graft.core.Bloom.hashPair(b)), nanKeeps = false))
        case _ => None
      }
      case _ => None
    }
  }
}
