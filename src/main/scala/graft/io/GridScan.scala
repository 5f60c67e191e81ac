package graft.io

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.expressions.{Expression, NamedReference}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.core.ChunkGrid
import graft.io.zarr.ZarrDataSource

/** The chunk-grid pushdown planner shared by the `format("zarr")` and
  * `format("czi")` connectors. Both scan the same rows
  * ([[ZarrDataSource.chunkSchema]]) over a 5-D (t, c, z, y, x) chunk
  * grid whose extent is pure arithmetic, so filters, projections and
  * coordinate aggregates plan the same way for both; a connector supplies
  * only its grid, its data partitions and its data reader.
  *
  * At 100 TB a store has ~10^8 chunk files; a query over one z-slab must
  * plan only that slab's chunks, not enumerate-then-filter the full grid.
  * An accepted coordinate range shrinks `planInputPartitions` itself — the
  * pruning happens before any task launches, the chunk-grid analogue of
  * parquet partition pruning. Column pruning matters just as much: a scan
  * that doesn't need `data` (counts, coordinate joins, grid audits) never
  * opens a chunk file.
  */
object GridScan {
  val axes: Seq[String] = Seq("t", "c", "z", "y", "x")

  /** A complete aggregate pushdown: grouping axes + ops like ("count","")
    * / ("min","z"); no grouping axes = the ungrouped single-row case. */
  type AggOps = (Seq[String], Seq[(String, String)])

  // long/short/byte literals and casts must prune exactly like int
  // literals — a silent fall-through to "plan everything" is a fragile
  // contract
  def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** Split `total` consecutive indices into at most 256 inclusive ranges.
    * Rows synthesized from arithmetic still range-partition: a GROUP BY
    * y,x over a large grid must not serialize into one task. */
  def ranged(total: Long): Array[InputPartition] = {
    if (total == 0L) return Array.empty
    val per = ChunkGrid.ceilDiv(total, math.min(total, 256L))
    (0L until total by per)
      .map(s => GridRange(s, math.min(s + per, total) - 1): InputPartition)
      .toArray
  }
}

/** Inclusive row range [first..last] of a flat index space: chunks of the
  * pruned sub-grid, or groups of a pushed aggregate. */
final case class GridRange(first: Long, last: Long) extends InputPartition

/** Filter absorption, column pruning and aggregate translation.
  *
  * `absorbable` names the axes whose filters a connector answers exactly
  * at partition granularity. A filter on any other axis stays with Spark:
  * a partition that emits rows of every value of that axis would
  * otherwise return rows the filter excludes. */
abstract class GridScanBuilder(absorbable: Set[String])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {
  import GridScan.{asLong, axes, AggOps}

  // per-axis inclusive coordinate bounds, refined by each accepted filter
  protected val lo: Array[Long] = Array.fill(5)(0L)
  protected val hi: Array[Long] = Array.fill(5)(Long.MaxValue)
  private var pushed = Array.empty[Filter]
  protected var required: StructType = ZarrDataSource.chunkSchema
  protected var aggOps: Option[AggOps] = None

  private def refine(a: String, l: Long, h: Long): Unit = {
    val ax = axes.indexOf(a)
    lo(ax) = math.max(lo(ax), l)
    hi(ax) = math.min(hi(ax), h)
  }

  /** Exactly-representable coordinate ranges are fully absorbed (no
    * residual re-evaluation); anything else stays with Spark. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val residual = filters.filterNot { f =>
      val accepted = f match {
        case EqualTo(a, v) if absorbable(a) =>
          asLong(v).exists { x => refine(a, x, x); true }
        case GreaterThan(a, v) if absorbable(a) =>
          asLong(v).exists { x => refine(a, x + 1, Long.MaxValue); true }
        case GreaterThanOrEqual(a, v) if absorbable(a) =>
          asLong(v).exists { x => refine(a, x, Long.MaxValue); true }
        case LessThan(a, v) if absorbable(a) =>
          asLong(v).exists { x => refine(a, Long.MinValue, x - 1); true }
        case LessThanOrEqual(a, v) if absorbable(a) =>
          asLong(v).exists { x => refine(a, Long.MinValue, x); true }
        case In(a, vs) if absorbable(a) && vs.nonEmpty && vs.forall(asLong(_).isDefined) =>
          // prune to the value envelope but keep the filter residual —
          // the sub-grid is a superset of an In's point set
          val xs = vs.map(asLong(_).get)
          refine(a, xs.min, xs.max)
          false
        case _ => false
      }
      if (accepted) pushed :+= f
      accepted
    }
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source column order; an empty projection (count(*)) keeps
    // nothing and the reader emits empty rows
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(ZarrDataSource.chunkSchema.filter(f => keep.contains(f.name)))
  }

  /** COUNT(*) / MIN / MAX over chunk coordinates are grid arithmetic —
    * answered from the driver-planned bounds with no IO at all, the
    * "billions of chunk files, zero list calls" property taken to its
    * endpoint. GROUP BY coordinate axes pushes down too: each group is a
    * coordinate combination of the grouped axes, its count the product of
    * the other axes' extents — still pure arithmetic, emitted without
    * opening a single chunk file. Only exact cases are accepted (every
    * aggregate and every grouping column translatable). Spark offers an
    * aggregate for pushdown only when every filter was absorbed, so the
    * bounds are exact: an In's sub-grid superset is pruning-only and
    * never reaches here. */
  private def translate(agg: Aggregation): Option[AggOps] = {
    def ax(e: Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 && axes.contains(f.fieldNames()(0)) =>
        Some(f.fieldNames()(0))
      case _ => None
    }
    val groups = agg.groupByExpressions.toSeq.map(ax)
    val ops = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(("count", ""))
      case m: Min => ax(m.column).map(("min", _))
      case m: Max => ax(m.column).map(("max", _))
      case _ => None
    }
    if (ops.forall(_.isDefined) && groups.forall(_.isDefined) &&
        groups.flatten.distinct.size == groups.size)
      Some((groups.flatten, ops.map(_.get)))
    else None
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    translate(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean =
    translate(agg) match {
      case Some(ops) => aggOps = Some(ops); true
      case None => false
    }
}

/** A planned scan: the pushed bounds clamped to the connector's grid.
  * `scanName(target …)` heads `description()`, which reads no metadata. */
abstract class GridScan(scanName: String, target: String,
                        lo: Array[Long], hi: Array[Long], required: StructType,
                        aggOps: Option[GridScan.AggOps])
    extends Scan with Batch {

  /** Chunks along each axis. May read the source's metadata, so only
    * planning forces it. */
  protected def grid: Array[Long]

  /** One or more partitions per chunk of the sub-grid `base`/`ext`. */
  protected def planData(): Array[InputPartition]

  /** The reader of [[planData]]'s partitions, emitting `required` rows. */
  protected def dataReaderFactory(): PartitionReaderFactory

  // the scanned sub-grid: pushed bounds clamped to the real grid
  protected lazy val base: Array[Long] = Array.tabulate(5)(d => math.max(0L, lo(d)))
  protected lazy val ext: Array[Long] = Array.tabulate(5)(d =>
    math.max(0L, math.min(grid(d) - 1, hi(d)) - base(d) + 1))

  override def readSchema(): StructType = aggOps match {
    case Some((groups, ops)) => StructType(
      groups.map(g => StructField(g, IntegerType, nullable = false)) ++
        ops.zipWithIndex.map {
          case (("count", _), i) => StructField(s"agg$i", LongType, nullable = false)
          case (_, i) => StructField(s"agg$i", IntegerType, nullable = true)
        })
    case None => required
  }

  override def toBatch: Batch = this

  override def description(): String = {
    val bounds = (0 until 5).collect {
      case d if lo(d) > 0L || hi(d) != Long.MaxValue =>
        s"${GridScan.axes(d)}=[${lo(d)}..${if (hi(d) == Long.MaxValue) "*" else hi(d)}]"
    }
    val agg = aggOps.map { case (groups, ops) =>
      val g = if (groups.isEmpty) "" else groups.mkString(" groupBy=", ",", "")
      " agg=" + ops.map {
        case ("count", _) => "count(*)"
        case (op, ax) => s"$op($ax)"
      }.mkString(",") + g
    }.getOrElse("")
    s"$scanName($target${if (bounds.isEmpty) "" else bounds.mkString(" ", ",", "")} cols=${required.fieldNames.mkString(",")}$agg)"
  }

  override def planInputPartitions(): Array[InputPartition] = aggOps match {
    // ungrouped pushed aggregate: one arithmetic row, one no-IO partition
    case Some((groups, _)) if groups.isEmpty => Array(GridRange(0L, 0L))
    // grouped: range-partition the group space (arithmetic rows, no IO);
    // an empty sub-grid has no groups at all
    case Some((groups, _)) =>
      if (ext.exists(_ == 0L)) Array.empty
      else GridScan.ranged(groups.map(g => ext(GridScan.axes.indexOf(g))).product)
    case None => planData()
  }

  override def createReaderFactory(): PartitionReaderFactory = aggOps match {
    case Some((groups, ops)) => GridAggReaderFactory(groups, ops, base, ext)
    case None => dataReaderFactory()
  }
}

/** Emits pre-aggregated rows for a pushed COUNT/MIN/MAX: the chunk count
  * is the (per-group) sub-grid volume, coordinate extrema are its corner
  * coordinates (or the group's own value for a grouped axis). Grouped
  * aggregates enumerate the grouped axes' coordinate combinations for
  * this partition's slice of the group space. No filesystem access at
  * all. */
final case class GridAggReaderFactory(groups: Seq[String], ops: Seq[(String, String)],
                                      base: Array[Long], ext: Array[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val gDims = groups.map(GridScan.axes.indexOf).toArray
      // per-group chunk count (the whole sub-grid when ungrouped): the
      // product of the NON-grouped extents
      private val n = (0 until 5).filterNot(gDims.contains).map(ext(_)).product
      private val range = partition.asInstanceOf[GridRange]
      private var cur = range.first - 1L
      override def next(): Boolean = { cur += 1; cur <= range.last }
      override def get(): InternalRow = {
        // row-major decompose of the group index over the grouped axes
        val combo = new Array[Long](gDims.length)
        var rem = cur
        var d = gDims.length - 1
        while (d >= 0) {
          combo(d) = base(gDims(d)) + rem % ext(gDims(d)); rem /= ext(gDims(d)); d -= 1
        }
        val aggVals = ops.map {
          case ("count", _) => n
          case _ if n == 0L => null // empty sub-grid: min/max of no rows
          case (op, ax) =>
            val dim = GridScan.axes.indexOf(ax)
            val gi = gDims.indexOf(dim)
            if (gi >= 0) combo(gi).toInt // grouped axis: the group's value
            else if (op == "min") base(dim).toInt
            else (base(dim) + ext(dim) - 1).toInt
        }
        InternalRow.fromSeq(combo.map(_.toInt: Any).toIndexedSeq ++ aggVals)
      }
      override def close(): Unit = ()
    }
}
