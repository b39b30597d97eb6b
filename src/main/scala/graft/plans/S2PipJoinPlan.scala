package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.SpatialJoin
import graft.operators.SpatialJoin.CoverCell
import graft.s2.{S2CellId, S2Region}

/** Whole-operator form of the covering PIP join: a custom logical node,
  * planning strategy and physical operator (SURVEY.md section 7.3 step c).
  *
  * Physical semantics: for each input row, compute the leaf cell once and
  * binary-search a broadcast array of disjoint-per-region Hilbert intervals
  * [rangeMin, rangeMax] (unsigned); interior hits emit immediately, boundary
  * hits run the exact refinement. Compared to the DataFrame composition
  * (per-level ancestor explode + BroadcastHashJoin) this multiplies no rows
  * and probes once per overlapping interval, at the cost of stepping outside
  * whole-stage codegen — the engine exposes both and the flagship uses the
  * declarative one.
  */
case class S2PipJoinPlan(child: LogicalPlan,
                         regions: Seq[(String, S2Region)],
                         latExpr: Expression,
                         lonExpr: Expression,
                         maxCells: Int,
                         // constructor parameter so plan copies keep the same
                         // expression id (a fresh id per copy breaks binding)
                         regionIdAttr: Attribute) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ regionIdAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(regionIdAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): S2PipJoinPlan =
    copy(child = newChild)
}

/** Per-region sorted disjoint-interval tables built once on the driver and
  * shipped via task closure (small: <= regions x maxCells entries).
  *
  * Each region's covering cells are disjoint, so its [rangeMin, rangeMax]
  * spans are non-overlapping sorted intervals: a point probe is ONE binary
  * search per region (find last start <= leaf, test its end), O(|regions| *
  * log cells) per row with no scan — the cost is identical for uniform and
  * hot-cell-skewed data. */
final class CoverIntervals(cover: Seq[CoverCell], regions: Seq[(String, S2Region)])
    extends Serializable {
  val regionIds: Array[String] = regions.map(_._1).toArray
  @transient lazy val regionObjs: Array[S2Region] = regions.map(_._2).toArray

  // flipped to signed ordering so plain Long comparisons work
  private val starts: Array[Array[Long]] = new Array(regionIds.length)
  private val ends: Array[Array[Long]] = new Array(regionIds.length)
  private val interior: Array[Array[Boolean]] = new Array(regionIds.length)

  locally {
    val byRegion = cover.groupBy(_.regionId)
    var r = 0
    while (r < regionIds.length) {
      val cells = byRegion.getOrElse(regionIds(r), Nil)
        .sortBy(c => S2CellId.rangeMin(c.cell) ^ Long.MinValue)
      starts(r) = cells.map(c => S2CellId.rangeMin(c.cell) ^ Long.MinValue).toArray
      ends(r) = cells.map(c => S2CellId.rangeMax(c.cell) ^ Long.MinValue).toArray
      interior(r) = cells.map(_.interior).toArray
      r += 1
    }
  }

  /** Region indices whose covering contains the leaf; bit 31 flags an
    * interior hit. */
  def findMatches(leaf: Long, out: java.util.ArrayList[Int]): Unit = {
    out.clear()
    val key = leaf ^ Long.MinValue
    var r = 0
    while (r < starts.length) {
      val s = starts(r)
      // last interval with start <= key
      var lo = 0
      var hi = s.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (s(mid) <= key) lo = mid + 1 else hi = mid
      }
      val i = lo - 1
      if (i >= 0 && ends(r)(i) >= key) {
        out.add(if (interior(r)(i)) r | Int.MinValue else r)
      }
      r += 1
    }
  }

  def regionIndexAt(m: Int): Int = m & Int.MaxValue
  def isInterior(m: Int): Boolean = m < 0
}

case class S2PipJoinExec(child: SparkPlan,
                         regions: Seq[(String, S2Region)],
                         latExpr: Expression,
                         lonExpr: Expression,
                         maxCells: Int,
                         output: Seq[Attribute]) extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output.last)
  override protected def withNewChildInternal(newChild: SparkPlan): S2PipJoinExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val cover = SpatialJoin.coverRegions(regions, maxCells)
    val intervals = new CoverIntervals(cover, regions)
    val lat = latExpr
    val lon = lonExpr
    val childOutput = child.output
    val outAttrs = output

    child.execute().mapPartitions({ iter =>
      val latEval = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(lat, childOutput)
      val lonEval = org.apache.spark.sql.catalyst.expressions.BindReferences
        .bindReference(lon, childOutput)
      val proj = UnsafeProjection.create(outAttrs, childOutput :+ outAttrs.last)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
      val matchIdx = new java.util.ArrayList[Int]()
      val regionRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)

      iter.flatMap { row =>
        val latV = latEval.eval(row)
        val lonV = lonEval.eval(row)
        if (latV == null || lonV == null) Iterator.empty
        else {
          val latD = latV.asInstanceOf[Double]
          val lonD = lonV.asInstanceOf[Double]
          val leaf = S2CellId.fromLatLngDegrees(latD, lonD)
          intervals.findMatches(leaf, matchIdx)
          if (matchIdx.isEmpty) Iterator.empty
          else {
            val n = matchIdx.size()
            (0 until n).iterator.flatMap { k =>
              val i = matchIdx.get(k)
              val ok = intervals.isInterior(i) ||
                SpatialJoin.regionContains(
                  intervals.regionObjs(intervals.regionIndexAt(i)), latD, lonD)
              if (ok) {
                regionRow.update(0, UTF8String.fromString(
                  intervals.regionIds(intervals.regionIndexAt(i))))
                Iterator.single(proj(joined(row, regionRow)))
              } else Iterator.empty
            }
          }
        }
      }
    }, preservesPartitioning = true)
  }
}

/** Plans [[S2PipJoinPlan]] into [[S2PipJoinExec]]; [[S2PipJoin.pipJoinExec]]
  * appends it to the session's `spark.experimental.extraStrategies`. */
object S2PipJoinStrategy extends SparkStrategy {
  import org.apache.spark.sql.execution.SparkPlan
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: S2PipJoinPlan =>
      S2PipJoinExec(planLater(p.child), p.regions, p.latExpr, p.lonExpr, p.maxCells, p.output) :: Nil
    case _ => Nil
  }
}

object S2PipJoin {
  /** DataFrame API over the custom operator. */
  def pipJoinExec(points: DataFrame, latCol: String, lonCol: String,
                  regions: Seq[(String, S2Region)], maxCells: Int = 64): DataFrame = {
    val spark = points.sparkSession
    if (!spark.experimental.extraStrategies.contains(S2PipJoinStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ S2PipJoinStrategy
    }
    import org.apache.spark.sql.graft.ColumnBridge
    val logical = points.queryExecution.analyzed
    val latAttr = logical.output.find(_.name == latCol)
      .getOrElse(throw new IllegalArgumentException(s"no column $latCol"))
    val lonAttr = logical.output.find(_.name == lonCol)
      .getOrElse(throw new IllegalArgumentException(s"no column $lonCol"))
    val plan = S2PipJoinPlan(logical, regions, latAttr, lonAttr, maxCells,
      AttributeReference("region_id", org.apache.spark.sql.types.StringType, nullable = false)())
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark, plan)
  }
}
