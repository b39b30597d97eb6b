package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.plans.S2PipJoin
import graft.s2.{S2Region, TextShapes}

/** The custom LogicalPlan/Strategy/SparkPlan covering join must return
  * exactly the same rows as the declarative composition and the brute
  * force. */
class PipJoinExecSpec extends SparkTestBase {

  private def pointsDf = {
    spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
      .withColumn("lat", expr("CAST((o_orderkey * 9973 + 12345) % 18000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(90 AS DOUBLE)"))
      .withColumn("lon", expr("CAST((o_orderkey * 31337 + 54321) % 36000 AS DOUBLE) / CAST(100 AS DOUBLE) - CAST(180 AS DOUBLE)"))
      .select("o_orderkey", "lat", "lon")
  }

  test("S2PipJoinExec == declarative pipJoin == brute force (rects + polygons)") {
    val regions: Seq[(String, S2Region)] = SparkEntryRegions.rects ++ Seq[(String, S2Region)](
      "p_diamond_holed" -> TextShapes.polygon("0:-30, 30:0, 0:30, -30:0; 0:-10, 10:0, 0:10, -10:0"),
      "p_candy_cane" -> TextShapes.polygon("-20:150, -20:-70, 0:70, 10:-150, 10:70, -10:-70"))

    val viaExec = S2PipJoin.pipJoinExec(pointsDf, "lat", "lon", regions)
      .select("region_id", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val viaDataFrame = graft.operators.SpatialJoin.pipJoin(pointsDf, "lat", "lon", regions)
      .select("region_id", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val pts = pointsDf.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val brute = (for {
      (rid, region) <- regions
      (key, lat, lon) <- pts
      if graft.operators.SpatialJoin.regionContains(region, lat, lon)
    } yield (rid, key)).toSet

    assert(viaExec == brute, "custom exec vs brute force")
    assert(viaDataFrame == brute, "declarative join vs brute force")
    assert(brute.nonEmpty)
  }

  test("custom plan shows up in the physical plan and preserves child columns") {
    val df = S2PipJoin.pipJoinExec(pointsDf, "lat", "lon", SparkEntryRegions.rects)
    assert(df.columns.toSeq == Seq("o_orderkey", "lat", "lon", "region_id"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("S2PipJoin"), s"expected custom exec node in:\n$physical")
  }

  test("pipJoin pushes the lat band into the scan and broadcasts the covering without a shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("pip_plan").toString + "/points"
    pointsDf.write.parquet(dir)
    val df = graft.operators.SpatialJoin.pipJoin(spark.read.parquet(dir), "lat", "lon",
      SparkEntryRegions.rects)
    assert(df.collect().nonEmpty)
    // every physical operator of the executed plan, through AQE's wrappers
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plan = nodes(df.queryExecution.executedPlan)
    val planText = df.queryExecution.executedPlan.toString

    val scans = plan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1, s"expected one points scan in:\n$planText")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(lat,") && pushed.contains("LessThanOrEqual(lat,"),
      s"lat band not pushed into the scan: $pushed")

    val joins = plan.filter(_.getClass.getSimpleName.endsWith("JoinExec"))
    assert(joins.size == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec],
      s"expected one BroadcastHashJoin in:\n$planText")
    val pointsSide = joins.head.children.map(nodes)
      .find(_.exists(_.isInstanceOf[FileSourceScanExec])).get
    assert(!pointsSide.exists(_.isInstanceOf[Exchange]),
      s"an exchange sits between the points scan and the join:\n$planText")
  }
}
