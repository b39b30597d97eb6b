package perfbench

import org.apache.spark.sql.functions._

import graft.SparkEntryRegions
import graft.functions.s2functions._
import graft.operators.{Knn, SpatialJoin, Tiling}
import graft.s2._

/** A workload: set-up (inputs + warm-up), then a measured loop. */
trait Workload {
  def name: String
  /** Root span name of the repeated operation the latencies describe. */
  def mainOp: String
  /** Inputs and, when `warm`, one warm-up operation. */
  def setupRound(ctx: Ctx, warm: Boolean = true): Unit
  /** `mini` runs a handful of operations only: the traced run of another
    * workload uses it to read this workload's operator figures. */
  def measure(ctx: Ctx, seconds: Double, mini: Boolean): Measured
  def cleanup(ctx: Ctx): Unit
}

object Workload {
  def apply(name: String): Workload = name match {
    case "tile_join" => new TileJoinWorkload
    case "knn" => new KnnWorkload
    case "ingest" => new IngestWorkload
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected tile_join, knn or ingest)")
  }
  val Names: Seq[String] = Seq("tile_join", "knn", "ingest")

  /** Trace ids whose root span is `name`. */
  def rootTraces(spans: Seq[Span], name: String): Seq[Long] =
    spans.filter(s => s.parent == 0 && s.name == name).map(_.trace)

  /** Driver-only time of each trace: root duration minus the time covered
    * by its Spark jobs. */
  def driverMs(spans: Seq[Span], traces: Seq[Long]): Seq[Double] = {
    val byTrace = spans.groupBy(_.trace)
    traces.map { t =>
      val ss = byTrace(t)
      val root = ss.find(_.parent == 0).get
      val jobs = ss.filter(_.name == "job").map(s => (s.startUs, s.endUs))
      (root.durUs - Trace.unionLength(jobs, root.startUs, root.endUs)) / 1000.0
    }
  }
}

/** The query regions of the flagship: the three rects every catalog rect
  * query uses, plus the catalog's holed diamond polygon (the same shell and
  * hole as the catalog's `p_diamond_holed`). */
object Regions {
  val DiamondShell: Seq[(Double, Double)] = Seq((0.0, -30.0), (30.0, 0.0), (0.0, 30.0), (-30.0, 0.0))
  val DiamondHole: Seq[(Double, Double)] = Seq((0.0, -10.0), (10.0, 0.0), (0.0, 10.0), (-10.0, 0.0))

  def diamond: S2Polygon = {
    def loopText(vs: Seq[(Double, Double)]) = vs.map { case (la, lo) => s"$la:$lo" }.mkString(", ")
    TextShapes.polygon(s"${loopText(DiamondShell)}; ${loopText(DiamondHole)}")
  }

  def all: Seq[(String, S2Region)] = SparkEntryRegions.rects :+ ("p_diamond_holed" -> diamond)

  /** Level-8 cell on the diamond's first shell edge. */
  val HotCell: Long = Gen.edgeHotCell(DiamondShell(0), DiamondShell(1))
}

object TileJoinWorkload {
  val Rows = 600000L
  /** The skewed variant of the fixtures (FIXTURES.md) puts ~30 % of rows in
    * hot cells; here they share one cell. */
  val HotShare = 0.3
  def layout: Gen.Layout = Gen.UniformWithHotCell(Regions.HotCell, HotShare)
}

/** `tile_join`: each iteration is one action over the points table — tile
  * assignment at level 8, then the covering PIP join against the region
  * set, forced by count + sum(length(tile_token)). */
final class TileJoinWorkload extends Workload {
  import TileJoinWorkload.Rows
  val name = "tile_join"
  val mainOp = "tile_join.iteration"
  private val regions = Regions.all
  private var expected: Option[(Long, Long)] = None

  private def path(ctx: Ctx) = ctx.dataDir("tile_join_points")

  def setupRound(ctx: Ctx, warm: Boolean): Unit = {
    Gen.images(ctx.spark, ctx.seed, 0, Rows, ctx.cores * 8, TileJoinWorkload.layout)
      .write.mode("overwrite").parquet(path(ctx))
    if (warm) iteration(ctx)
  }

  private def iteration(ctx: Ctx): (Long, Long) = {
    val t = ctx.tracer
    val joined = t.span("tile_join.plan", "operators") {
      val tiled = Tiling.tileAssign(ctx.spark.read.parquet(path(ctx)), "lat", "lon", 8)
      SpatialJoin.pipJoin(tiled, "lat", "lon", regions)
    }
    t.span("tile_join.action", "operators") {
      val r = joined.agg(count(lit(1)), sum(length(col("tile_token")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
  }

  /** Independent per-region (matches, token-length sum): the rects by their
    * SQL predicate, the polygon by brute-force exact containment, and the
    * tile token straight from the kernel. Also checks that the custom plan
    * node finds the same matches. */
  private def verify(ctx: Ctx): (Long, Long) = {
    val spark = ctx.spark
    val pts = spark.read.parquet(path(ctx))
    val tokenLen = udf((lat: Double, lon: Double) =>
      S2CellId.toToken(S2CellId.parentForLevel(S2CellId.fromLatLngDegrees(lat, lon), 8)).length)
    val poly = spark.sparkContext.broadcast(Regions.diamond)
    val inPoly = udf((lat: Double, lon: Double) => SpatialJoin.regionContains(poly.value, lat, lon))
    val perRegion: Map[String, (Long, Long)] =
      (SparkEntryRegions.rectBounds.map { case (rid, latLo, latHi, lonLo, lonHi) =>
        rid -> pts.where(SparkEntryRegions.rectPredSql(latLo, latHi, lonLo, lonHi))
      } :+ ("p_diamond_holed" -> pts.where(inPoly(col("lat"), col("lon")))))
        .map { case (rid, df) =>
          val r = df.agg(count(lit(1)), sum(tokenLen(col("lat"), col("lon")))).head()
          rid -> (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }.toMap

    def grouped(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
      df.groupBy("region_id").agg(count(lit(1)), sum(length(col("tile_token"))))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tiled = Tiling.tileAssign(pts, "lat", "lon", 8)
    val viaJoin = grouped(SpatialJoin.pipJoin(tiled, "lat", "lon", regions))
    val viaExec = grouped(graft.plans.S2PipJoin.pipJoinExec(tiled, "lat", "lon", regions))
    val want = perRegion.filter(_._2._1 > 0)
    ctx.expect(viaJoin == want, s"tile_join: pipJoin per-region $viaJoin != independent $want")
    ctx.expect(viaExec == want, s"tile_join: pipJoinExec per-region $viaExec != independent $want")
    (perRegion.values.map(_._1).sum, perRegion.values.map(_._2).sum)
  }

  def measure(ctx: Ctx, seconds: Double, mini: Boolean): Measured = {
    val want = expected.getOrElse {
      val w = ctx.op(verify(ctx)).getOrElse((-1L, -1L))
      expected = Some(w)
      w
    }
    val lat = ctx.closedLoop(seconds, 5, 10000, alternate = true) { _ =>
      ctx.op {
        val (got, ms) = Harness.timeMs(ctx.tracer.span(mainOp, "bench")(iteration(ctx)))
        ctx.expect(got == want, s"tile_join: iteration (matches, token sum) $got != $want")
        ms
      }
    }
    val pts = ctx.spark.read.parquet(path(ctx))
    Measured(lat, Rows / (Stats.median(lat) / 1000),
      Harness.diskBytes(path(ctx)).toDouble / Harness.userBytes(pts))
  }

  def cleanup(ctx: Ctx): Unit = Harness.deleteTree(path(ctx))
}

object KnnWorkload {
  val Rows = 40000L
  val K = 10
  /** Every `CheckEvery`-th request is compared with a brute-force top-k. */
  val CheckEvery = 4
}

/** `knn`: a closed loop with one client; each request is one `knnJoin` of a
  * seeded query point against a cached points table. */
final class KnnWorkload extends Workload {
  import KnnWorkload._
  val name = "knn"
  val mainOp = "knn.request"
  private var pts: org.apache.spark.sql.DataFrame = _

  private def path(ctx: Ctx) = ctx.dataDir("knn_points")
  private val layout = Gen.Clustered(Gen.Cities, 1.0, 0.1)

  private def release(ctx: Ctx): Unit =
    if (pts != null && (pts.sparkSession eq ctx.spark)) pts.unpersist(blocking = true)

  def setupRound(ctx: Ctx, warm: Boolean): Unit = {
    release(ctx)
    Gen.images(ctx.spark, ctx.seed, 0, Rows, ctx.cores, layout)
      .write.mode("overwrite").parquet(path(ctx))
    pts = ctx.spark.read.parquet(path(ctx)).select("image_id", "lat", "lon").cache()
    pts.count()
    if (warm) request(ctx, 0)
  }

  /** Query j: a point drawn from the data's own layout on a separate stream. */
  private def query(ctx: Ctx, j: Int): (Double, Double) =
    layout.latLon(ctx.seed ^ 0x5eed5eedL, j)

  private def request(ctx: Ctx, j: Int): Seq[(Long, Double)] = {
    val (qlat, qlon) = query(ctx, j)
    Knn.knnJoin(pts, "lat", "lon", Seq("image_id"), Seq((s"q$j", qlat, qlon)), K)
      .select("image_id", "distance_m", "rank").collect()
      .sortBy(_.getInt(2)).map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  private def bruteForce(ctx: Ctx, j: Int): Seq[(Long, Double)] = {
    val (qlat, qlon) = query(ctx, j)
    pts.withColumn("d", s2_distance_m(col("lat"), col("lon"), lit(qlat), lit(qlon)))
      .orderBy(col("d"), col("image_id")).limit(K)
      .select("image_id", "d").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  def measure(ctx: Ctx, seconds: Double, mini: Boolean): Measured = {
    var scanned = 0L
    val lat = ctx.closedLoop(seconds, if (mini) 3 else 5, if (mini) 3 else 100000, !mini) { j =>
      ctx.op {
        val (got, ms) = Harness.timeMs(ctx.tracer.span(mainOp, "bench") {
          ctx.tracer.span("knn.join", "operators")(request(ctx, j))
        })
        // read while the request's SQL executions are still retained, and
        // after the listener has seen every job the request started
        if (ctx.tracer.active) {
          SparkProbe.drain(ctx.spark.sparkContext)
          scanned += SparkProbe.scannedRows(ctx.spark,
            ctx.probe.get.totalsFor(Seq(ctx.tracer.lastTrace)).jobIds)
        }
        if (j % CheckEvery == 0) {
          val want = bruteForce(ctx, j)
          ctx.expect(got == want, s"knn: request $j top-$K $got != brute force $want")
        }
        ms
      }
    }
    val layer =
      if (!ctx.tracer.enabled) Map.empty[String, Double]
      else {
        SparkProbe.drain(ctx.spark.sparkContext)
        val spans = ctx.tracer.spans
        val traces = Workload.rootTraces(spans, mainOp)
        val tot = ctx.probe.get.totalsFor(traces)
        val n = traces.size.toDouble
        Map(
          "operators.knn_jobs_per_request" -> tot.jobIds.size / n,
          "operators.knn_rows_scanned_per_request" -> scanned / n,
          "operators.knn_driver_ms_per_request" -> Stats.median(Workload.driverMs(spans, traces)))
      }
    val all = ctx.spark.read.parquet(path(ctx))
    Measured(lat, Rows / (Stats.median(lat) / 1000),
      Harness.diskBytes(path(ctx)).toDouble / Harness.userBytes(all), layer)
  }

  def cleanup(ctx: Ctx): Unit = {
    release(ctx)
    Harness.deleteTree(path(ctx))
  }
}
