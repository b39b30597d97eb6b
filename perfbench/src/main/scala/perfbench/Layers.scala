package perfbench

import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.operators.SpatialJoin
import graft.plans.S2PipJoin
import graft.s2._

/** Layer probes measured from outside: the benchmark times its own calls
  * into each module's public functions. */
object Layers {

  /** A kernel cost: median and quartiles over repetitions, with the
    * published reference cost where BASELINE.md has one. */
  final case class Kernel(name: String, median: Double, p25: Double, p75: Double,
                          reps: Int, reference: Option[String])

  @volatile private var sink = 0L

  /** Single-thread cost per call of `body(n)` (which makes n calls and
    * returns a value folded into a sink so the JIT keeps the work). Warms
    * up first, then times `reps` repetitions. */
  private def perCall(n: Int, reps: Int, scale: Double)(body: Int => Long): (Double, Double, Double) = {
    (0 until 5).foreach(_ => sink ^= body(n))
    val xs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      sink ^= body(n)
      (System.nanoTime() - t0).toDouble / n / scale
    }
    (Stats.median(xs), Stats.percentile(xs, 25).value, Stats.percentile(xs, 75).value)
  }

  /** The `s2` layer: single-thread, JIT-warm costs of the kernel calls the
    * workloads' hot paths make. */
  def kernel(seed: Long): Seq[Kernel] = {
    val m = 4096
    val mask = m - 1
    val lats = Array.tabulate(m)(i => math.toDegrees(math.asin(2 * Gen.unit(seed, i, 1) - 1)))
    val lons = Array.tabulate(m)(i => 360 * Gen.unit(seed, i, 2) - 180)
    val leaves = Array.tabulate(m)(i => S2CellId.fromLatLngDegrees(lats(i), lons(i)))
    val l8 = leaves.map(S2CellId.parentForLevel(_, 8))
    // points inside the diamond's bounding box, so containment does real work
    val poly = Regions.diamond
    val near = Array.tabulate(m)(i =>
      S2LatLng.fromDegrees(60 * Gen.unit(seed, i, 3) - 30, 60 * Gen.unit(seed, i, 4) - 30).toPoint)
    val (ea, eb) = (S2LatLng.fromDegrees(0, -30).toPoint, S2LatLng.fromDegrees(30, 0).toPoint)
    val chain = Array.tabulate(m)(i =>
      S2LatLng.fromDegrees(15 + 20 * Gen.unit(seed, i, 5) - 10, -15 + 20 * Gen.unit(seed, i, 6) - 10).toPoint)
    val caps = Array.tabulate(64) { i =>
      val axis = S2LatLng.fromDegrees(lats(i), lons(i)).toPoint
      S2Cap.fromAxisAngle(axis, (20000 + 130000 * Gen.unit(seed, i, 7)) / S2LatLng.EarthRadiusMeters)
    }
    val reps = 15
    def k(name: String, ref: Option[String], r: (Double, Double, Double)) =
      Kernel(name, r._1, r._2, r._3, reps, ref)

    Seq(
      k("s2.cellid_from_latlng_ns", Some("0.161 us (point->cellid, quadratic)"),
        perCall(200000, reps, 1) { n =>
          var acc = 0L; var i = 0
          while (i < n) { acc ^= S2CellId.fromLatLngDegrees(lats(i & mask), lons(i & mask)); i += 1 }
          acc
        }),
      k("s2.parent_token_ns", None,
        perCall(200000, reps, 1) { n =>
          var acc = 0L; var i = 0
          while (i < n) { acc += S2CellId.toToken(S2CellId.parentForLevel(leaves(i & mask), 8)).length; i += 1 }
          acc
        }),
      k("s2.polygon_contains_ns", None,
        perCall(50000, reps, 1) { n =>
          var acc = 0L; var i = 0
          while (i < n) { if (poly.contains(near(i & mask))) acc += 1; i += 1 }
          acc
        }),
      k("s2.edge_crossing_ns", Some("~30 ns (EdgeCrosser.robustCrossing)"),
        perCall(200000, reps, 1) { n =>
          val crosser = new EdgeCrosser(ea, eb, chain(0))
          var acc = 0L; var i = 1
          while (i <= n) { acc += crosser.robustCrossing(chain(i & mask)); i += 1 }
          acc
        }),
      k("s2.covering_us", None,
        perCall(64, reps, 1000) { n =>
          var acc = 0L; var i = 0
          while (i < n) { acc += new S2RegionCoverer().setMaxCells(32).getCovering(caps(i & 63)).length; i += 1 }
          acc
        }),
      k("s2.all_neighbors_ns", None,
        perCall(50000, reps, 1) { n =>
          var acc = 0L; var i = 0
          while (i < n) { acc += S2CellId.allNeighbors(l8(i & mask), 8).length; i += 1 }
          acc
        }),
      k("s2.distance_ns", None,
        perCall(200000, reps, 1) { n =>
          var acc = 0.0; var i = 0
          while (i < n) {
            acc += S2LatLng.fromDegrees(lats(i & mask), lons(i & mask))
              .getEarthDistance(S2LatLng.fromDegrees(lats((i + 1) & mask), lons((i + 1) & mask)))
            i += 1
          }
          acc.toLong
        }))
  }
}

/** The `functions`, `plans` and join-operator probes, which need a session. */
object SparkLayers {
  import Harness.timeMs

  private def rowsPerS(rows: Long)(run: => Any): Double = {
    run // warm-up
    val ms = (0 until 3).map(_ => timeMs(run)._2)
    rows / (Stats.median(ms) / 1000)
  }

  /** Catalyst expressions over `spark.range` in one stage, each forced by an
    * aggregate over every row. */
  def functions(ctx: Ctx, rows: Long): Map[String, Double] = {
    val base = ctx.spark.range(0, rows, 1, ctx.cores * 2)
      .withColumn("lat", ((col("id") * 9973 + 12345) % 18000).cast("double") / lit(100.0) - lit(90.0))
      .withColumn("lon", ((col("id") * 31337 + 54321) % 36000).cast("double") / lit(100.0) - lit(180.0))
    def rate(agg: org.apache.spark.sql.Column) = rowsPerS(rows)(base.agg(agg).head())
    Map(
      "functions.s2_cell_id_rows_per_s" -> rate(bit_xor(s2_cell_id(col("lat"), col("lon")))),
      "functions.s2_tile_token_rows_per_s" ->
        rate(sum(length(s2_token(s2_tile(col("lat"), col("lon"), 8))))),
      "functions.s2_distance_m_rows_per_s" ->
        rate(sum(s2_distance_m(col("lat"), col("lon"), lit(48.2), lit(16.37)))))
  }

  /** The custom plan node and the declarative join on a tile_join-shaped
    * input, plus the join's candidate and refinement ratios. */
  def pip(ctx: Ctx, rows: Long): Map[String, Double] = {
    val spark = ctx.spark
    val path = ctx.dataDir("pip_probe")
    Gen.images(spark, ctx.seed, 0, rows, ctx.cores * 2, TileJoinWorkload.layout)
      .write.mode("overwrite").parquet(path)
    try {
      val pts = spark.read.parquet(path)
      val regions = Regions.all
      val exec = rowsPerS(rows)(S2PipJoin.pipJoinExec(pts, "lat", "lon", regions).count())
      val join = rowsPerS(rows)(SpatialJoin.pipJoin(pts, "lat", "lon", regions).count())
      val (candidates, matches) = joinCounts(ctx, pts, regions)
      Map(
        "plans.pip_exec_rows_per_s" -> exec,
        "operators.pip_join_rows_per_s" -> join,
        "operators.pip_candidates_per_row" -> candidates.toDouble / rows,
        "operators.pip_refine_hit_ratio" -> matches.toDouble / math.max(1L, candidates))
    } finally Harness.deleteTree(path)
  }

  /** (covering-join output rows, matches) of `SpatialJoin.pipJoin`, read
    * from the SQL metrics of its executed plan. The operator refines with a
    * filter over the covering join. The optimizer would fold that filter
    * into the join condition, and then no metric counts the join's
    * candidates. So the optimizer's predicate push-down rules are switched
    * off for this one query: the refinement then runs as its own filter
    * above the join, whose output rows are the candidates that reach it.
    * The lat/lng prefilter still reaches the scan, as in the operator. */
  private def joinCounts(ctx: Ctx, pts: org.apache.spark.sql.DataFrame,
                         regions: Seq[(String, S2Region)]): (Long, Long) = {
    val conf = ctx.spark.conf
    val key = "spark.sql.optimizer.excludedRules"
    val old = conf.getOption(key)
    conf.set(key, Seq("PushDownPredicates", "PushPredicateThroughJoin")
      .map("org.apache.spark.sql.catalyst.optimizer." + _).mkString(","))
    try {
      val q = SpatialJoin.pipJoin(pts, "lat", "lon", regions).agg(count(lit(1)))
      val matches = q.collect().head.getLong(0)
      def isJoin(p: SparkPlan) = p.getClass.getSimpleName.endsWith("JoinExec")
      val ops = Harness.operators(q)
      val refine = ops.collect { case f: FilterExec if isJoin(f.child) => f }
      require(ops.count(isJoin) == 1 && refine.size == 1,
        "pip probe: expected one join under a refinement filter in pipJoin's plan, got " +
          ops.map(_.getClass.getSimpleName).mkString(", "))
      val candidates = refine.head.child.metrics("numOutputRows").value
      val refined = refine.head.metrics("numOutputRows").value
      require(refined == matches && candidates >= matches,
        s"pip probe: $candidates candidates, $refined refined, $matches matches")
      (candidates, matches)
    } finally old.fold(conf.unset(key))(conf.set(key, _))
  }
}
