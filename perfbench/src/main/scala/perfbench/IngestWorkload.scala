package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.s2functions._
import graft.operators.Tiling
import graft.s2._

object IngestWorkload {
  val Rows = 50000L
  /** Rows per upsert batch and per streamed append: 1 % of the table, sized
    * so the merges, appends and compaction leave most of a 20 s run to the
    * lookups (a merge rewrites every partition it touches, about 2 s). */
  val Batch = 500
  /** Share of a batch that inserts fresh keys. The catalog's
    * `q_merge_upsert` updates the keys with `key % 7 == 0` and inserts one
    * key for each `key % 11 == 0`: 7 inserts to 11 updates. As there, every
    * updated key gets freshly drawn coordinates. */
  val InsertShare = 7.0 / 18
  /** Streamed appends before the compaction. */
  val Appends = 2
  /** Tiling's default coarse partition level, which the clustered write
    * and the merges use here. */
  val CoarseLevel = 5
  val Clusters = 8
  /** Cluster spread in degrees (about 56 km). Lookup caps of 40-80 km are
    * 0.7-1.4 of it: a "photos around here" query that returns part of one
    * city's photos and reads one to a few coarse partitions. */
  val SigmaDeg = 0.5
  val Payload = (64, 256)
}

/** `ingest`: writes beside reads on the clustered layout. A clustered write
  * of the image table, a closed loop of upsert batches (about half the
  * updated keys move to another tile), streamed appends that leave several files in a
  * partition, one compaction, then a closed loop of region lookups — the
  * repeated operation the latencies describe. */
final class IngestWorkload extends Workload {
  import IngestWorkload._
  val name = "ingest"
  val mainOp = "ingest.lookup"

  private def src(ctx: Ctx) = ctx.dataDir("ingest_source")
  private def table(ctx: Ctx) = ctx.dataDir("ingest_table")
  private val layout = Gen.Clustered(Gen.Cities.take(Clusters), SigmaDeg, 0.0)

  // keys per cluster and their current coordinates, kept beside the table
  private val members = Array.fill(Clusters)(mutable.LinkedHashSet.empty[Long])
  private val home = mutable.HashMap.empty[Long, Int]
  private val coords = mutable.HashMap.empty[Long, (Double, Double)]
  private var nextId = Rows

  def setupRound(ctx: Ctx, warm: Boolean): Unit = {
    Gen.images(ctx.spark, ctx.seed, 0, Rows, ctx.cores, layout, payload = Payload)
      .write.mode("overwrite").parquet(src(ctx))
    if (warm) {
      Tiling.clusteredWrite(ctx.spark.read.parquet(src(ctx)), "lat", "lon", table(ctx), CoarseLevel)
      lookup(ctx, -1)
      Harness.deleteTree(table(ctx))
    }
  }

  private def resetKeys(ctx: Ctx): Unit = {
    members.foreach(_.clear())
    home.clear()
    coords.clear()
    var i = 0L
    while (i < Rows) {
      val c = layout.clusterOf(ctx.seed, i)
      if (c >= 0) { members(c) += i; home(i) = c }
      coords(i) = layout.latLon(ctx.seed, i)
      i += 1
    }
    nextId = Rows
  }

  private def countAndDistinct(ctx: Ctx): (Long, Long) = {
    val r = ctx.spark.read.parquet(table(ctx))
      .agg(count(lit(1)), count_distinct(col("image_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One image row in the table's shape with the given key and place. */
  private def row(s: Long, k: Int, key: Long, lat: Double, lon: Double): Row = {
    val r = Gen.imageRow(s, k, layout, 0L, Payload)
    Row(key, lat, lon, r.get(3), r.get(4), r.get(5), r.get(6), r.get(7), r.get(8))
  }

  /** A fresh place around one of the cities `cs`, drawn from the seed. */
  private def around(cs: Seq[Int], s: Long, k: Int): (Double, Double) =
    layout.near(cs((Gen.unit(s, k, 5) * cs.size).toInt), s, k, 6)

  /** Batch j: the uploads of two cities. Updated keys are redrawn around
    * either city, so about half of them move city and so tile; inserts are
    * fresh keys around the same two. */
  private def batch(ctx: Ctx, j: Int): Seq[Row] = {
    val s = ctx.seed * 31 + j
    val c1 = (Gen.unit(s, 0, 1) * Clusters).toInt
    val c2 = (Gen.unit(s, 0, 2) * Clusters).toInt
    val pool = (members(c1) ++ (if (c2 != c1) members(c2) else Nil)).toArray
    val nUpd = math.min(pool.length, math.round(Batch * (1 - InsertShare)).toInt)
    // seeded partial Fisher-Yates over the pool
    var k = 0
    while (k < nUpd) {
      val r = k + (Gen.unit(s, k, 3) * (pool.length - k)).toInt
      val t = pool(k); pool(k) = pool(r); pool(r) = t
      k += 1
    }
    val updates = (0 until nUpd).map { k =>
      val (lat, lon) = around(Seq(c1, c2), s, k)
      (pool(k), lat, lon)
    }
    val inserts = (0 until Batch - nUpd).map { k =>
      val (lat, lon) = around(Seq(c1, c2), s, Batch + k)
      (nextId + k, lat, lon)
    }
    (updates ++ inserts).zipWithIndex.map { case ((key, lat, lon), k) => row(s, k, key, lat, lon) }
  }

  /** Append j: fresh keys written the way a streaming sink appends them.
    * Cell ids come from the graft s2 functions, and there is no clustering
    * shuffle, so each task adds one file to every partition its rows fall in. */
  private def append(ctx: Ctx, j: Int): Seq[Row] = {
    val s = ctx.seed * 43 + j
    val rows = (0 until Batch).map { k =>
      val (lat, lon) = around(0 until Clusters, s, k)
      row(s, k, nextId + k, lat, lon)
    }
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, ctx.cores), Gen.ImageSchema)
      .withColumn("__leaf", s2_cell_id(col("lat"), col("lon")))
      .withColumn("coarse_tile", s2_token(s2_parent(col("__leaf"), CoarseLevel)))
      .withColumn("__leaf_ord", s2_ord(col("__leaf")))
      .drop("__leaf")
      .write.mode("append").partitionBy("coarse_tile").parquet(table(ctx))
    rows
  }

  private def applyBatch(ctx: Ctx, rows: Seq[Row]): Unit = {
    rows.foreach { r =>
      val key = r.getLong(0)
      val (lat, lon) = (r.getDouble(1), r.getDouble(2))
      if (key >= nextId) nextId = key + 1
      home.remove(key).foreach(members(_) -= key)
      coords(key) = (lat, lon)
      // re-home the key by its nearest cluster centre
      val c = layout.centers.indices.minBy { c =>
        val (clat, clon) = layout.centers(c)
        math.pow(lat - clat, 2) + math.pow(Gen.wrapLon(lon - clon), 2)
      }
      members(c) += key
      home(key) = c
    }
  }

  private def lookupCap(ctx: Ctx, j: Int): (Double, Double, Double) = {
    val s = ctx.seed * 17 + 1000003L * (j + 2)
    val (lat, lon) = layout.near((Gen.unit(s, 0, 1) * Clusters).toInt, s, 0, 2)
    (lat, lon, 40000 + 40000 * Gen.unit(s, 0, 6))
  }

  private def capPred(lat: Double, lon: Double, radiusM: Double) =
    s2_distance_m(col("lat"), col("lon"), lit(lat), lit(lon)) <= radiusM

  /** Region lookup j: cover the cap, read only the covered cells, apply the
    * exact distance predicate and count. Returns (count, executed query). */
  private def lookup(ctx: Ctx, j: Int): (Long, DataFrame) = {
    val (lat, lon, r) = lookupCap(ctx, j)
    val cells = ctx.tracer.span("ingest.covering", "s2") {
      val axis = S2LatLng.fromDegrees(lat, lon).toPoint
      val cap = S2Cap.fromAxisAngle(axis, r / S2LatLng.EarthRadiusMeters * (1 + 1e-9))
      new S2RegionCoverer().setMaxCells(16).getCovering(cap)
    }
    ctx.tracer.span("ingest.read", "operators") {
      val q = Tiling.readClusteredForCells(ctx.spark, table(ctx), cells, CoarseLevel)
        .where(capPred(lat, lon, r)).agg(count(lit(1)))
      // collect, not head: head runs a different (limited) plan, and the
      // scan metrics are read from this one
      (q.collect().head.getLong(0), q)
    }
  }

  def measure(ctx: Ctx, seconds: Double, mini: Boolean): Measured = {
    val spark = ctx.spark
    val layer = mutable.LinkedHashMap.empty[String, Double]

    // 1. clustered writes of the image table (the last one is kept); five,
    // so one slow write does not move the median
    val writeMs = (0 until (if (mini) 1 else 5)).flatMap { _ =>
      ctx.op {
        val (_, ms) = Harness.timeMs(ctx.tracer.span("ingest.write", "bench") {
          ctx.tracer.span("ingest.clusteredWrite", "operators") {
            Tiling.clusteredWrite(spark.read.parquet(src(ctx)), "lat", "lon", table(ctx), CoarseLevel)
          }
        })
        val (n, d) = countAndDistinct(ctx)
        ctx.expect(n == Rows && d == Rows, s"ingest: clustered write holds $n rows, $d keys, want $Rows")
        ms
      }
    }
    resetKeys(ctx)

    // 2. upsert batches; after each, every key once and updates read back
    val stats = mutable.ArrayBuffer.empty[(Tiling.MergeStats, Int)]
    val merges = if (mini) 1 else 2
    val mergeMs = ctx.closedLoop(0, merges, merges) { j =>
      ctx.op {
        val rows = batch(ctx, j)
        val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cores), Gen.ImageSchema)
        val (st, ms) = Harness.timeMs(ctx.tracer.span("ingest.merge", "bench") {
          ctx.tracer.span("ingest.mergeClustered", "operators") {
            Tiling.mergeClustered(spark, table(ctx), df, "image_id", "lat", "lon", CoarseLevel)
          }
        })
        stats += ((st, rows.size))
        applyBatch(ctx, rows)
        val want = df.select(col("image_id"), col("lat").as("want_lat"), col("lon").as("want_lon"))
        val r = spark.read.parquet(table(ctx)).join(broadcast(want), Seq("image_id"), "left")
          .agg(count(lit(1)), count_distinct(col("image_id")),
            count(when(col("lat") === col("want_lat") && col("lon") === col("want_lon"), 1)))
          .head()
        val (n, d, readBack) = (r.getLong(0), r.getLong(1), r.getLong(2))
        ctx.expect(n == coords.size && d == coords.size,
          s"ingest: after merge $j the table holds $n rows, $d keys, want ${coords.size}")
        ctx.expect(readBack == rows.size,
          s"ingest: after merge $j only $readBack of ${rows.size} upserted rows read back")
        ms
      }
    }

    // 3. streamed appends, each read back; they leave partitions in
    // several files
    (0 until Appends).foreach { j =>
      ctx.op {
        val rows = ctx.tracer.span("ingest.append", "bench")(append(ctx, j))
        applyBatch(ctx, rows)
        val (n, d) = countAndDistinct(ctx)
        ctx.expect(n == coords.size && d == coords.size,
          s"ingest: after append $j the table holds $n rows, $d keys, want ${coords.size}")
      }
    }

    // 4. one compaction, which must merge the appended files
    ctx.op {
      val cs = ctx.tracer.span("ingest.compact", "bench") {
        ctx.tracer.span("ingest.compactClustered", "operators")(Tiling.compactClustered(spark, table(ctx)))
      }
      layer("operators.compact_files_before") = cs.filesBefore
      layer("operators.compact_files_after") = cs.filesAfter
      ctx.expect(cs.compactedPartitions > 0 && cs.filesAfter < cs.filesBefore,
        s"ingest: compaction left ${cs.filesAfter} of ${cs.filesBefore} files " +
          s"(${cs.compactedPartitions} partitions compacted)")
      val (n, d) = countAndDistinct(ctx)
      ctx.expect(n == coords.size && d == coords.size,
        s"ingest: after compaction the table holds $n rows, $d keys, want ${coords.size}")
    }

    // 5. region lookups
    val files = Harness.parquetFiles(table(ctx)).toDouble
    val filesRead = mutable.ArrayBuffer.empty[Double]
    val counts = mutable.ArrayBuffer.empty[(Int, Long)]
    var scanned, returned = 0L
    val lookupMs = ctx.closedLoop(seconds * 0.6, if (mini) 3 else 5, if (mini) 3 else 100000, !mini) { j =>
      ctx.op {
        val ((n, q), ms) = Harness.timeMs(ctx.tracer.span(mainOp, "bench")(lookup(ctx, j)))
        filesRead += Harness.metricSum(q, "FileSourceScanExec", "numFiles") / files
        scanned += Harness.metricSum(q, "FileSourceScanExec", "numOutputRows")
        returned += n
        counts += ((j, n))
        ms
      }
    }
    // every lookup against a brute-force filter, all in one pass over the
    // table after the loop, so the checks take no time from the lookups
    if (counts.nonEmpty) ctx.op {
      val preds = counts.map { case (j, _) =>
        val (lat, lon, r) = lookupCap(ctx, j)
        count(when(capPred(lat, lon, r), 1))
      }
      val want = spark.read.parquet(table(ctx)).agg(preds.head, preds.tail.toSeq: _*).head()
      counts.zipWithIndex.foreach { case ((j, n), k) =>
        ctx.expect(n == want.getLong(k), s"ingest: lookup $j counted $n, brute force ${want.getLong(k)}")
      }
    }

    if (stats.nonEmpty) {
      layer("operators.merge_p50_ms") = Stats.median(mergeMs)
      layer("operators.merge_rows_rewritten_per_row") =
        Stats.median(stats.map { case (st, n) => st.stagedRows.toDouble / n }.toSeq)
      layer("operators.merge_partitions_touched") =
        Stats.median(stats.map(_._1.touchedPartitions.toDouble).toSeq)
    }
    if (filesRead.nonEmpty) {
      layer("operators.lookup_files_read_share") = Stats.median(filesRead.toSeq)
      layer("operators.lookup_rows_scanned_per_row") = scanned.toDouble / math.max(1L, returned)
    }
    val bytesRatio = Harness.diskBytes(table(ctx)).toDouble /
      Harness.userBytes(spark.read.parquet(table(ctx)))
    Measured(lookupMs, Rows / (Stats.median(writeMs) / 1000), bytesRatio, layer.toMap)
  }

  def cleanup(ctx: Ctx): Unit = {
    Harness.deleteTree(src(ctx))
    Harness.deleteTree(table(ctx))
  }
}
