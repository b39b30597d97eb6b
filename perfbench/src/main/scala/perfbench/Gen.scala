package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.s2.{S2CellId, S2LatLng, S2Point}

/** Seeded input generators. Every value is a pure function of (seed, row
  * index, stream), so the same seed yields the same rows whatever the
  * partitioning, and the same parquet bytes for the same file layout. */
object Gen {

  private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 64 well-mixed bits for (seed, index, stream). */
  def bits(seed: Long, i: Long, stream: Int): Long =
    mix64(mix64(seed * 0x9e3779b97f4a7c15L + stream) ^ (i * 0xd1b54a32d192ed03L))

  /** Uniform double in [0, 1). */
  def unit(seed: Long, i: Long, stream: Int): Double =
    (bits(seed, i, stream) >>> 11) * (1.0 / (1L << 53))

  /** Standard normal via Box-Muller over two streams. */
  def gauss(seed: Long, i: Long, stream: Int): Double = {
    val u1 = math.max(unit(seed, i, stream), 1e-300)
    val u2 = unit(seed, i, stream + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  val ImageSchema: StructType = StructType(Seq(
    StructField("image_id", LongType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("caption", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = false),
    StructField("w", IntegerType, nullable = false),
    StructField("h", IntegerType, nullable = false),
    StructField("fmt", StringType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  private val Words = Array(
    "harbour", "sunset", "street", "market", "bridge", "river", "mountain", "cathedral",
    "festival", "tram", "beach", "skyline", "garden", "museum", "station", "square",
    "fog", "snow", "rain", "night", "morning", "crowd", "boat", "tower", "park",
    "alley", "cafe", "graffiti", "lighthouse", "desert", "forest", "lake")
  private val Formats = Array("jpeg", "png", "webp")

  /** Where points fall. Each layout maps a row index to (lat, lon). */
  sealed trait Layout extends Serializable {
    def latLon(seed: Long, i: Long): (Double, Double)
  }

  /** Uniform on the sphere, with `hotShare` of rows inside one level-8 cell. */
  final case class UniformWithHotCell(hotCell: Long, hotShare: Double) extends Layout {
    def latLon(seed: Long, i: Long): (Double, Double) =
      if (unit(seed, i, 10) < hotShare) {
        val lo = S2CellId.rangeMin(hotCell)
        val leaves = (S2CellId.rangeMax(hotCell) - lo) / 2 + 1
        val leaf = lo + 2 * (math.floor(unit(seed, i, 11) * leaves).toLong min (leaves - 1))
        (S2CellId.toLatDegrees(leaf), S2CellId.toLngDegrees(leaf))
      } else uniform(seed, i)
  }

  /** Gaussian city clusters plus a uniform background share, the shape of
    * geotagged photo collections. */
  final case class Clustered(centers: IndexedSeq[(Double, Double)], sigmaDeg: Double,
                             background: Double) extends Layout {
    /** The cluster row i belongs to, or -1 for the uniform background. */
    def clusterOf(seed: Long, i: Long): Int =
      if (unit(seed, i, 20) < background) -1 else (unit(seed, i, 21) * centers.length).toInt

    def near(c: Int, seed: Long, i: Long, stream: Int): (Double, Double) = {
      val (clat, clon) = centers(c)
      val lat = math.max(-89.9, math.min(89.9, clat + sigmaDeg * gauss(seed, i, stream)))
      val dlon = sigmaDeg * gauss(seed, i, stream + 2) / math.max(0.2, math.cos(math.toRadians(clat)))
      (lat, wrapLon(clon + dlon))
    }

    def latLon(seed: Long, i: Long): (Double, Double) = {
      val c = clusterOf(seed, i)
      if (c < 0) uniform(seed, i) else near(c, seed, i, 22)
    }
  }

  def wrapLon(lon: Double): Double =
    if (lon >= 180) lon - 360 else if (lon < -180) lon + 360 else lon

  private def uniform(seed: Long, i: Long): (Double, Double) = {
    val lat = math.toDegrees(math.asin(2 * unit(seed, i, 1) - 1))
    val lon = 360 * unit(seed, i, 2) - 180
    (lat, lon)
  }

  /** Where geotagged photos cluster: 40 large cities, (lat, lon) degrees.
    * The seed draws the photos around them, not the cities themselves, so
    * the table's partition layout is alike from seed to seed. */
  val Cities: IndexedSeq[(Double, Double)] = IndexedSeq(
    (48.86, 2.35), (51.51, -0.13), (40.71, -74.01), (35.68, 139.69), (41.90, 12.50),
    (52.52, 13.40), (40.42, -3.70), (55.76, 37.62), (-33.87, 151.21), (37.77, -122.42),
    (34.05, -118.24), (19.43, -99.13), (-23.55, -46.63), (-34.60, -58.38), (30.04, 31.24),
    (28.61, 77.21), (19.08, 72.88), (39.90, 116.40), (31.23, 121.47), (22.32, 114.17),
    (1.35, 103.82), (13.76, 100.50), (37.57, 126.98), (-6.21, 106.85), (14.60, 120.98),
    (41.01, 28.98), (59.33, 18.07), (60.17, 24.94), (50.08, 14.44), (47.50, 19.04),
    (45.46, 9.19), (38.72, -9.14), (43.65, -79.38), (45.50, -73.57), (41.88, -87.63),
    (25.20, 55.27), (-1.29, 36.82), (6.52, 3.38), (-33.92, 18.42), (-37.81, 144.96))

  /** The level-8 cell holding the midpoint of the first shell edge of the
    * diamond polygon region: a hot cell that straddles a polygon edge, so
    * its rows all reach exact refinement. */
  def edgeHotCell(edgeA: (Double, Double), edgeB: (Double, Double)): Long = {
    val a = S2LatLng.fromDegrees(edgeA._1, edgeA._2).toPoint
    val b = S2LatLng.fromDegrees(edgeB._1, edgeB._2).toPoint
    val m = S2Point.normalize(a + b)
    S2CellId.parentForLevel(S2CellId.fromPoint(m), 8)
  }

  /** One image row in the paper's shape. `idBase` offsets the key so insert
    * batches get fresh ids; `payload` bounds the byte-blob length. */
  def imageRow(seed: Long, i: Long, layout: Layout, idBase: Long,
               payload: (Int, Int)): Row = {
    val (lat, lon) = layout.latLon(seed, i)
    val nWords = 3 + (unit(seed, i, 40) * 6).toInt
    val caption = (0 until nWords)
      .map(k => Words((bits(seed, i, 41 + k) >>> 59).toInt % Words.length))
      .mkString(" ")
    val len = payload._1 + (unit(seed, i, 50) * (payload._2 - payload._1 + 1)).toInt
    val bytes = new Array[Byte](len)
    var k = 0
    while (k < len) {
      val word = bits(seed, i, 1000 + k / 8)
      bytes(k) = (word >>> (8 * (k % 8))).toByte
      k += 1
    }
    val w = 320 + (unit(seed, i, 51) * 3776).toInt
    val h = 240 + (unit(seed, i, 52) * 2800).toInt
    Row(idBase + i, lat, lon, caption, bytes, w, h,
      Formats((bits(seed, i, 53) >>> 62).toInt % Formats.length), bits(seed, i, 54))
  }

  /** The raw size of one row's values: 8-byte longs and doubles, 4-byte
    * ints, UTF-8 strings and the blob. */
  val UserBytesSql: String =
    "8 + 8 + 8 + octet_length(caption) + octet_length(bytes) + 4 + 4 + octet_length(fmt) + 8"

  /** Image rows [from, until) as a DataFrame with `parts` partitions. */
  def images(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int,
             layout: Layout, idBase: Long = 0L, payload: (Int, Int) = (16, 48)): DataFrame = {
    val rdd = spark.sparkContext.range(from, until, 1, parts)
      .map(i => imageRow(seed, i, layout, idBase, payload))
    spark.createDataFrame(rdd, ImageSchema)
  }
}
