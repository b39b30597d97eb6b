package graft

import org.apache.spark.sql.functions._

import graft.operators.{ImagePayload, Skew, Tiling}

/** Multimodal column ops (real decode/resize/features) and the explicit
  * skew-handling operators. */
class MultimodalSkewSpec extends SparkTestBase {

  private def images = ImagePayload.synthesize(
    spark.read.parquet(s"${sf("sf0.001")}/part.parquet").select("p_partkey").limit(40), "p_partkey")

  test("thumbnail resize: real PNG decode + bilinear resize roundtrip") {
    val rows = ImagePayload.withThumbnail(images, 8, 8).select("p_partkey", "thumb").collect()
    assert(rows.length == 40)
    for (r <- rows) {
      val thumb = r.getAs[Array[Byte]]("thumb")
      assert(thumb.nonEmpty)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(thumb))
      assert(img.getWidth == 8 && img.getHeight == 8)
    }
  }

  test("image features: mean RGB within byte range, luma stddev positive") {
    val rows = ImagePayload.withFeatures(images).select("features").collect()
    for (r <- rows) {
      val f = r.getSeq[Float](0)
      assert(f.length == 4)
      assert(f.take(3).forall(v => v >= 0 && v <= 255))
      assert(f(3) > 0, "deterministic noise raster must have positive luma stddev")
    }
  }

  test("salted aggregation == direct aggregation on skewed tiles") {
    // points concentrated in one hot tile: ~50% of rows at one location
    val base = spark.range(0, 20000)
      .withColumn("lat", when(col("id") % 2 === 0, lit(48.2))
        .otherwise((col("id") % 180).cast("double") - 90.0 + 0.5))
      .withColumn("lon", when(col("id") % 2 === 0, lit(16.37))
        .otherwise((col("id") % 360).cast("double") - 180.0 + 0.5))
    val tiled = Tiling.tileAssign(base.toDF(), "lat", "lon", 8)

    val direct = tiled.groupBy("tile_token").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val salted = Skew.saltedCount(tiled, "tile_token", "id", salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(salted == direct)
    assert(direct.values.max >= 10000, "test data must actually be skewed")

    val directDistinct = tiled.groupBy("tile_token").agg(countDistinct("id").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val saltedDistinct = Skew.saltedDistinctCount(tiled, "tile_token", "id", salts = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(saltedDistinct == directDistinct)
  }
}
