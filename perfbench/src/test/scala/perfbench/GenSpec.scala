package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with BeforeAndAfterAll {
  // scratch space under the build's own target directory
  private lazy val tmp = Files.createTempDirectory(
    Files.createDirectories(java.nio.file.Paths.get("target", "test-work")), "gen")
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .config("spark.local.dir", tmp.resolve("spark-local").toString)
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.stop()
    Harness.deleteTree(tmp.toString)
  }

  private val layouts = Seq(TileJoinWorkload.layout, Gen.Clustered(Gen.Cities, 1.0, 0.1))

  private def rowsOf(seed: Long, layout: Gen.Layout) =
    (0L until 500L).map(i => Gen.imageRow(seed, i, layout, 0L, (16, 48)))
      .map(r => r.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case other => other
      })

  test("the same seed gives the same rows; another seed other rows") {
    layouts.foreach { l =>
      assert(rowsOf(7, l) == rowsOf(7, l))
      assert(rowsOf(7, l) != rowsOf(8, l))
    }
  }

  test("rows do not depend on how the index range is partitioned") {
    val l = layouts.head
    def collect(parts: Int) = Gen.images(spark, 3, 0, 2000, parts, l).collect()
      .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case o => o })
    assert(collect(1).toSeq == collect(5).toSeq)
  }

  test("the same seed writes byte-identical parquet inputs") {
    def write(seed: Long, name: String): Path = {
      val dir = tmp.resolve(name)
      Gen.images(spark, seed, 0, 20000, 4, layouts(1), payload = (64, 256))
        .write.mode("overwrite").parquet(dir.toString)
      dir
    }
    def parts(dir: Path): Seq[Array[Byte]] =
      Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .sortBy(_.getFileName.toString.take(10)) // part-NNNNN, then a random suffix
        .map(p => Files.readAllBytes(p))
    val (a, b, c) = (parts(write(11, "a")), parts(write(11, "b")), parts(write(12, "c")))
    assert(a.size == 4 && b.size == 4)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("the hot cell straddles the diamond polygon's edge") {
    val cell = graft.s2.S2Cell(Regions.HotCell)
    assert(graft.s2.S2CellId.level(Regions.HotCell) == 8)
    assert(Regions.diamond.mayIntersectCell(cell) && !Regions.diamond.containsCell(cell))
  }
}
