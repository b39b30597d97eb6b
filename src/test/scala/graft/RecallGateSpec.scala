package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** The recall gates certify approximate results, so a repeated approx row
  * must not count as a second hit, and an empty exact set must fail as
  * such rather than as a "below floor" recall. */
class RecallGateSpec extends SparkTestBase {
  import spark.implicits._

  /** Every message on the cause chain: raise_error may surface directly
    * or wrapped in a job failure. */
  private def raised(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
  }

  // 2 queries x 5 exact neighbours
  private def exactTopK = (for (q <- 0L until 2L; n <- 0L until 5L) yield (q, n))
    .toDF("query_id", "neighbor_id")

  test("recallGate: duplicated approx rows below the floor still raise") {
    val ok = Similarity.recallGate(exactTopK.union(exactTopK), exactTopK, k = 5, floor = 0.9)
      .collect()
    assert(ok.map(r => (r.getLong(0), r.getInt(1), r.getBoolean(3))).toSeq == Seq((2L, 5, true)))
    // three of five neighbours found, each three times: recall 0.6, not 1.8
    val half = exactTopK.where($"neighbor_id" < 2L).union(exactTopK.where($"neighbor_id" === 4L))
    val approx = half.union(half).union(half)
    val msg = raised(Similarity.recallGate(approx, exactTopK, k = 5, floor = 0.9))
    assert(msg.contains("ANN recall 0.600 below declared floor 0.9"), msg)
  }

  test("recallGate: an empty exact set raises its own error") {
    val msg = raised(Similarity.recallGate(exactTopK, exactTopK.limit(0), k = 5, floor = 0.9))
    assert(msg.contains("ANN recall gate: exact result set is empty"), msg)
  }

  private def exactPairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")

  test("pairRecallGate: duplicated approx pairs below the floor still raise") {
    val ok = Similarity.pairRecallGate(exactPairs.union(exactPairs), exactPairs, floor = 0.9)
      .collect()
    assert(ok.map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3))).toSeq == Seq((4L, true, true)))
    val two = exactPairs.where($"id_a" === 1L)
    val msg = raised(Similarity.pairRecallGate(two.union(two).union(two), exactPairs, floor = 0.9))
    assert(msg.contains("pair recall 0.500 below declared floor 0.9"), msg)
  }

  test("pairRecallGate: an empty exact set raises its own error") {
    val none = exactPairs.limit(0)
    val msg = raised(Similarity.pairRecallGate(none, none, floor = 0.9))
    assert(msg.contains("pair recall gate: exact result set is empty"), msg)
  }
}
