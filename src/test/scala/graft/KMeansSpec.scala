package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Lloyd's k-means fit over the embeddings table: objective decreases
  * monotonically, output shape is right, and the run is bit-stable
  * across partition layouts (the decimal-exact centroid aggregation —
  * a double sum here would make the fit a function of shuffle fetch
  * order on a real cluster).
  */
class KMeansSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  private def input = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))
    .repartition(4, col("vec_id"))

  test("WCSS is non-increasing over iterations and centroids have the right shape") {
    val (cents, wcss) = functions.KMeans.fit(input, "vec_id", "embedding", k = 8, iters = 3)
    assert(cents.length == 8)
    assert(cents.forall(_.length == 64))
    assert(wcss.length == 3)
    wcss.sliding(2).foreach {
      case Array(a, b) => assert(b <= a + 1e-6, s"WCSS increased: ${wcss.toSeq}")
      case _ =>
    }
    // the fit actually moved: trained centroids differ from the seed vectors
    val seed = input.orderBy("vec_id").limit(8).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    assert(cents.zip(seed).exists { case (c, s) => !c.sameElements(s) })
  }

  test("fit is bit-stable across partition layouts (decimal-exact sums)") {
    // 4 vs 13 input partitions AND 4 vs 13 shuffle partitions: every
    // partial-aggregate boundary moves, every merge order changes — the
    // centroids and WCSS must not. (With the old avg(double) this is
    // exactly where last-ulp drift appeared.)
    val (c1, w1) = functions.KMeans.fit(input, "vec_id", "embedding", k = 4, iters = 2)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    val (c2, w2) =
      try functions.KMeans.fit(
        input.repartition(13, col("vec_id")), "vec_id", "embedding", k = 4, iters = 2)
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert(w1.toSeq == w2.toSeq)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("assignment expression partitions every vector into [0, k)") {
    val (cents, _) = functions.KMeans.fit(input, "vec_id", "embedding", k = 4, iters = 1)
    val centSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq
    val cids = input
      .select(functions.KMeans.assignment(col("embedding"), centSeq).as("cid"))
      .groupBy("cid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(cids.keys.forall(c => c >= 0 && c < 4))
    assert(cids.values.sum == input.count())
  }
}
