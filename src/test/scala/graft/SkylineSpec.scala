package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Randomized correctness check for the distributed 2-D skyline
  * (operators.RelationalQueries.skylineOf): the oracle gate proves
  * cross-engine agreement on the orders table; this proves the
  * two-stage decomposition (per-partition sweep + HOF re-sweep) on
  * many point sets against the trusted single-pass sequential sweep —
  * with deliberate ties in price AND date (where the keep-if-strictly-
  * greater rule and the key tie-break bite), under adversarial
  * partitionings, and on the anti-correlated worst case where EVERY
  * point is on the frontier.
  */
class SkylineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  /** Trusted reference: the single global sequential sweep. */
  private def reference(pts: Seq[(Long, Double, Long)]): Seq[Long] = {
    val sorted = pts.sortBy { case (k, p, d) => (-p, -d, k) }
    var mx = Long.MinValue
    val keep = Seq.newBuilder[Long]
    sorted.foreach { case (k, _, d) =>
      if (d > mx) { keep += k; mx = d }
    }
    keep.result().sorted
  }

  private def check(pts: Seq[(Long, Double, Long)], parts: Int, label: String): Unit = {
    import spark.implicits._
    val df = pts.toDF("o_orderkey", "o_totalprice", "d_us").repartition(parts)
    val got = operators.RelationalQueries.skylineOf(df)
      .collect().map(_.getLong(0)).toSeq
    assert(got == reference(pts), s"$label (parts=$parts)")
  }

  test("tie-heavy and adversarial point sets under varying partitionings") {
    // all-identical points: exactly one survivor (lowest key)
    check((1L to 8L).map(k => (k, 5.0, 100L)), 3, "all identical")
    // anti-correlated: every point on the frontier
    check((1L to 20L).map(k => (k, 100.0 - k, 100L + k)), 5, "anti-correlated")
    // positively correlated: single survivor dominates
    check((1L to 20L).map(k => (k, 100.0 + k, 100L + k)), 5, "correlated")
    // single point / empty
    check(Seq((7L, 1.0, 1L)), 2, "single")
    check(Seq.empty, 2, "empty")
  }

  test("seeded random point sets with discrete price/date domains match the sweep") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 20) {
      val n = 5 + rnd.nextInt(60)
      // small domains force heavy price AND date ties
      val pts = (1L to n).map(k =>
        (k, (1 + rnd.nextInt(5)).toDouble, (1 + rnd.nextInt(6)).toLong))
      check(pts, 1 + rnd.nextInt(6), s"trial $trial (n=$n)")
    }
  }
}
