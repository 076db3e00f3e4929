package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins what [[Digest]] sees: row multiplicity, null position, exact
  * double bits, and nothing of row order.
  */
class DigestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  /** The per-row XOR form the sweeps used before [[Digest]]: an XOR of
    * `xxhash64` over the string-cast columns, plus `count()`. */
  private def xorForm(df: DataFrame): (Long, Long) = {
    val hs = df.select(xxhash64(df.columns.map(c => col(c).cast("string")).toSeq: _*))
      .collect().map(_.getLong(0))
    (df.count(), hs.foldLeft(0L)(_ ^ _))
  }

  test("a row occurring twice more and another twice less changes the digest") {
    import spark.implicits._
    val before = Seq("a", "b", "b", "b").toDF("s")
    val after = Seq("a", "a", "a", "b").toDF("s")
    assert(xorForm(before) == xorForm(after), "the XOR form sees only odd or even occurrence")
    val (d1, d2) = (Digest.of(before), Digest.of(after))
    assert(d1.rows == d2.rows)
    assert(d1 != d2, s"multiplicity change not seen: $d1")
  }

  test("a null is told apart from its neighbouring column") {
    import spark.implicits._
    val left = Seq[(Option[String], Option[String])]((None, Some("a"))).toDF("x", "y")
    val right = Seq[(Option[String], Option[String])]((Some("a"), None)).toDF("x", "y")
    assert(xorForm(left) == xorForm(right), "xxhash64 skips nulls")
    assert(Digest.of(left) != Digest.of(right))
  }

  test("two doubles one ulp apart digest differently") {
    import spark.implicits._
    val x = 0.1 + 0.2
    val a = Seq(x).toDF("d")
    val b = Seq(Math.nextUp(x)).toDF("d")
    assert(Digest.of(a) != Digest.of(b))
  }

  test("row order does not change the digest, and its row count equals count()") {
    val df = spark.range(0, 1000).select(col("id"), (col("id") % 7).as("k"),
      (col("id") / 3.0).as("d"))
    val asc = Digest.of(df.orderBy(col("id")))
    val desc = Digest.of(df.orderBy(col("id").desc))
    val shuffled = Digest.of(df.repartition(5, col("k")))
    assert(asc == desc && asc == shuffled)
    assert(asc.rows == df.count())
  }

  test("an empty result digests to zero rows and a zero sum") {
    assert(Digest.of(spark.range(0, 10).toDF().filter(col("id") < 0)) == Digest(0L, 0L))
  }
}
