package graft.functions

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Typed UDAF surface: quantity-weighted average price over
  * q_agg_typed's (return flag, price in cents, quantity) rows as an
  * `Aggregator[IN, BUF, OUT]` — the extension point SURVEY.md §2.2.11
  * reserves for custom aggregation (sketches, weighted stats).
  *
  * The buffer is exact integer arithmetic (price in cents × integer
  * quantity), so partial aggregation and merge order cannot perturb
  * the result; only the final division produces a double — identical
  * IEEE bits in the DuckDB oracle, which mirrors the same formula.
  */
object WeightedAvgPrice extends Aggregator[(String, Long, Long), (Long, Long), Double] {
  override def zero: (Long, Long) = (0L, 0L)
  override def reduce(b: (Long, Long), a: (String, Long, Long)): (Long, Long) =
    (b._1 + a._2 * a._3, b._2 + a._3)
  override def merge(x: (Long, Long), y: (Long, Long)): (Long, Long) =
    (x._1 + y._1, x._2 + y._2)
  override def finish(b: (Long, Long)): Double =
    if (b._2 == 0) 0.0 else b._1.toDouble / (b._2 * 100.0)
  override def bufferEncoder: Encoder[(Long, Long)] = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
