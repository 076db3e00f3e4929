package graft.gen

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic, distributed column generators.
  *
  * Each reference generator (/root/reference/generate_csv.cpp:31-147,
  * dispatch at :192-242) is re-expressed as a pure Catalyst `Column`
  * over the gapless row id produced by `spark.range(n)`. All randomness
  * derives from `xxhash64(id, seed, colIdx, ...)` so a dataset is fully
  * determined by (spec, rows, seed) and invariant under partitioning —
  * a deliberate upgrade over the reference's unseeded mt19937
  * (generate_csv.cpp:28-29), which makes golden-file tests impossible.
  *
  * Everything here stays inside whole-stage codegen: no UDFs, no RDDs.
  * At 100 TB the generation pipeline is Range → Project → WriteFiles,
  * shuffle-free, so throughput scales linearly with task count.
  */
object GenExprs {

  /** A–Z, for char/nchar (generate_csv.cpp:56-63). */
  private val CharAlphabet: Seq[String] = ('A' to 'Z').map(_.toString)

  /** 0-9A-Za-z (62 chars), for varchar/text/blob (generate_csv.cpp:65-74). */
  private val VarcharAlphabet: Seq[String] =
    (('0' to '9') ++ ('A' to 'Z') ++ ('a' to 'z')).map(_.toString)

  /** Fixed "now" for the timestamp generator's upper bound
    * (generate_csv.cpp:126 uses wall-clock; we pin it at plan time for
    * determinism — 2025-01-01T00:00:00Z).
    */
  val DefaultNowEpoch: Long = 1735689600L

  /** 64-bit deterministic hash stream: draw k for column colIdx of row `id`.
    *
    * (seed, colIdx, draw) are folded into ONE literal so each draw is a
    * 2-argument xxhash64 — codegen does not reliably common-subexpression-
    * eliminate repeated multi-arg hash subtrees, and the per-character
    * string generators reference their draw up to 8 times, so hash
    * arity is directly on the hot path. draw < 2048 keeps the fold
    * collision-free per (colIdx, draw); distinct seeds shift the
    * stream.
    */
  private def h(id: Column, seed: Long, colIdx: Int, draw: Int): Column =
    xxhash64(id, lit(seed * 1000003L + colIdx * 2048L + draw))

  /** Uniform double in [0,1) from the top 53 bits of a hash. */
  private def unit(hash: Column): Column =
    shiftrightunsigned(hash, 11).cast(DoubleType) * lit(1.0 / (1L << 53))

  /** Uniform long in [lo, hi] (inclusive), span must fit in a positive Long. */
  private def uniformLong(hash: Column, lo: Long, hi: Long): Column =
    lit(lo) + pmod(hash, lit(hi - lo + 1L))

  /** Delta-swap bit permutation step, x^t^(t<<s) with t=((x>>>s)^x)&m
    * (generate_csv.cpp:149-154). Pure Column bit ops — sign-agnostic.
    */
  def bitPermuteStep(x: Column, m: Long, shift: Int): Column = {
    val t = shiftrightunsigned(x, shift).bitwiseXOR(x).bitwiseAND(lit(m))
    x.bitwiseXOR(t).bitwiseXOR(shiftleft(t, shift))
  }

  /** The reference's fixed 3-step bit permutation (generate_csv.cpp:155-161). */
  def segregate4(x: Column): Column = {
    val s1 = bitPermuteStep(x, 0x2222222222222222L, 1)
    val s2 = bitPermuteStep(s1, 0x0c0c0c0c0c0c0c0cL, 2)
    bitPermuteStep(s2, 0x00f000f000f000f0L, 4)
  }

  /** rkey for row id: counter g = id+1 (gRKey pre-incremented from 0,
    * generate_csv.cpp:26,201-204), rotated right 1, then segregate4.
    * Bijective over 64 bits ⇒ globally unique with zero coordination.
    */
  def rkey(id: Column): Column = {
    val g = id + lit(1L)
    val rotr1 = shiftleft(g, 63).bitwiseOR(shiftrightunsigned(g, 1))
    segregate4(rotr1)
  }

  /** Random string over an alphabet via the native RandStringExpr
    * codegen expression (see its scaladoc for the derivation). Eight
    * characters per 64-bit hash draw, one byte each reduced
    * mod |alphabet| — a ≤ 4/256 bias vs the reference's uniform draw;
    * value domains (the tested contract) are unchanged.
    */
  private def randString(id: Column, seed: Long, colIdx: Int,
                         fixedLen: Int, alphabet: Seq[String],
                         lenDraw: Int = -1): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(RandStringExpr(ColumnBridge.expression(id),
      seed * 1000003L + colIdx * 2048L, fixedLen, alphabet.mkString, lenDraw))
  }

  /** The generator expression for one column, over the `id` column of a
    * `spark.range`. Domains mirror generate_csv.cpp:197-241 exactly.
    */
  def exprFor(spec: ColSpec, colIdx: Int, seed: Long): Column = {
    val id = col("id")
    def draw(k: Int) = h(id, seed, colIdx, k)
    val c = spec.token match {
      case "key"  => id                                   // gapless from 0 (:199-200)
      case "rkey" => rkey(id)                             // (:201-204)
      case "bit"  => pmod(draw(0), lit(2L)).cast(IntegerType)
      case "tinyint"   => uniformLong(draw(0), -128L, 127L).cast(ByteType)
      case "smallint"  => uniformLong(draw(0), -32768L, 32767L).cast(ShortType)
      case "mediumint" => uniformLong(draw(0), -8388608L, 8388607L).cast(IntegerType)
      case "int"       => uniformLong(draw(0), Int.MinValue.toLong, Int.MaxValue.toLong).cast(IntegerType)
      case "bigint"    => draw(0)                         // full 64-bit range (:213-214)
      case "float"     => ((unit(draw(0)) * lit(2.0) - lit(1.0)) * lit(1e38)).cast(FloatType)
      case "double"    => (unit(draw(0)) * lit(2.0) - lit(1.0)) * lit(2147483648.0) // ±2^31, NOT ±1e308 (:217-218)
      case "char" | "nchar" =>
        randString(id, seed, colIdx, spec.length, CharAlphabet)
      case "varchar" | "varchar2" | "nvarchar2" =>
        randString(id, seed, colIdx, spec.length, VarcharAlphabet)
      case "text" | "blob" =>                             // blob == text (:83-88)
        randString(id, seed, colIdx, 256, VarcharAlphabet, lenDraw = 0)
      case "date" =>                                      // datetime truncated (:108-110)
        // make_date is pure integer math — the previous format_string +
        // string-cast round-trip parsed a date per row.
        make_date(
          uniformLong(draw(1), 1900L, 2021L).cast(IntegerType),
          uniformLong(draw(2), 1L, 12L).cast(IntegerType),
          uniformLong(draw(3), 1L, 28L).cast(IntegerType))
      case "datetime" =>                                  // day capped at 28 (:93)
        // numeric construction: days-since-epoch * 86400 + time-of-day,
        // exact in UTC (session TZ pinned) — no string parsing.
        timestamp_seconds(
          unix_date(make_date(
            uniformLong(draw(1), 1900L, 2021L).cast(IntegerType),
            uniformLong(draw(2), 1L, 12L).cast(IntegerType),
            uniformLong(draw(3), 1L, 28L).cast(IntegerType))).cast(LongType) * lit(86400L)
            + uniformLong(draw(4), 0L, 23L) * lit(3600L)
            + uniformLong(draw(5), 0L, 59L) * lit(60L)
            + uniformLong(draw(6), 0L, 59L))
      case "timestamp" =>                                 // epoch uniform [1, now] UTC (:124-132)
        timestamp_seconds(uniformLong(draw(0), 1L, DefaultNowEpoch))
      case "time" =>
        format_string("%02d:%02d:%02d",
          uniformLong(draw(1), 0L, 23L), uniformLong(draw(2), 0L, 59L),
          uniformLong(draw(3), 0L, 59L))
      case "year" => uniformLong(draw(0), 1901L, 2155L).cast(IntegerType) // (:134-139)
      case "decimal" | "number" =>
        // int part in [0, 10^(p-s)-1], fraction zero-padded to width s,
        // non-negative only (:141-147). Exponents capped to stay in Long —
        // the reference's static_cast<int>(pow(...)) overflow UB is NOT
        // replicated.
        // scale >= precision is legal in a spec (reference: int part
        // always 0 since 10^(p-s)-1 = 0) — clamp ipDigits to 0, not 1,
        // or the cast overflows under ANSI; and clamp the Spark type's
        // scale to <= its precision or DecimalType throws at plan time.
        val prec = math.min(spec.precision, 38)
        val scale = math.min(math.min(spec.scale, prec), 37)
        // bound by the CLAMPED type's integer-digit room too: for e.g.
        // decimal(45,40) the spec allows 5 integer digits but the clamped
        // DecimalType(38,37) only 1 — the wider draw would overflow the cast
        val ipDigits = math.min(
          math.min(math.max(spec.precision - spec.scale, 0), prec - scale), 18)
        // emit no more fraction digits than the type's clamped scale —
        // an extra digit could round 0.99999… up past the precision.
        val sc = math.min(math.min(spec.scale, 18), scale)
        val ip =
          if (ipDigits == 0) lit(0L)
          else pmod(draw(1), lit(math.pow(10, ipDigits).toLong))
        if (sc == 0) ip.cast(DecimalType(prec, 0))
        else {
          val fr = pmod(draw(2), lit(math.pow(10, sc).toLong))
          format_string(s"%d.%0${sc}d", ip, fr)
            .cast(DecimalType(prec, scale))
        }
      case _ => lit("")                                   // unknown → empty column (:239-241)
    }
    c.as(s"c$colIdx")
  }
}
