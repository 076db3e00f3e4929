package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.gen.SqloadGen

/** Oracle-checkable queries over the Tier A generator itself — the
  * reference-parity surface (SURVEY.md §2.1) under the driver's
  * DuckDB gate.
  *
  * The generated data never touches disk: the oracle for q_gen_keys
  * recomputes the rkey bit permutation in pure SQL over range(); the
  * oracle for q_gen_domains is a literal row of expected invariants
  * (the generator's value domains are deterministic by construction).
  */
object GenQueries {

  type Q = (SparkSession, String) => DataFrame

  private val GenRows = 1000L

  /** One row (n, f): the measured row count and the exact sum of
    * XXH64 over every column. A sum, unlike an XOR fold, sees how often
    * each row occurs (a duplicated pair does not cancel out); the
    * decimal(38,0) cast keeps it exact, so ANSI mode cannot overflow it.
    */
  private[graft] def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("f"))

  /** The composed bit permutation rkey applies to g = id+1:
    * rotr1 then segregate4 (generate_csv.cpp:149-161,201-204).
    * Pure-Long mirror used to derive the output-bit → input-bit table
    * for the SQL oracle.
    */
  private def bitPermuteStep(x: Long, m: Long, s: Int): Long = {
    val t = ((x >>> s) ^ x) & m
    (x ^ t) ^ (t << s)
  }
  private def rkeyScalar(g: Long): Long = {
    val r = (g << 63) | (g >>> 1)
    val s1 = bitPermuteStep(r, 0x2222222222222222L, 1)
    val s2 = bitPermuteStep(s1, 0x0c0c0c0c0c0c0c0cL, 2)
    bitPermuteStep(s2, 0x00f000f000f000f0L, 4)
  }

  /** outBit -> inBit table of the (bijective) permutation. */
  private lazy val permTable: Map[Int, Int] =
    (0 until 64).map { inBit =>
      val out = rkeyScalar(1L << inBit)
      java.lang.Long.numberOfTrailingZeros(out) -> inBit
    }.toMap

  def queries: Map[String, Q] = Map(
    // key/rkey sequences: exact-value parity with the reference
    // (gapless key; bijective rkey). sfDir is unused — the source is
    // the generator itself.
    "q_gen_keys" -> ((s, _) =>
      SqloadGen.table(s, "key,rkey", GenRows)
        .select(col("c0").as("k"), col("c1").as("rkey"))
        .orderBy("k")),

    // Domain invariants of the random generators, as one boolean row.
    // The oracle is the expected-literal row — an invariant check that
    // needs no access to the generated data.
    "q_gen_domains" -> ((s, _) =>
      SqloadGen.table(s,
        "bit,tinyint,smallint,mediumint,int,year,double,char(7),varchar(13),text,date,datetime,time,decimal(10,2)",
        GenRows)
        .agg(
          count(lit(1)).as("n"),
          (min(col("c0")) >= 0 && max(col("c0")) <= 1).as("bit_ok"),
          (min(col("c1")) >= -128 && max(col("c1")) <= 127).as("tinyint_ok"),
          (min(col("c2")) >= -32768 && max(col("c2")) <= 32767).as("smallint_ok"),
          (min(col("c3")) >= -8388608 && max(col("c3")) <= 8388607).as("mediumint_ok"),
          // int spans the full 32-bit range, so range bounds are vacuous;
          // the checkable invariant is draw diversity (1000 draws from
          // 2^32 values collide almost never)
          (countDistinct(col("c4")) >= 990).as("int_ok"),
          (min(col("c5")) >= 1901 && max(col("c5")) <= 2155).as("year_ok"),
          (min(col("c6")) >= -2147483648.0 && max(col("c6")) < 2147483648.0).as("double_ok"),
          (count(when(col("c7").rlike("^[A-Z]{7}$"), 1)) === count(lit(1))).as("char_ok"),
          (count(when(col("c8").rlike("^[0-9A-Za-z]{13}$"), 1)) === count(lit(1))).as("varchar_ok"),
          (min(length(col("c9"))) >= 1 && max(length(col("c9"))) <= 256).as("text_ok"),
          (min(year(col("c10"))) >= 1900 && max(year(col("c10"))) <= 2021
            && max(dayofmonth(col("c10"))) <= 28).as("date_ok"),
          (min(year(col("c11"))) >= 1900 && max(year(col("c11"))) <= 2021).as("datetime_ok"),
          (count(when(col("c12").rlike("^([01][0-9]|2[0-3]):[0-5][0-9]:[0-5][0-9]$"), 1))
            === count(lit(1))).as("time_ok"),
          (min(col("c13")) >= 0
            && max(col("c13")) < lit(BigDecimal(100000000))).as("decimal_ok"))),

    // CSV TEXT parity (the byte-level Tier A contract): float/double
    // render as C/C++ %g precision-6 (the reference's stringstream
    // convention, generate_csv.cpp:42-54) and decimal fractions are
    // zero-padded to exactly s digits (:145). The query runs the real
    // text sink (writeCsvText → disk), reads the bytes back as strings,
    // and checks the textual domain as one boolean row:
    //  * round-trip identity — reparsing a cell and re-formatting it
    //    reproduces the exact bytes, which proves every cell is in
    //    %g's image (6 sig digits, trailing zeros stripped, e±NN
    //    exponent) — valid because 6 ≤ FLT_DIG/DBL_DIG makes
    //    decimal→binary→decimal at 6 digits the identity;
    //  * value domains (double ±2^31, generate_csv.cpp:217-218);
    //  * both fixed and scientific styles actually exercised;
    //  * decimal text is ^[0-9]{1,8}\.[0-9]{2}$ with zero-padding seen.
    "q_gen_csv_text" -> ((s, _) => {
      import org.apache.spark.sql.graft.ColumnBridge
      import org.apache.spark.sql.Column
      def gfmt(c: Column): Column =
        ColumnBridge.column(graft.gen.GFormat6Expr(ColumnBridge.expression(c)))
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_gen_csv_text")
      SqloadGen.writeCsvText(
        SqloadGen.table(s, "float,double,decimal(10,2)", GenRows),
        dir.getAbsolutePath)
      s.read.schema("f STRING, d STRING, dec STRING").csv(dir.getAbsolutePath)
        .agg(
          count(lit(1)).as("n"),
          (count(when(gfmt(col("f").cast("float")) === col("f"), 1))
            === count(lit(1))).as("float_rt_ok"),
          (count(when(gfmt(col("d").cast("double")) === col("d"), 1))
            === count(lit(1))).as("double_rt_ok"),
          (min(col("d").cast("double")) >= -2147483648.0
            && max(col("d").cast("double")) < 2147483648.0).as("double_dom_ok"),
          max(col("f").contains("e+") || col("f").contains("e-")).as("float_sci_seen"),
          // NOTE no fixed-style-seen probe: with the ±2^31 domain only
          // ~0.05% of doubles land under 1e6, so its presence is seed
          // lottery; fixed style is pinned deterministically in
          // GFormatSpec instead.
          max(col("d").contains("e")).as("double_sci_seen"),
          (count(when(col("dec").rlike("^[0-9]{1,8}\\.[0-9]{2}$"), 1))
            === count(lit(1))).as("dec_fmt_ok"),
          (count(when(col("dec").cast("decimal(10,2)").cast("string") === col("dec"), 1))
            === count(lit(1))).as("dec_rt_ok"),
          max(col("dec").rlike("\\.0[0-9]$")).as("dec_pad_seen"))
    }),

    // Parquet sink round-trip (the TYPED Tier A sink, vs the text CSV
    // sink): generate a spec through writeParquet, read it back, and
    // check (a) every Spark type survived the round trip — parquet
    // carries the schema, unlike CSV's type erasure — and (b) the
    // values are byte-identical to a fresh in-memory generation of the
    // same (spec, rows, seed): the fingerprint (row count and hash
    // sum) of the re-read equals the direct one. One row, literal oracle.
    "q_gen_parquet" -> ((s, _) => {
      val spec = "key,rkey,int(11),varchar(13),double,date,datetime,decimal(10,2)"
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_gen_parquet")
      val df = SqloadGen.table(s, spec, GenRows, seed = 5)
      // pin the writer to micros: Spark 4 defaults to nanos parquet
      // timestamps, and the harness session reads nanos as LONG
      // (spark.sql.legacy.parquet.nanosAsLong, set for the testdata) —
      // micros is also the interoperable bulk-load choice
      val key = "spark.sql.parquet.outputTimestampType"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "TIMESTAMP_MICROS")
      try SqloadGen.writeParquet(df, dir.getAbsolutePath)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
      val back = s.read.parquet(dir.getAbsolutePath)
      // name+type comparison: parquet re-read relaxes nullability on
      // generated (never-null) columns, which is not type erasure
      val schemaOk = back.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType))
      fingerprint(back).crossJoin(fingerprint(df).toDF("n2", "f2"))
        .select(lit(schemaOk).as("schema_preserved"),
          (col("n") === col("n2") && col("f") === col("f2")).as("values_identical"),
          col("n"))
    }),

    // Determinism contract: the same (spec, rows, seed) generated with
    // 1 partition and 16 partitions is byte-identical: the two runs'
    // fingerprints (row count and hash sum) are equal, oracle-literal.
    "q_gen_determinism" -> ((s, _) => {
      def fp(parts: Int) = fingerprint(
        SqloadGen.table(s, "key,int,varchar(8),double,datetime", GenRows,
          seed = 7, numPartitions = parts))
      fp(1).crossJoin(fp(16).toDF("n2", "f2"))
        .select((col("n") === col("n2") && col("f") === col("f2")).as("partition_invariant"),
          col("n"))
    }),
  )

  def oracles: Map[String, String] = {
    // rkey via bit extraction: out = Σ_j ((g >> p(j)) & 1) * 2^j, built
    // in HUGEINT (DuckDB BIGINT shifts overflow-check at bit 63), then
    // wrapped to signed two's-complement BIGINT.
    val terms = (0 until 64).map { j =>
      val p = permTable(j)
      s"(((k + 1) >> $p) & 1)::HUGEINT * '${BigInt(1) << j}'::HUGEINT"
    }.mkString(" + ")

    Map(
      "q_gen_keys" ->
        s"""WITH g AS (SELECT range AS k FROM range(0, $GenRows)),
           |u AS (SELECT k, $terms AS uval FROM g)
           |SELECT k,
           |  CAST(CASE WHEN uval >= '9223372036854775808'::HUGEINT
           |    THEN uval - '18446744073709551616'::HUGEINT
           |    ELSE uval END AS BIGINT) AS rkey
           |FROM u ORDER BY k""".stripMargin,

      "q_gen_domains" ->
        s"""SELECT CAST($GenRows AS BIGINT) AS n,
           |  true AS bit_ok, true AS tinyint_ok, true AS smallint_ok,
           |  true AS mediumint_ok, true AS int_ok, true AS year_ok, true AS double_ok,
           |  true AS char_ok, true AS varchar_ok, true AS text_ok,
           |  true AS date_ok, true AS datetime_ok, true AS time_ok,
           |  true AS decimal_ok""".stripMargin,

      "q_gen_determinism" ->
        s"SELECT true AS partition_invariant, CAST($GenRows AS BIGINT) AS n",

      "q_gen_parquet" ->
        s"""SELECT true AS schema_preserved, true AS values_identical,
           |  CAST($GenRows AS BIGINT) AS n""".stripMargin,

      "q_gen_csv_text" ->
        s"""SELECT CAST($GenRows AS BIGINT) AS n,
           |  true AS float_rt_ok, true AS double_rt_ok, true AS double_dom_ok,
           |  true AS float_sci_seen, true AS double_sci_seen,
           |  true AS dec_fmt_ok, true AS dec_rt_ok, true AS dec_pad_seen""".stripMargin,
    )
  }
}
