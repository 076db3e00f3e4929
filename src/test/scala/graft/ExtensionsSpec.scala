package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

/** Checks for the native expressions: each kernel against the
  * reference formulation it replaces, built the way the program
  * builds it (by name for the `graft_*` functions GraftExtensions
  * registers, as an expression for the rest), plus the install paths.
  */
class ExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  test("graft_minhash_sigs and graft_ngram_hashes run over documents") {
    import org.apache.spark.sql.functions.{col, size}
    val text = ColumnBridge.expression(col("text"))
    val r = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        size(ColumnBridge.column(gen.MinHashSigsExpr(text, 5, 16))).as("n_sigs"),
        size(ColumnBridge.column(gen.NgramHashesExpr(text, 3))).as("n_grams"))
    assert(r.filter("n_sigs != 16").count() == 0)
    assert(r.filter("n_grams <= 0").count() == 0)
  }

  test("config-path injection registers functions, strategy, and optimizer rule") {
    // the spark.sql.extensions path can't be exercised on the shared
    // test session (builder configs after the first getOrCreate are
    // ignored), so drive the extension object directly
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
    import org.apache.spark.sql.graft.ExtensionsBridge
    assert(ExtensionsBridge.plannerStrategies(ext, spark)
      .contains(graft.plans.TopKPerGroupStrategy))
    assert(ExtensionsBridge.optimizerRules(ext, spark)
      .contains(graft.plans.TopKRewriteRule))
  }

  test("graft_md5_60 equals the conv(substr(md5)) formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    val df = (Seq("", "a", "hello|42", "héllo", "x" * 300) ++
      (1 to 200).map(i => s"k$i")).toDF("s")
    val bad = df
      .select(col("s"),
        ColumnBridge.column(gen.Md5Hash60Expr(ColumnBridge.expression(col("s")))).as("fast"),
        expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").as("ref"))
      .filter(col("fast") =!= col("ref")).collect()
    assert(bad.isEmpty, bad.take(3).mkString(", "))
  }

  test("codegen dot/norm are bit-identical to the HOF formulation on random vectors") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1), Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    def hofDot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val dot = ColumnBridge.column(graft.gen.DotProductExpr(
      ColumnBridge.expression(col("a")), ColumnBridge.expression(col("b"))))
    val nrm = ColumnBridge.column(graft.gen.VecNormExpr(ColumnBridge.expression(col("a"))))
    val bad = df.select(
      dot.as("fast"), hofDot(col("a"), col("b")).as("ref"),
      nrm.as("nfast"), sqrt(hofDot(col("a"), col("a"))).as("nref"))
      // bitwise identity, not epsilon: the claim is same association order
      .filter(col("fast") =!= col("ref") || col("nfast") =!= col("nref"))
      .count()
    assert(bad == 0L)
  }

  test("graft_l2sq_d / graft_colmeans_d are bit-identical to the HOF folds") {
    // round 21: the q_sim_kmeans assign/update folds run compiled.
    // Bitwise identity, not epsilon — the claim is the SAME
    // ascending-index left-fold op sequence as the lambda forms.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(13)
    val rows = (1 to 300).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val badL2 = df.select(
      expr("graft_l2sq_d(a, b, 64)").as("fast"),
      expr("""aggregate(sequence(0, 63), 0D,
             |  (acc, i) -> acc + (a[i] - b[i]) * (a[i] - b[i]))""".stripMargin).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badL2 == 0L)
    // colmeans over the collect_list(struct(id, emb)) shape, grouped
    // into uneven cells so divisor sizes vary
    val badCm = df.withColumn("cell", col("id") % 7)
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("id"), col("a")))).as("docs"))
      .select(
        expr("graft_colmeans_d(docs, 64)").as("fast"),
        expr("""transform(sequence(0, 63), d ->
               |  aggregate(docs, 0D, (acc, x) -> acc + x.a[d])
               |    / CAST(size(docs) AS DOUBLE))""".stripMargin).as("ref"))
      .filter(expr(
        "exists(sequence(0, 63), d -> fast[d] != ref[d])")).count()
    assert(badCm == 0L)
    // float×double variant vs the per-element-cast fold
    val fRows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    val badFd = fRows.toDF("id", "f", "b").select(
      expr("graft_l2sq_fd(f, b, 64)").as("fast"),
      expr("""aggregate(sequence(0, 63), 0D, (acc, i) ->
             |  acc + (CAST(f[i] AS DOUBLE) - b[i])
             |    * (CAST(f[i] AS DOUBLE) - b[i]))""".stripMargin).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(badFd == 0L)
  }

  test("graft_shingle_hashes equals the transform/array_distinct md5 chain") {
    // q_dedup_minhash_est's exact-Jaccard shingle-hash set: same
    // slices (code points, end-clip, whole-text-when-short), same
    // 60-bit md5 mod P, same double first-occurrence distinct —
    // element order included. Adversarial unicode + repeated shingles
    // so both distinct layers do real work.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val texts = Seq("", "a", "ab", "abcd", "aaaaaaaa", "ababababab",
      "héllo wörld wörld", "日本語日本語", "a😀b😀a😀b😀", "the the the quick")
    val p = graft.gen.MinHashImpl.P
    val bad = texts.toDF("text").select(
      expr(s"graft_shingle_hashes(text, 5, ${p}L)").as("fast"),
      expr(
        s"""array_distinct(transform(
           |  array_distinct(transform(
           |    sequence(1, greatest(char_length(text) - 4, 1)),
           |    i -> substring(text, i, 5))),
           |  x -> cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint)
           |    % ${p}L))""".stripMargin).as("ref"))
      .filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L)
  }

  test("graft_pq_dm / graft_pq_codes / graft_pq_adc are bit-identical to the lambda forms") {
    // the q_sim_pq / q_sim_ivfpq folds: (sub=4, k=6, dim=8) over
    // 32-dim vectors, including duplicate codebook entries so the
    // first-occurrence argmin tie-break is actually exercised
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftExtensions.register(spark)
    val (sub, k, dim) = (4, 6, 8)
    val rnd = new scala.util.Random(29)
    val cbEntries = {
      val base = Seq.fill(k - 1)(Array.fill(sub * dim)(rnd.nextDouble()))
      base :+ base.head.clone() // duplicate ⇒ argmin ties
    }
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(sub * dim)(rnd.nextDouble()), cbEntries.map(_.toSeq))
    }
    val df = rows.toDF("id", "v", "cb")
    val dmRef = expr(
      s"""transform(sequence(0, ${sub - 1}), m ->
         |  transform(sequence(0, ${k - 1}), c ->
         |    aggregate(sequence(0, ${dim - 1}), 0D, (a, i) ->
         |      a + (v[m * $dim + i] - cb[c][m * $dim + i])
         |        * (v[m * $dim + i] - cb[c][m * $dim + i]))))""".stripMargin)
    val checked = df
      .withColumn("dm_fast", expr(s"graft_pq_dm(v, cb, $sub, $k, $dim)"))
      .withColumn("dm_ref", dmRef)
      .withColumn("codes_fast", expr("graft_pq_codes(dm_ref)"))
      .withColumn("codes_ref", expr(
        "transform(dm_ref, ds -> CAST(array_position(ds, array_min(ds)) AS INT) - 1)"))
      .withColumn("adc_fast", expr("graft_pq_adc(dm_ref, codes_ref)"))
      .withColumn("adc_ref", expr(
        s"aggregate(sequence(0, ${sub - 1}), 0D, (a, m) -> a + dm_ref[m][codes_ref[m]])"))
    val bad = checked.filter(
      expr(s"exists(sequence(0, ${sub - 1}), m -> " +
        s"exists(sequence(0, ${k - 1}), c -> dm_fast[m][c] != dm_ref[m][c]))") ||
      col("codes_fast") =!= col("codes_ref") ||
      col("adc_fast") =!= col("adc_ref")).count()
    assert(bad == 0L)
  }

  test("vector expressions reject non-float-array inputs at analysis time") {
    import spark.implicits._
    val dbl = Seq((1L, Array(1.0, 2.0))).toDF("id", "v") // array<double>
    val flt = Seq((1L, Array(1.0f, 2.0f))).toDF("id", "v")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select(ColumnBridge.column(
        graft.gen.VecNormExpr(ColumnBridge.expression(df.col("v")))))
    // float side analyzes and evaluates; double side must fail analysis
    // (not reinterpret double bits as floats at runtime)
    assert(math.abs(norm(flt).head().getDouble(0) - math.sqrt(5.0)) < 1e-12)
    val e = intercept[Exception] { norm(dbl).head() }
    assert(e.getMessage.toLowerCase.contains("array<float>")
      || e.getMessage.contains("ARRAY<FLOAT>"), e.getMessage)
  }

  test("graft_shingles edge cases: empty text, short text, non-ASCII codepoints") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, ""), (2L, "ab"), (3L, "héllo wörld"))
      .toDF("id", "t").createOrReplaceTempView("shingle_edge")
    val rows = spark.sql(
      "SELECT id, s.pos, s.shingle FROM shingle_edge LATERAL VIEW graft_shingles(t, 5) s AS pos, shingle ORDER BY id, pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // empty text and shorter-than-shingle text emit ONE row (the whole
    // text) — matching DuckDB's greatest(length-4, 1) loop bound;
    // non-ASCII shingles advance by codepoint, not byte
    assert(rows.toSeq == Seq(
      (1L, 1, ""), (2L, 1, "ab"),
      (3L, 1, "héllo"), (3L, 2, "éllo "), (3L, 3, "llo w"),
      (3L, 4, "lo wö"), (3L, 5, "o wör"), (3L, 6, " wörl"), (3L, 7, "wörld")))
  }

  test("graft_shingles byte-slice fast path ≡ UTF8String.substring on every boundary class") {
    // round-20 optimization: eval precomputes code-point boundaries in
    // one pass and emits byte-range slices instead of calling
    // UTF8String.substring per position (which re-scans from byte 0
    // every call — O(chars²) per document). This pins the slices
    // byte-identical to substring across 1-, 2-, 3-, and 4-byte
    // (supplementary-plane) code points, including the end-clip and
    // whole-text-when-short rules.
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq("", "a", "ab", "abc", "abcd",
      "héllo wörld", "日本語のテキスト", "a😀b😀c", "😀😀😀", "mixé😀日x")
    for (s <- texts; len <- Seq(2, 3, 5)) {
      val t = UTF8String.fromString(s)
      val viaExpr = gen.ShingleGenExpr(
          org.apache.spark.sql.catalyst.expressions.Literal(t,
            org.apache.spark.sql.types.StringType), len)
        .eval(null).iterator.toSeq
        .map(r => (r.getInt(0), r.getUTF8String(1).toString))
      val n = t.numChars()
      val viaSubstring = (0 until math.max(n - (len - 1), 1))
        .map(i => (i + 1, t.substring(i, math.min(i + len, n)).toString))
      assert(viaExpr == viaSubstring, s"text='$s' len=$len")
    }
  }

  test("graft_tri_pack: bijective, order-preserving, unpack-invertible vs graft_shingles(3)") {
    // round-21 optimization: trigram aggregations key on the packed
    // 63-bit long. Pins, on adversarial unicode (1-4 byte code points,
    // supplementary plane, combining marks): (1) the packed multiset
    // maps 1:1 onto the trigram-string multiset row-for-row, (2)
    // ascending packed order equals ascending UTF8-binary string order
    // (big-endian pack + UTF-8 byte order ≡ code-point order), (3)
    // graft_tri_unpack inverts the pack, (4) texts shorter than 3
    // chars emit nothing.
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    val texts = Seq("", "a", "ab", "abc", "abcd", "héllo wörld",
      "日本語のテキスト", "a😀b😀c", "😀😀😀", "mixé😀日x", "ééé",
      " a b", "z￮߿ࠀ")
    for (s <- texts) {
      val t = UTF8String.fromString(s)
      val packed = gen.TriPackGenExpr(Literal(t, StringType))
        .eval(null).iterator.toSeq.map(_.getLong(0))
      val strings = gen.ShingleGenExpr(Literal(t, StringType), 3)
        .eval(null).iterator.toSeq.map(_.getUTF8String(1))
      if (t.numChars() < 3) assert(packed.isEmpty, s"text='$s' must emit nothing")
      else {
        assert(packed.size == strings.size, s"text='$s' row counts diverge")
        // row-for-row: unpack inverts, and packed order = string order
        packed.zip(strings).foreach { case (p, str) =>
          assert(gen.TriPackImpl.unpack(p) == str, s"text='$s': unpack($p) != '$str'")
        }
        val byPack = packed.zip(strings).sortBy(_._1).map(_._2.toString)
        val byStr = strings.sortBy(identity).map(_.toString)
        assert(byPack == byStr, s"text='$s': packed order diverges from UTF8 binary order")
        // bijectivity across DISTINCT trigrams: equal packs ⇔ equal strings
        val m = packed.zip(strings).toMap
        assert(m.size == strings.map(_.toString).distinct.size,
          s"text='$s': pack collides across distinct trigrams")
      }
    }
    // SQL surface round-trips
    GraftExtensions.register(spark)
    val viaSql = spark.sql(
      "SELECT graft_tri_unpack(tri) AS s FROM (SELECT graft_tri_pack('a😀b😀c') AS tri)")
      .collect().map(_.getString(0)).toSeq
    assert(viaSql == Seq("a😀b", "😀b😀", "b😀c"))
  }

  test("graft_cms_estimate: one-sided error within eps*N; analysis rejects bad types") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{broadcast, col, expr}
    def est(sk: String, k: String) = ColumnBridge.column(gen.CmsEstimateExpr(
      ColumnBridge.expression(col(sk)), ColumnBridge.expression(col(k))))
    val n = 1000
    val df = (1 to n).map(i => (i % 7).toLong).toDF("k")
    val skDf = df.agg(expr("count_min_sketch(k, 0.01d, 0.99d, 7)").as("sk"))
    val rows = df.groupBy("k").count()
      .crossJoin(broadcast(skDf))
      .select(col("k"), col("count").as("exact"), est("sk", "k").as("est"))
      .collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      // CMS guarantee: never undercounts; overcount bounded by eps*N
      assert(est >= exact, s"k=${r.getLong(0)}: est $est < exact $exact")
      assert(est <= exact + math.ceil(0.01 * n).toLong,
        s"k=${r.getLong(0)}: est $est above eps*N bound")
    }
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(est("k", "k")).collect()
    }
    assert(err.getMessage.contains("BINARY"), err.getMessage)
  }

  test("minhash shingles codepoints, not bytes — DuckDB substr parity on non-ASCII") {
    // Expected values computed with the exact oracle SQL fragment
    // (LshBanding.shinglesHashSql/sigsSql) in DuckDB over this string.
    val text = "héllo wörld ümlaut …∆ końcówka"
    val expected = Array(144169204L, 32448726L, 2663736L, 23280006L, 83597681L,
      52999208L, 32867097L, 32682212L, 15937328L, 6761940L, 27530122L, 3088801L,
      38734737L, 94100172L, 135365337L, 49319380L)
    val got = gen.MinHashImpl
      .sigs(org.apache.spark.unsafe.types.UTF8String.fromString(text), 5, 16)
      .toLongArray()
    assert(got.toSeq == expected.toSeq)
  }

  test("graft_sum128/sum128p equal sum on adversarial decimals (nulls, negatives, groups, off-grid)") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import graft.Tables.{Dec2, Dec384, decU, sum128, sum128p}
    val rows: Seq[(String, java.lang.Double, java.lang.Double)] = Seq(
      ("a", 1.01, 2.02), ("a", -3.75, 0.0), ("a", null, 5.5),
      ("a", 9999999.99, -9999999.99),
      // off-grid: shortest repr carries 3 decimals -> HALF_UP at the
      // .xx5 boundary (0.615 -> 0.62) — the decU slow path
      ("b", 0.615, -0.615), ("b", -0.0, 123456.78), ("b", null, null),
      ("c", null, null), // all-null group -> NULL sums
      ("d", 1.0e9 + 0.25, -1.0e9 - 0.5), // beyond the fast-path range
      ("d", 1.23456789012e12, 0.07))
    val df = spark.createDataFrame(rows).toDF("k", "x", "y")
    val xd = col("x").cast(Dec2); val yd = col("y").cast(Dec2)
    val ref = df.groupBy("k").agg(
      sum(xd).as("sx"), sum(yd).as("sy"),
      sum((xd * yd).cast(Dec384)).as("sxy"),
      sum((xd * xd).cast(Dec384)).as("sxx")).orderBy("k")
    val got = df.select(col("k"), decU(col("x"), 2).as("xu"), decU(col("y"), 2).as("yu"))
      .groupBy("k").agg(
        sum128(col("xu"), 28, 2).as("sx"), sum128(col("yu"), 28, 2).as("sy"),
        sum128p(col("xu"), col("yu"), 38, 4).as("sxy"),
        sum128p(col("xu"), col("xu"), 38, 4).as("sxx")).orderBy("k")
    assert(ref.schema == got.schema, s"schema: ${ref.schema} vs ${got.schema}")
    assert(ref.collect().toSeq == got.collect().toSeq)
  }

  test("graft_sum128 carries across the 64-bit low-word boundary exactly") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    import graft.Tables.{Dec2, Dec384, decU, sum128p}
    // 9e15 at scale 2 -> unscaled 9e17; squared product = 8.1e35 per
    // row — two rows push the 128-bit accumulator far past 2^64, so
    // low-word carries must propagate for equality to hold
    val df = spark.range(4).select((lit(9.0e15) + col("id").cast("double")).as("x"))
    val xd = col("x").cast(Dec2)
    val ref = df.agg(sum((xd * xd).cast(Dec384)).as("sxx"))
    val got = df.select(decU(col("x"), 2).as("xu"))
      .agg(sum128p(col("xu"), col("xu"), 38, 4).as("sxx"))
    assert(ref.schema == got.schema)
    assert(ref.collect().toSeq == got.collect().toSeq)
  }

  test("graft_dec_unscaled equals the ANSI cast's unscaled value on every boundary class") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    // on-grid money values, off-grid half-way cases in both signs,
    // +-0.0, values straddling the 1e9 fast-path gate, slow-path
    // giants inside decimal(18,2), and many-decimal irrationals
    val samples = Seq(
      0.0, -0.0, 0.01, -0.01, 0.07, 104999.99, -104999.99, 950.04,
      0.615, -0.615, 2.675, -2.675, 0.125, 1.005, // shortest-repr 3-decimals
      math.Pi, -math.E, 1.0 / 3.0,
      999999999.99, 1.0e9 - 0.005, 1.0e9, 1.0e9 + 0.25, -1.0e9 - 0.5,
      1.23456789012e12, 9.99e15, -9.99e15)
    val df = spark.createDataFrame(samples.map(Tuple1(_))).toDF("d")
    val ref = df.select(unbase64(lit("")).isNull.as("dummy"),
      col("d").cast(org.apache.spark.sql.types.DecimalType(18, 2)).as("dec"))
      .selectExpr("CAST(dec * 100 AS BIGINT) AS u") // exact: scale-2 decimal * 100 is integral
    val got = df.select(graft.Tables.decU(col("d"), 2).as("u"))
    assert(ref.collect().map(_.getLong(0)).toSeq == got.collect().map(_.getLong(0)).toSeq)
    // scale 0 and scale 4 forms agree with their casts too (the
    // 9.99e15 giants overflow decimal(18,4) in BOTH forms — keep the
    // cross-check on values the reference cast itself can represent)
    for (s <- Seq(0, 4)) {
      val dt = org.apache.spark.sql.types.DecimalType(18, s)
      val mult = math.pow(10.0, s)
      val dfS = df.filter(abs(col("d")) < 1.0e13)
      val r = dfS.select((col("d").cast(dt) * lit(mult)).cast("decimal(38,4)").cast("long").as("u"))
      val g = dfS.select(graft.Tables.decU(col("d"), s).as("u"))
      assert(r.collect().map(_.getLong(0)).toSeq == g.collect().map(_.getLong(0)).toSeq, s"scale $s")
    }
  }

  test("graft_tok_ngrams ≡ the transform/concat lambda chains on every window shape") {
    GraftExtensions.register(spark)
    import org.apache.spark.sql.functions._
    val docs = Seq(
      "a b c d e f g", "a", "", "x y", "a b c", "dup dup dup dup",
      "один два три четыре", "a b c d", "q w e r t y u i o p",
      "t1 t2 t1 t2 t1 t2" // repeating bigrams -> distinct matters
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = spark.createDataFrame(docs).toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("t"))

    // overlapping bigrams (colloc/repetition form)
    val bgRef = df.filter(size(col("t")) >= 2).select(col("doc_id"), posexplode(
      expr("transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"))
      .as(Seq("pos", "g"))).orderBy("doc_id", "pos")
    val bgGen = df.filter(size(col("t")) >= 2)
      .select(col("doc_id"), expr("graft_tok_ngrams(t, 2)").as(Seq("pos", "g")))
      .orderBy("doc_id", "pos")
    assert(bgRef.collect().toSeq == bgGen.collect().toSeq)

    // overlapping 5-grams (dupspans form)
    val g5Ref = df.filter(size(col("t")) >= 5).select(col("doc_id"), posexplode(
      expr("""transform(sequence(0, size(t) - 5),
             i -> concat_ws(' ', t[i], t[i + 1], t[i + 2], t[i + 3], t[i + 4]))"""))
      .as(Seq("pos", "g"))).orderBy("doc_id", "pos")
    val g5Gen = df.filter(size(col("t")) >= 5)
      .select(col("doc_id"), expr("graft_tok_ngrams(t, 5)").as(Seq("pos", "g")))
      .orderBy("doc_id", "pos")
    assert(g5Ref.collect().toSeq == g5Gen.collect().toSeq)

    // distinct 3-grams, first-occurrence order (decontaminate form)
    val d3Ref = df.filter(size(col("t")) >= 3).select(col("doc_id"), posexplode(
      expr("""array_distinct(transform(sequence(0, size(t) - 3),
             i -> concat_ws(' ', t[i], t[i + 1], t[i + 2])))"""))
      .as(Seq("pos", "g"))).orderBy("doc_id", "pos")
    val d3Gen = df.filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr("graft_tok_ngrams_distinct(t, 3)").as(Seq("pos", "g")))
      .orderBy("doc_id", "pos")
    assert(d3Ref.collect().toSeq == d3Gen.collect().toSeq)

    // non-overlapping 3-chunks with posexplode pos (boilerplate form)
    val c3Ref = df.filter(size(col("t")) >= 3).select(col("doc_id"), posexplode(
      expr("""transform(sequence(0, size(t) div 3 - 1),
             i -> concat_ws(' ', t[i * 3], t[i * 3 + 1], t[i * 3 + 2]))"""))
      .as(Seq("pos", "g"))).orderBy("doc_id", "pos")
    val c3Gen = df.filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr("graft_tok_ngrams(t, 3, 3)").as(Seq("pos", "g")))
      .orderBy("doc_id", "pos")
    assert(c3Ref.collect().toSeq == c3Gen.collect().toSeq)

    // null array and size < n emit zero rows
    val nullDf = spark.sql("SELECT CAST(NULL AS ARRAY<STRING>) AS t")
    assert(nullDf.select(expr("graft_tok_ngrams(t, 2)")).count() == 0)
    assert(spark.sql("SELECT graft_tok_ngrams(array('solo'), 2) ").count() == 0)
  }

  test("graft_collect_sorted_set ≡ sort_array(collect_set) on adversarial longs") {
    import org.apache.spark.sql.functions._
    val rows: Seq[(String, java.lang.Long)] = Seq(
      ("a", 5L), ("a", 1L), ("a", 5L), ("a", -3L), ("a", null),
      ("b", 0L), ("b", Long.MaxValue), ("b", Long.MinValue), ("b", 0L),
      ("c", null), ("c", null), // all-null group -> empty array
      ("d", 42L))
    val df = spark.createDataFrame(rows).toDF("k", "v")
    val ref = df.groupBy("k").agg(sort_array(collect_set(col("v"))).as("ps")).orderBy("k")
    val got = df.groupBy("k").agg(ColumnBridge.column(gen.LongSetAgg(
      ColumnBridge.expression(col("v"))).toAggregateExpression()).as("ps")).orderBy("k")
    assert(ref.schema == got.schema, s"schema: ${ref.schema} vs ${got.schema}")
    assert(ref.collect().toSeq == got.collect().toSeq)
  }

  test("SparkEntry.queries installs the engine posture on a fresh session") {
    // newSession(): no temp functions, no extra strategies or rules —
    // the state of a session no earlier query has built on
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val fresh = spark.newSession()
    val sf = "/root/testdata/sf0.001"
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("graft_tok_ngrams")))
    assert(!fresh.experimental.extraOptimizations.contains(graft.plans.TopKRewriteRule))
    val plan = SparkEntry.queries("q_text_tfidf")(fresh, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("TopKPerGroupFinal"),
      s"the rn <= 3 cut must plan as the bounded heap on any session:\n$plan")
    assert(SparkEntry.queries("q_text_colloc")(fresh, sf).collect().nonEmpty)
  }

  test("GraftExtensions.register twice replaces no function and adds the rule and strategy once") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val sentinel: Seq[Expression] => Expression = _ => Literal("sentinel")
    registry.createOrReplaceTempFunction("graft_shingles", sentinel, "scala_udf")
    GraftExtensions.register(fresh)
    GraftExtensions.register(fresh)
    assert(registry.lookupFunctionBuilder(FunctionIdentifier("graft_shingles")).exists(_ eq sentinel),
      "register replaced an existing function")
    assert(GraftExtensions.builders.forall { case (name, _) =>
      registry.functionExists(FunctionIdentifier(name)) })
    assert(fresh.experimental.extraOptimizations.count(_ == graft.plans.TopKRewriteRule) == 1)
    assert(fresh.experimental.extraStrategies.count(_ == graft.plans.TopKPerGroupStrategy) == 1)
  }
}
