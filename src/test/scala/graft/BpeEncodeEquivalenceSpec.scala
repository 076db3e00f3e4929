package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Pins BpeTokenCountExpr (the round-11 native encode) to the Column
  * formulation it replaced: '  '-expand via regexp_replace, the
  * doubled-separator literal replace per merge, split/filter/size per
  * word, summed per doc. The two must agree row-for-row on the real
  * corpus AND on adversarial strings engineered at the semantic edges
  * (line-terminator gluing, consecutive-occurrence merges, merged
  * symbols re-merging across passes, supplementary code points,
  * multi-space runs) — q_bpe_encode's oracle gate then only has to
  * keep agreeing with ONE formulation.
  */
class BpeEncodeEquivalenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private def columnForm(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(concat(lit("  "), regexp_replace(w, "(.)", "$1  "))) { (acc, m) =>
      call_function("replace", acc, lit(s" ${m._1}  ${m._2} "), lit(s" ${m._1}${m._2} "))
    }

  private def columnCount(text: Column, merges: Seq[(String, String)]): Column =
    aggregate(transform(split(text, " "),
        w => size(filter(split(columnForm(w, merges), " "), x => x =!= "")).cast("long")),
      lit(0L), (a, x) => a + x)

  private def nativeCount(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(graft.gen.BpeTokenCountExpr(
      ColumnBridge.expression(text), merges))

  private def assertAgree(df: org.apache.spark.sql.DataFrame,
                          merges: Seq[(String, String)]): Unit = {
    val diff = df
      .select(col("text"),
        columnCount(col("text"), merges).as("col_n"),
        nativeCount(col("text"), merges).as("nat_n"))
      .filter(col("col_n") =!= col("nat_n"))
      .collect()
    assert(diff.isEmpty,
      diff.take(5).map(r => s"'${r.getString(0)}': column=${r.get(1)} native=${r.get(2)}")
        .mkString("; "))
  }

  test("native encode count == Column formulation on the trained merges over the corpus") {
    val sf = "/root/testdata/sf0.001"
    val sample = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
    val (merges, _) = graft.functions.BpeTrainer.fit(sample, operators.TextQueries.BpeMerges)
    assertAgree(Tables.documents(spark, sf).select(col("text")),
      merges.map(m => (m.a, m.b)))
  }

  test("native encode count == Column formulation on adversarial strings and merge tables") {
    import spark.implicits._
    val texts = Seq(
      "",                       // empty doc
      " ", "  a  b ",           // empty words from space runs
      "aaa aaaa aa a",          // consecutive-occurrence merges (non-overlap rule)
      "abab ababab",            // merged symbols re-merging across passes
      "the theater breathes",   // chained multi-char merges
      "a\nb c\n\nd \n e\n",     // line terminators glue / trail
      "x\r\ny crlf\rz",         // CR and CRLF
      "emoji 😀😀 pair",  // supplementary code points
      "single",
      "\n", "\n\n a")
    val df = texts.toDF("text")
    val tables = Seq(
      Seq("a" -> "a"),                                  // self-pair
      Seq("a" -> "a", "aa" -> "aa"),                    // merged self re-merge
      Seq("a" -> "b", "ab" -> "ab"),
      Seq("t" -> "h", "th" -> "e", "the" -> "a"),       // chained growth
      Seq("😀" -> "😀"),            // supplementary merge
      Seq("c" -> "\n"),                                 // terminator inside a pattern (never matches: \n glues)
      // the sealed-tail class (round-11 review finding): a word-final
      // terminator run has NO trailing separator in the replace
      // encoding, so a merge targeting it can never fire — a naive
      // symbol-list merge would fire it
      Seq("e" -> "\n"),
      Seq("e" -> "\n\n"),
      Seq("b" -> "\r"))
    tables.foreach(m => assertAgree(df, m))
  }

  test("native token stats == Column formulation (the q_quality_gate rule inputs)") {
    import spark.implicits._
    // the quadratic Column chain q_quality_gate used before round 11,
    // kept here as the reference: n/sl/nd from array ops, mx via
    // distinct × n filter counting
    val texts = (Seq("", " ", "  ", "a", "a a", "a  a", "the the the cat",
      "héllo wörld héllo", "数据 处理 数据", "😀 😀 x", "a b c d e f g a a a") ++
      Tables.documents(spark, "/root/testdata/sf0.001")
        .select("text").limit(300).collect().map(_.getString(0)).toSeq).toDF("text")
    val t = split(col("text"), " ")
    val diff = texts
      .select(col("text"),
        size(t).cast("long").as("o_n"),
        expr("cast(aggregate(transform(split(text, ' '), x -> length(x)), 0L, (a, x) -> a + x) as bigint)").as("o_sl"),
        size(array_distinct(t)).cast("long").as("o_nd"),
        expr("cast(array_max(transform(array_distinct(split(text, ' ')), u -> size(filter(split(text, ' '), x -> x = u)))) as bigint)").as("o_mx"),
        org.apache.spark.sql.graft.ColumnBridge.column(graft.gen.TokenStatsExpr(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("text")))).as("st"))
      .filter(col("o_n") =!= col("st.n") || col("o_sl") =!= col("st.sl") ||
        col("o_nd") =!= col("st.nd") || col("o_mx") =!= col("st.mx"))
      .collect()
    assert(diff.isEmpty, diff.take(5).mkString("; "))
  }

  test("native merged-pairs == Column formulation per token (the q_bpe_apply recount stage)") {
    import spark.implicits._
    // the Column chain q_bpe_apply used before round 11, for one
    // runtime merge (a, b): expand, one doubled-separator replace,
    // split/filter, adjacent concat — compared as an ORDERED pair list
    // per token against BpeMergedPairsExpr
    def oldPairs(tok: Column, a: String, b: String): Column = {
      val seq = concat(lit("  "), regexp_replace(tok, "(.)", "$1  "))
      val merged = call_function("replace", seq, lit(s" $a  $b "), lit(s" $a$b "))
      val sym = filter(split(merged, " "), x => x =!= "")
      when(size(sym) >= 2,
        transform(sequence(lit(1), size(sym) - 1),
          i => concat(element_at(sym, i), element_at(sym, i + 1))))
        .otherwise(array())
    }
    def newPairs(tok: Column, a: String, b: String): Column =
      ColumnBridge.column(graft.gen.BpeMergedPairsExpr(
        ColumnBridge.expression(tok),
        ColumnBridge.expression(lit(a)),
        ColumnBridge.expression(lit(b))))
    val toks = (Seq("", "a", "aa", "aaa", "aaaa", "abab", "the", "theater",
      "a\nb", "\naa", "aa\n", "😀😀😀", "x\r\ny") ++
      Tables.documents(spark, "/root/testdata/sf0.001")
        .select(explode(split(col("text"), " ")).as("t"))
        .limit(3000).collect().map(_.getString(0)).toSeq).toDF("tok")
    for ((a, b) <- Seq("a" -> "a", "t" -> "h", "a" -> "b", "😀" -> "😀", "e" -> "r",
        // sealed-tail class: trailing terminator must never merge
        "a" -> "\n", "y" -> "\r", "b" -> "\n")) {
      val diff = toks
        .select(col("tok"),
          oldPairs(col("tok"), a, b).as("o"),
          newPairs(col("tok"), a, b).as("n"))
        .filter(not(col("o") === col("n")))
        .collect()
      assert(diff.isEmpty, s"merge ($a,$b): " + diff.take(5).map(r =>
        s"'${r.getString(0)}': old=${r.getSeq[String](1)} new=${r.getSeq[String](2)}").mkString("; "))
    }
  }
}
