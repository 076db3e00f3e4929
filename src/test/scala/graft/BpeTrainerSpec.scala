package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.BpeTrainer

/** BpeTrainer composition proofs: the N-iteration fit is exactly the
  * gated single iteration chained N times (bit-exact on both the merge
  * table and the encoded corpus), merges apply greedily through
  * consecutive occurrences, and the pick is deterministic under ties.
  */
class BpeTrainerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private def words(ws: String*) = {
    import spark.implicits._
    ws.toDF("tok")
  }

  private def seqs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("seq").collect().map(_.getString(0)).sorted.toSeq

  test("fit(3) equals three chained single iterations, bit-exact") {
    val corpus = words("banana", "bandana", "ananas", "ban", "nab", "anna")
    val enc = BpeTrainer.encode(corpus)

    val (m3, out3) = BpeTrainer.fitEncoded(enc, 3)

    val (m1a, o1) = BpeTrainer.fitEncoded(enc, 1)
    val (m1b, o2) = BpeTrainer.fitEncoded(o1, 1)
    val (m1c, o3) = BpeTrainer.fitEncoded(o2, 1)

    assert(m3 === m1a ++ m1b ++ m1c)
    assert(seqs(out3) === seqs(o3))
  }

  test("first merge on a known corpus is the most frequent pair; counts exact") {
    // "an" appears: banana(2) bandana(2) ananas(2) ban(1) nab(0:a-b) anna(1)...
    // count it the dumb way instead of trusting arithmetic in a comment:
    val corpus = words("banana", "bandana", "ananas", "ban", "nab", "anna")
    val expected = corpus.collect().map(_.getString(0))
      .flatMap(w => w.sliding(2).toSeq)
      .groupBy(identity).view.mapValues(_.length)
      .toSeq.sortBy { case (p, n) => (-n, p) }.head
    val (m, _) = BpeTrainer.fitEncoded(BpeTrainer.encode(corpus), 1)
    assert(m.size === 1)
    assert(m.head.a + m.head.b === expected._1)
    assert(m.head.n === expected._2.toLong)
  }

  test("consecutive occurrences merge in one pass (greedy left-to-right)") {
    // 'aaaa' under merge (a,a): greedy left-to-right yields 'aa' 'aa'
    val enc = BpeTrainer.encode(words("aaaa"))
    val merged = BpeTrainer.applyMerge(enc, "a", "a")
    val sym = merged.select(expr("filter(split(seq, ' '), x -> x != '')").as("s"))
      .collect().head.getSeq[String](0)
    assert(sym === Seq("aa", "aa"))
  }

  test("ties pick the lexicographically smallest pair") {
    // 'ab' and 'ba' both appear exactly twice; (a,b) must win
    val (m, _) = BpeTrainer.fitEncoded(BpeTrainer.encode(words("aba", "bab")), 1)
    assert((m.head.a, m.head.b) === ("a", "b"))
  }

  test("fit stops early when no repeated pair remains") {
    val (m, out) = BpeTrainer.fitEncoded(BpeTrainer.encode(words("ab")), 5)
    // "ab" merges once into a single symbol, then no pairs remain at
    // count >= 1? one pair ('ab') with count 1 still exists pre-merge;
    // after the merge the word is one symbol and pairCounts is empty
    assert(m.size === 1)
    assert(seqs(out) === Seq("  ab  "))
    val (m2, _) = BpeTrainer.fitEncoded(out, 3)
    assert(m2.isEmpty)
  }

  test("randomized differential: trainer == pure-Scala BPE model over seeded corpora") {
    // reference model: symbol lists, exact pair counts, (count DESC,
    // a ASC, b ASC) pick, greedy left-to-right non-overlapping merge
    def modelFit(ws: Seq[String], iters: Int): Seq[(String, String, Long)] = {
      var corpus: Seq[Vector[String]] = ws.map(_.map(_.toString).toVector)
      val out = Seq.newBuilder[(String, String, Long)]
      var it = 0
      var done = false
      while (it < iters && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        corpus.foreach { w =>
          var i = 0
          while (i + 1 < w.length) {
            counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
            i += 1
          }
        }
        if (counts.isEmpty) done = true
        else {
          val ((a, b), n) = counts.toSeq.sortBy { case ((x, y), c) => (-c, x, y) }.head
          out += ((a, b, n))
          corpus = corpus.map { w =>
            val nw = Vector.newBuilder[String]
            var i = 0
            while (i < w.length) {
              if (i + 1 < w.length && w(i) == a && w(i + 1) == b) {
                nw += (a + b); i += 2
              } else { nw += w(i); i += 1 }
            }
            nw.result()
          }
        }
        it += 1
      }
      out.result()
    }
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      // tiny alphabet forces heavy pair collisions and chained merges
      val ws = Seq.fill(30 + rnd.nextInt(50))(
        (1 to (1 + rnd.nextInt(8))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val (got, _) = BpeTrainer.fitEncoded(BpeTrainer.encode(words(ws: _*)), 4)
      val want = modelFit(ws, 4)
      assert(got.map(m => (m.a, m.b, m.n)) === want, s"seed=$seed corpus=$ws")
    }
  }

  test("dictionary regime equals the distributed loop, bit-exact (merges AND corpus)") {
    // round 21: the default fit collects the distinct-word dictionary
    // and runs the greedy loop locally; dictMaxWords = 1 forces the
    // distributed per-iteration path. Both must produce the same merge
    // table (values AND counts) and the same encoded corpus, including
    // on corpora with repeated words (the multiplicity weighting) and
    // line-terminator tails (the sealed-symbol replace edge: pair
    // counting sees the glued terminator symbol but the doubled-
    // separator replace can never merge it).
    val corpora = Seq(
      Seq("banana", "bandana", "banana", "ananas", "ban", "banana"),
      Seq("ab\n", "ab\n", "a\nb", "abab", "ab\n"),
      Seq("aaaa", "aaa", "aaaa", "aa"),
      Seq("x")
    )
    for ((ws, ci) <- corpora.zipWithIndex) {
      val enc = BpeTrainer.encode(words(ws: _*))
      val (mLocal, oLocal) = BpeTrainer.fitEncoded(enc, 4)
      val (mDist, oDist) = BpeTrainer.fitEncoded(enc, 4, dictMaxWords = 1)
      assert(mLocal === mDist, s"corpus $ci: merge tables diverged")
      assert(seqs(oLocal) === seqs(oDist), s"corpus $ci: encoded corpora diverged")
    }
  }

  test("randomized differential across regimes: dict fit == distributed fit == model") {
    def modelPairs(ws: Seq[String]): Map[(String, String), Long] = {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      ws.map(_.map(_.toString).toVector).foreach { w =>
        var i = 0
        while (i + 1 < w.length) {
          counts((w(i), w(i + 1))) = counts.getOrElse((w(i), w(i + 1)), 0L) + 1
          i += 1
        }
      }
      counts.toMap
    }
    for (seed <- 10 to 14) {
      val rnd = new scala.util.Random(seed)
      // heavy repetition: small word pool drawn many times, so the
      // dictionary path's multiplicity weighting actually matters
      val pool = Seq.fill(6)(
        (1 to (1 + rnd.nextInt(6))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString)
      val ws = Seq.fill(40)(pool(rnd.nextInt(pool.size)))
      val enc = BpeTrainer.encode(words(ws: _*))
      val (mLocal, _) = BpeTrainer.fitEncoded(enc, 3)
      val (mDist, _) = BpeTrainer.fitEncoded(enc, 3, dictMaxWords = 1)
      assert(mLocal === mDist, s"seed=$seed corpus=$ws")
      if (mLocal.nonEmpty) {
        val first = modelPairs(ws).toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        assert((mLocal.head.a, mLocal.head.b, mLocal.head.n)
          === (first._1._1, first._1._2, first._2), s"seed=$seed first merge")
      }
    }
  }

  test("multi-char merges chain: learned symbols participate in later pairs") {
    // after (a,b)->ab, the pair (ab, c) exists in 'abc'
    val (m, _) = BpeTrainer.fitEncoded(BpeTrainer.encode(
      words("abc", "abc", "abd")), 2)
    assert(m.map(x => (x.a, x.b)) === Seq(("a", "b"), ("ab", "c")))
  }
}
