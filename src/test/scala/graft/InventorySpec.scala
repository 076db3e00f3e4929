package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Inventory-wide contract checks at sf0.001: every query runs, every
  * query has an oracle, re-running a query is deterministic (same
  * [[Digest]]), and the flagship entry returns rows — the fast local
  * guard for the driver's full DuckDB gate.
  */
class InventorySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  test("every query has an oracle and every oracle has a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("README and SURVEY inventory counts equal SparkEntry.queries.size (no doc drift)") {
    // the documented count drifted 128→137→150 across rounds as queries
    // were added after the docs were synced; this pins both documents to
    // the registry so the drift cannot recur (round-6 VERDICT item 6)
    val n = SparkEntry.queries.size
    def read(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
    val readme = read("README.md")
    assert(readme.contains(s"$n oracle-gated queries"),
      s"README.md surface header must say '$n oracle-gated queries'")
    assert(readme.contains(s"$n/$n hash-match"),
      s"README.md correctness section must say '$n/$n hash-match'")
    assert(read("SURVEY.md").contains(s"$n queries in `SparkEntry.queries`"),
      s"SURVEY.md §2.3 must say '$n queries in `SparkEntry.queries`'")
  }

  test("documents fixtures are pure ASCII at every SF (phash byte/char oracle coupling)") {
    // q_multimodal_phash hashes the first 64 UTF-8 BYTES of the payload
    // on the Spark side but substr(text, 1, 64) CHARACTERS in the
    // DuckDB oracle — identical only while the corpus is ASCII. This
    // guard makes that coupling fail loudly if the testdata ever ships
    // non-ASCII text (the adversarial non-ASCII corpus is exercised
    // separately by tools/edge_probe.py, which uses a byte-safe check).
    import org.apache.spark.sql.functions._
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(s"$dir/documents.parquet").exists()) {
      val nonAscii = Tables.documents(spark, dir)
        .filter(length(col("text")) =!= octet_length(col("text")))
        .count()
      assert(nonAscii == 0, s"$dir has $nonAscii non-ASCII documents — " +
        "the phash oracle's substr(text,1,64) no longer equals the 64-byte header")
    }
  }

  test("q_join_fuzzy recall is 1: every corrupted name links back to its source") {
    // the oracle gate proves cross-engine agreement; this proves the
    // SEMANTIC ground truth — symdel blocking never drops a true match
    import org.apache.spark.sql.functions.col
    val res = SparkEntry.queries("q_join_fuzzy")(spark, sf)
    val suppliers = Tables.supplier(spark, sf).count()
    val selfPairs = res.filter(col("d_key") === col("s_suppkey")).count()
    assert(selfPairs == suppliers,
      s"expected all $suppliers corrupted names to match their source, got $selfPairs")
  }

  test("q_dedup_url partitions the corpus: canonical groups cover every row exactly once") {
    import org.apache.spark.sql.functions.sum
    val res = SparkEntry.queries("q_dedup_url")(spark, sf)
    val docs = Tables.documents(spark, sf).count()
    val covered = res.agg(sum("n_rows")).head.getLong(0)
    assert(covered == docs, s"canonical groups cover $covered of $docs rows")
  }

  test("q_session_state == q_win_session on the testdata and at the 10-minute gap boundary") {
    // the two sessionizers share one oracle; the boundary rows pin where
    // a session breaks: at a gap of exactly SessionGapUs, measured from
    // the session's last event
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import spark.implicits._
    def digests(dir: String): Seq[Digest] =
      Seq("q_session_state", "q_win_session").map(q => Digest.of(SparkEntry.queries(q)(spark, dir)))
    for (dir <- Seq(sf, s"${new java.io.File(sf).getParent}/sf0.01")) {
      val Seq(a, b) = digests(dir)
      assert(a == b, s"$dir: q_session_state $a != q_win_session $b")
    }
    val g = operators.TimeWindowQueries.SessionGapUs
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val events = Seq(
      (1L, t0), (1L, t0 + g),                            // exactly one gap: splits
      (2L, t0), (2L, t0 + g - 1),                        // 1 µs less: merges
      (3L, t0), (3L, t0), (3L, t0),                      // equal timestamps: one session
      (4L, t0), (4L, t0 + g - 1), (4L, t0 + 2 * g - 2))  // a chain of sub-gap steps: one session
    val dir = java.nio.file.Files.createTempDirectory("graft_sessions").toFile
    try {
      events.zipWithIndex.map { case ((u, us), i) => (i.toLong, us, u, "view", 1.25, "{}") }
        .toDF("event_id", "us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.parquet(s"$dir/events.parquet")
      val Seq(a, b) = digests(dir.getPath)
      assert(a == b, s"boundary rows: q_session_state $a != q_win_session $b")
      val got = SparkEntry.queries("q_session_state")(spark, dir.getPath)
        .select("user_id", "start_us", "end_us", "n").as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == Seq(
        (1L, t0, t0 + g, 1L), (1L, t0 + g, t0 + 2 * g, 1L),
        (2L, t0, t0 + 2 * g - 1, 2L),
        (3L, t0, t0 + g, 3L),
        (4L, t0, t0 + 3 * g - 2, 3L)))
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete()
      }
      rm(dir)
    }
  }

  test("embedding near-dup pairs a repeated vec_id with other ids, never with itself") {
    // the oracle joins on a.vec_id < b.vec_id: each copy of id 7 pairs
    // with id 3 (cos 1), and nothing pairs with the orthogonal id 12
    import spark.implicits._
    val v = Array.tabulate(64)(i => if (i % 2 == 0) 1f else 0f)
    val w = Array.tabulate(64)(i => if (i % 2 == 1) 1f else 0f)
    val dir = java.nio.file.Files.createTempDirectory("graft_embeddings").toFile
    try {
      Seq((7L, v, 0), (3L, v, 0), (7L, v, 0), (12L, w, 0))
        .toDF("vec_id", "embedding", "label")
        .write.parquet(s"$dir/embeddings.parquet")
      for (q <- Seq("q_dedup_embedding", "q_dedup_embedding_blocked")) {
        val got = SparkEntry.queries(q)(spark, dir.getPath).as[(Long, Long)].collect().toSeq
        assert(got == Seq((3L, 7L), (3L, 7L)), q)
      }
      val sweep = SparkEntry.queries("q_dedup_sweep")(spark, dir.getPath)
        .as[(Long, Long)].collect().toSeq
      assert(sweep == Seq(300000L, 350000L, 400000L, 450000L, 500000L).map(t => (t, 2L)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("no query output has array/map/struct columns after Verify.sanitize") {
    // The driver's pandas comparator crashes on array cells (unhashable
    // numpy.ndarray) and renders decimals differently from DuckDB floats.
    // Verify.sanitize casts decimals; nested types must be stringified
    // at the query level (array_join / array_to_string on both engines).
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType, DecimalType}
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq
      f <- Verify.sanitize(fn(spark, sf)).schema.fields
      bad = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | _: DecimalType => true
        case _ => false
      }
      if bad
    } yield s"$name.${f.name}: ${f.dataType.simpleString}"
    assert(offenders.isEmpty, s"comparator-unsafe output columns: ${offenders.mkString(", ")}")
  }

  test("bench JSON line fits the driver's 2000-char tail window") {
    // The driver keeps only the last 2000 chars of combined output and sbt
    // appends ~80 chars after our line; worst-case per-query value under
    // %.2g is 7 chars ("9.8e-04" / "-1.0"). Budget 1870 leaves slack for
    // sbt epilogue drift. If this fails, shrink renderLine — do NOT let the
    // driver's parse go back to null (BENCH_r01/r02 both lost their runs).
    val names = SparkEntry.queries.keys.toSeq.sorted
    // worst realistic case: every value renders at max width (7 chars) —
    // renderLine must degrade to the slowest-N subset, never overflow
    for (vals <- Seq(names.map(_ -> 0.28), names.map(_ -> 0.00098),
                     names.map(_ -> -1.0))) {
      val line = Bench.renderLine(vals, 123.4567, "0.1", 10000000L, 0.323, 30925774L,
        1684511L, 32)
      assert(line.length <= 1870, s"bench line ${line.length} chars > 1870 budget")
      assert(line.count(_ == '{') == line.count(_ == '}'))
      assert(line.contains("\"metric\":\"total\"") && line.contains("\"gen_rows_per_sec\""))
    }
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs and is re-run deterministic") {
      val a = Digest.of(fn(spark, sf))
      val b = Digest.of(fn(spark, sf))
      // release per query: 208 x 2 executions otherwise accumulate
      // localCheckpoint blocks in this JVM (same hygiene as
      // Bench.releaseState and the PlanAuditSpec window audit)
      Release.all(spark)
      assert(a == b, s"$name not deterministic across re-runs")
    }
  }
}
