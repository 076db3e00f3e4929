package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.gen.SqloadGen

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  * Arguments are `key=value` pairs. It prints `PB READY` once the session
  * is ready (the launcher times set-up to that line) and `PB RESULT
  * <json>` at the end; with `mode=setup` it stops right after `PB READY`,
  * and with `mode=record` it prints `PB RECORD <json>` with each
  * operation's digest instead of timing anything.
  */
object Main {
  val Warehouse: Seq[String] = Seq("q_sql_q3", "q_source_bucketed")
  /** The reference tool's published run: the flagship 7-column spec. */
  val BulkSpec = "key,bigint,int(11),varchar(50),double,date,bigint(20)"

  /** Warm-up: untimed passes until the median of the last three is within
    * `Steady` of the median of the three before them, at least `WarmupMin`
    * and at most `WarmupMax` passes (one with `smoke=1`), and at most
    * `WarmupS` seconds. Medians of three keep one noisy pass from passing
    * for a steady state; the cap counts passes, not seconds, so a slow
    * host still measures at the same point of the JIT's warm-up.
    */
  val WarmupMin = 6
  val WarmupMax = 8
  val WarmupS = 45.0
  val Steady = 0.10

  final case class OpRes(name: String, ok: Boolean, secs: Double, build: Double, rows: Long, digest: String)
  /** One pass: its wall and process CPU time, its operations, and the
    * untraced noop runs (`probes`) a traced bulk-load pass is split by.
    */
  final case class PassRes(wall: Double, cpu: Double, ops: Seq[OpRes], probes: Seq[OpRes] = Nil)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val cores = a("cores").toInt
    val scratch = a("scratch")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.TopKRewriteRule.register(spark)
    println("PB READY")
    try a("mode") match {
      case "setup" =>
      case "record" => println("PB RECORD " + json(new Run(spark, a).record()))
      case "run" => println("PB RESULT " + json(new Run(spark, a).run()))
    } finally spark.stop()
  }

  /** Minimal JSON for flat maps of numbers, strings and nested maps. */
  def json(v: Any): String = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

final class Run(spark: SparkSession, a: Map[String, String]) {
  import Main._

  private val sc = spark.sparkContext
  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val cores = a("cores").toInt
  private val dataDir = a("data")
  private val scratch = new File(a("scratch"))
  private val bulkRows = a("rows").toLong
  private val (warmupMin, warmupMax) = if (a.get("smoke").contains("1")) (1, 1) else (WarmupMin, WarmupMax)
  private val expected: Map[String, String] = a.get("expected").toSeq
    .flatMap(_.split(",").filter(_.nonEmpty)).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
  private val queries = SparkEntry.queries
  private val ops: Seq[String] = workload match {
    case "warehouse" => Warehouse
    case "bulkload" => Seq("bulkload")
  }
  private val rng = new scala.util.Random(seed)
  private val tr = new Tracer(spark)
  private val csvDir = new File(scratch, "bulkload_csv").getAbsolutePath
  private val cpuBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var sinkFiles = 0

  /** Releases what one operation left behind — cached relations and
    * persisted or checkpointed RDDs — so no operation pays for another's.
    */
  private def release(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def timed[T](parent: Long, kind: String, name: String)(body: => T): (T, Double) = {
    val id = tr.begin(kind, name, parent)
    val t0 = System.nanoTime()
    try (body, (System.nanoTime() - t0) / 1e9) finally tr.end(id)
  }

  /** Runs one operation as a user would, checks its output, and never
    * lets a failure escape: a failed operation is a wrong one.
    */
  private def op(parent: Long, name: String)(body: Long => (Double, Long, String)): OpRes = {
    val id = tr.begin("op", name, parent)
    if (id != 0L) sc.setJobGroup(id.toString, name)
    val t0 = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    val res = try {
      val (build, rows, digest) = body(id)
      // a bulk-load write is checked by reading it back, after the pass
      val ok = digest == "noop" || digest == "written" || expected.get(name).contains(digest)
      OpRes(name, ok, (System.nanoTime() - t0) / 1e9, build, rows, digest)
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        OpRes(name, ok = false, (System.nanoTime() - t0) / 1e9, 0.0, 0L, "error")
    } finally {
      if (id != 0L) sc.clearJobGroup()
      tr.end(id)
    }
    if (id != 0L) sinkFiles += filesSince(scratch, t0ms)
    release()
    System.err.println(f"[perfbench]   $name ${res.secs}%.3f s (build ${res.build}%.3f s)")
    if (!res.ok && res.digest != "error" && expected.nonEmpty)
      System.err.println(s"[perfbench] ${res.name}: digest ${res.digest}, expected ${expected.getOrElse(res.name, "none")}")
    res
  }

  /** Data files an operation's sinks wrote since `ms`. */
  private def filesSince(dir: File, ms: Long): Int =
    Option(dir.listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) filesSince(f, ms) else if (f.getName.startsWith("part-") && f.lastModified >= ms) 1 else 0
    }.sum

  private def query(parent: Long, name: String): OpRes = op(parent, name) { id =>
    val (df, build) = timed(id, "build", name)(queries(name)(spark, dataDir))
    val d = Digest.of(df)
    (build, d.rows, d.toString)
  }

  private def bulkTable(): DataFrame = SqloadGen.table(spark, BulkSpec, bulkRows, seed, numPartitions = cores)

  private def lineDigest(lines: DataFrame): Column =
    concat_ws(":", count(lit(1)), sum(xxhash64(col("value")).cast("decimal(38,0)")))

  /** What the generated rows look like as CSV lines: the digest the file
    * read back must equal.
    */
  private lazy val bulkExpected: String = {
    val t = SqloadGen.textParity(bulkTable())
    t.select(concat_ws(",", t.columns.toIndexedSeq.map(c => col(c).cast("string")): _*).as("value"))
      .agg(lineDigest(t)).head().getString(0)
  }

  /** Reads the written CSV back: row count, a gapless `key` column and a
    * digest equal to the generated rows. Runs outside the timed pass.
    */
  private def bulkCheck(r: OpRes): OpRes = if (r.digest == "error") r else {
    val lines = spark.read.text(csvDir)
    val k = substring_index(col("value"), ",", 1).cast("long")
    val s = lines.agg(lineDigest(lines), min(k), max(k), count_distinct(k)).head()
    val gapless = s.getLong(1) == 0L && s.getLong(2) == bulkRows - 1 && s.getLong(3) == bulkRows
    val ok = gapless && s.getString(0) == bulkExpected
    if (!ok) System.err.println(s"[perfbench] bulkload output check failed (gapless=$gapless)")
    r.copy(ok = ok)
  }

  private def bulk(parent: Long): OpRes = op(parent, "bulkload") { id =>
    val (df, build) = timed(id, "build", "bulkload")(bulkTable())
    SqloadGen.writeCsvText(df, csvDir)
    (build, bulkRows, "written")
  }

  /** Times the bulk-load table through a noop sink. A traced bulk-load
    * pass is preceded by two of these, raw and formatted, which split
    * generation from formatting from writing.
    */
  private def noop(name: String)(df: => DataFrame): OpRes = op(0L, name) { _ =>
    df.write.format("noop").mode("overwrite").save()
    (0.0, bulkRows, "noop")
  }

  /** One pass over the workload's operations. A bulk load is read back
    * only when `check` is set: an untimed warm-up pass skips that, though
    * an exception in one still counts as a failure.
    */
  private def pass(traced: Boolean, check: Boolean = true): PassRes = {
    // the noop runs stay outside the pass and out of the trace, so the
    // pass's spans and counters cover the same work as an untraced pass
    val probes = if (!traced || workload != "bulkload") Nil else tr.paused {
      Seq(noop("gen")(bulkTable()), noop("format")(SqloadGen.textParity(bulkTable())))
    }
    val p = tr.begin("pass", workload, 0L)
    val c0 = cpuBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val rs = workload match {
      case "bulkload" => Seq(bulk(p))
      case _ => rng.shuffle(ops).map(query(p, _))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuBean.getProcessCpuTime - c0) / 1e9
    tr.end(p)
    val checked =
      if (check) rs.map(r => if (r.name == "bulkload") bulkCheck(r) else r)
      else rs.filter(r => r.name != "bulkload" || r.digest == "error")
    PassRes(wall, cpu, checked, probes)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def run(): Map[String, Any] = {
    val all = mutable.ArrayBuffer[PassRes]()
    def everyOp = all.toSeq.flatMap(p => p.ops ++ p.probes)
    def go(kind: String, traced: Boolean = false, check: Boolean = true): PassRes = {
      val r = pass(traced, check)
      all += r
      System.err.println(f"[perfbench] $kind pass ${r.wall}%.3f s")
      r
    }
    val cold = go("cold")
    val w0 = System.nanoTime()
    val warm = mutable.ArrayBuffer[Double]()
    def steady = warm.size >= 6 && {
      val (before, last) = warm.takeRight(6).toSeq.splitAt(3)
      math.abs(median(last) - median(before)) / median(before) <= Steady
    }
    while ((warm.size < warmupMin || !steady && warm.size < warmupMax) && (System.nanoTime() - w0) / 1e9 < WarmupS)
      warm += go("warm-up", check = false).wall
    System.err.println(s"[perfbench] warm-up: ${warm.size} passes, ${if (steady) "steady" else "not steady"}")
    val traceOn = a("trace") == "1"
    def measure(secs: Double, traced: Boolean, minPasses: Int): Seq[PassRes] = {
      val m0 = System.nanoTime()
      val ps = mutable.ArrayBuffer[PassRes]()
      while (ps.size < minPasses || (System.nanoTime() - m0) / 1e9 < secs)
        ps += go(if (traced) "traced" else "timed", traced)
      ps.toSeq
    }
    val plain = if (traceOn) measure(seconds / 2, traced = false, 2) else measure(seconds, traced = false, 3)
    val passS = median(plain.map(_.wall))
    if (workload == "bulkload") System.err.println(f"[perfbench] bulkload ${bulkRows / passS}%.0f rows/s")
    val res = mutable.LinkedHashMap[String, Any](
      "cold_pass_s" -> cold.wall, "pass_s" -> passS, "cpu_s" -> median(plain.map(_.cpu)),
      "peak_rss_mb" -> peakRssMb(), "warmup_passes" -> warm.size, "passes" -> plain.size)
    if (traceOn) {
      tr.start()
      val traced = measure(seconds / 2, traced = true, 2)
      val (spans, layer) = tr.finish()
      val n = traced.size.toDouble
      val opsDone = traced.flatMap(_.ops)
      val probes = traced.flatMap(_.probes)
      def mean(rs: Seq[OpRes], name: String): Double = rs.filter(_.name == name).map(_.secs).sum / n
      val m = mutable.LinkedHashMap[String, Any]()
      val raw = Set("tables.rows_read", "sink.rows", "sink.bytes", "sink.write_s")
      layer.foreach { case (k, v) => if (!raw(k)) m(k) = v / n }
      val rowsOut = opsDone.map(_.rows).sum.toDouble
      m("tables.rows_read_per_row_out") = if (rowsOut > 0) layer("tables.rows_read") / rowsOut else 0.0
      // task CPU of the traced passes over the cores the same passes held
      m("exec.cpu_util") = layer("exec.task_cpu_s") / (traced.map(_.wall).sum * cores)
      val gen = mean(probes, "gen")
      m("gen.compute_s") = gen
      m("gen.rows_per_s") = if (gen > 0) bulkRows / gen else 0.0
      // generation, formatting and writing fuse into one codegen stage on
      // the bulk load, so they are split by difference of the noop runs
      m("sink.format_s") = if (workload == "bulkload") mean(probes, "format") - gen else 0.0
      m("sink.write_s") =
        if (workload == "bulkload") mean(opsDone, "bulkload") - mean(probes, "format") else layer("sink.write_s") / n
      m("sink.files") = sinkFiles / n
      m("sink.bytes_per_row") = if (layer("sink.rows") > 0) layer("sink.bytes") / layer("sink.rows") else 0.0
      for (q <- Main.Warehouse :+ "bulkload") m(s"op_s.$q") = mean(opsDone, q)
      m("ops.build_s") = opsDone.map(_.build).sum / n
      m("trace.overhead_s") = median(traced.map(_.wall)) - passS
      m("trace.spans") = spans.size.toDouble
      m("warmup.passes") = warm.size.toDouble
      m("warmup.steady") = if (steady) 1.0 else 0.0
      m("check.failed_frac") = everyOp.count(!_.ok).toDouble / everyOp.size
      res("per_layer") = m
      writeSpans(spans)
    }
    res("attempted") = everyOp.size
    res("failed") = everyOp.count(!_.ok)
    res.toMap
  }

  private def writeSpans(spans: Seq[Span]): Unit = a.get("spans").foreach { path =>
    val w = new java.io.PrintWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.println(json(mutable.LinkedHashMap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
        "name" -> s.name, "start" -> s.start, "end" -> s.end)))
    } finally w.close()
  }

  /** Runs each operation twice, prints the digests, and dumps each result
    * (decimals as doubles, as the DuckDB comparison reads them) for the
    * cross-check against the oracle SQL.
    */
  def record(): Map[String, Any] = {
    val out = a("out")
    val oracle = SparkEntry.oracleSql
    ops.map { name =>
      val d1 = query(0L, name).digest
      val d2 = query(0L, name).digest
      graft.Verify.sanitize(queries(name)(spark, dataDir)).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name")
      release()
      name -> mutable.LinkedHashMap("digest" -> d1, "stable" -> (d1 == d2 && d1 != "error"),
        "oracle" -> oracle.getOrElse(name, ""))
    }.toMap
  }
}
