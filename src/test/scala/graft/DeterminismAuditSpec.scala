package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Turns SCALE.md §"Cross-engine float policy"'s cluster-stability CLAIM
  * into a pinned property, two layers:
  *
  * 1. **Task-retry safety (plan audit).** On a real cluster tasks are
  *    retried and speculated; a nondeterministic expression upstream of a
  *    shuffle is the classic silent-corruption class (a retried map task
  *    re-emits DIFFERENT rows than the fetch that already consumed it —
  *    the SPARK-23207 repartition family). Every analyzed plan in the
  *    inventory (subqueries included) must carry only deterministic
  *    expressions, except a named allowlist whose result-invariance is
  *    proven elsewhere (q_skyline's per-partition pre-sweep: skyline(S) =
  *    skyline(∪ partition skylines), so the partition id feeds a FILTER
  *    whose union is partition-agnostic, and layer 2 measures exactly
  *    that).
  *
  * 2. **Partition-count invariance (measured).** The DuckDB oracle gate
  *    and InventorySpec's re-run check both hold the partitioning FIXED —
  *    neither would catch a result that depends on
  *    spark.sql.shuffle.partitions or on how the scan splits files
  *    (underdetermined tie-breaks, ordinal assignment, order-sensitive
  *    aggregation over non-associative doubles). On a 1000-executor
  *    cluster shuffle.partitions is in the thousands, so result =
  *    f(partition count) IS a wrong-result bug even when every fixed-
  *    partitioning gate is green. Each query's order-insensitive
  *    [[Digest]] must be bit-identical between the suite's default
  *    layout (4 shuffle partitions, packed scans) and an adversarial one
  *    (13 shuffle partitions, scans split at 64 KB) — different shuffle
  *    fan-out, different scan split boundaries, different reduce-side
  *    arrival orders.
  */
class DeterminismAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkEntry.localSession(4)

  private val sf = "/root/testdata/sf0.001"

  /** Expression classes allowed to report !deterministic, per query, each
    * with a result-invariance argument pinned by layer 2. */
  private val allowlist: Map[String, Set[String]] = Map(
    "q_skyline" -> Set("SparkPartitionID")
  )

  test("no query plan carries a nondeterministic expression (task-retry safety)") {
    val offenders = for {
      (name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
      plan = fn(spark, sf).queryExecution.analyzed
      node <- plan.collectWithSubqueries { case p => p }
      e <- node.expressions.flatMap(_.collect {
        case x if !x.deterministic && x.children.forall(_.deterministic) => x
      })
      cls = e.getClass.getSimpleName
      if !allowlist.getOrElse(name, Set.empty).contains(cls)
    } yield s"$name: $cls (${e.prettyName})"
    assert(offenders.isEmpty,
      s"nondeterministic expressions outside the allowlist:\n${offenders.distinct.mkString("\n")}")
  }

  private def withSqlConfs(confs: (String, String)*)(body: => Digest): Digest = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def digest(name: String): Digest =
    Digest.of(SparkEntry.queries(name)(spark, sf))

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$name result is invariant to partition layout and plan family") {
      val a = withSqlConfs(
        "spark.sql.shuffle.partitions" -> "4")(digest(name))
      val b = withSqlConfs(
        "spark.sql.shuffle.partitions" -> "13",
        "spark.sql.files.maxPartitionBytes" -> "65536",
        "spark.sql.files.openCostInBytes" -> "16384")(digest(name))
      // Third axis — a different PHYSICAL PLAN FAMILY: the suite (like
      // Spark 4 defaults) runs everything under AQE, so coalesced
      // shuffle reads and runtime auto-broadcasts are the only world
      // the gates ever saw. AQE off + auto-broadcast off replans every
      // un-hinted join as SortMergeJoin and keeps every tiny shuffle
      // partition — different join-side iteration orders, different
      // reduce grouping — and the results must not care. (Explicit
      // broadcast() hints still broadcast; the threshold only governs
      // the auto decision.)
      val c = withSqlConfs(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(digest(name))
      // same hygiene as InventorySpec: drop cache/localCheckpoint blocks
      // accumulated by the executions before the next query's triple
      Release.all(spark)
      assert(a == b,
        s"$name result depends on partition layout: default=$a adversarial=$b")
      assert(a == c,
        s"$name result depends on the plan family: default=$a noAqeSmj=$c")
    }
  }
}
