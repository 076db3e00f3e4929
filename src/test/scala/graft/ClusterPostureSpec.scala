package graft

import java.io.File
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Multi-JVM executor posture — every other gate in the repo runs
  * `local[N]`: one JVM, in-process "executors", no process boundary. A
  * 1000-executor cluster adds three things local mode cannot exhibit at
  * all:
  *
  *  - **Speculative execution.** `spark.speculation` is hard-disabled by
  *    the scheduler under local masters, so no local gate can ever see a
  *    speculative duplicate attempt racing its original — the cluster
  *    default posture for straggler mitigation (and the other half of
  *    the SPARK-23207 determinism story TaskRetrySpec covers for
  *    retries).
  *  - **The output-commit race.** Two attempts of the same write task
  *    running CONCURRENTLY (speculation) is exactly what
  *    OutputCommitCoordinator exists for; in local mode it is never
  *    exercised.
  *  - **Real executor death.** Process gone, shuffle outputs gone,
  *    worker relaunches a replacement — the spot-preemption story,
  *    end to end, not a simulated exception.
  *
  * This suite runs a real standalone master + 2 workers in-process
  * (TwoHostCluster), each launching a REAL executor JVM (child
  * process). The workers bind to DISTINCT loopback addresses
  * (127.0.0.1 / 127.0.0.2) because the scheduler refuses to place a
  * speculative attempt on a host already running an attempt of the
  * same task — under stock `local-cluster` (one hostname) speculation
  * can never launch, so this suite builds the two-host variant
  * instead. Executors inherit the test JVM's classpath via Spark's own
  * testing hook (`spark.testing` ⇒ java.class.path is passed through
  * to the executor command — the same mechanism Spark's internal
  * suites use; `spark.test.home` points the worker's SPARK_HOME at the
  * real /opt/spark release layout so the launcher's command builder
  * finds a jars/ dir, and SPARK_SCALA_VERSION is forwarded via
  * executorEnv because only bin/load-spark-env.sh normally exports it
  * and the in-process worker bypasses that shell wrapper). JDK-17
  * --add-opens are forwarded explicitly because the
  * worker launches executors with a bare `java`, not spark-class.
  * `spark.locality.wait=0` because local-file split locality
  * ("localhost") never matches the loopback executor hosts.
  *
  * Representative inventory queries (one per heavy operator family) are
  * [[Digest]]-compared against a vanilla local[4] truth pass: same
  * plans, now with cross-process shuffle fetches, executor-side parquet
  * commits, and broadcast over RPC.
  */
class ClusterPostureSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.001"

  // One per operator family that stresses a distinct cluster mechanism:
  // shuffle joins, LSH self-join, window state, salted agg, broadcast
  // dims, bucket-prefix ordinals, sketch aggs, iterative checkpointed
  // graph, a real file sink (executor-side FileOutputCommitter), and
  // the composed pipeline.
  private val representative = Seq(
    "q_sql_q3", "q_dedup_minhash", "q_win_session", "q_agg_salted",
    "q_text_tfidf", "q_shuffle_epoch", "q_agg_cms", "q_stats_corr",
    "q_graph_pagerank", "q_sink_rangeparts", "q_pipeline_e2e",
    "q_agg_collect")

  private def digest(s: SparkSession, name: String): Digest =
    Digest.of(SparkEntry.queries(name)(s, sf))

  private lazy val truth: Map[String, Digest] = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val vanilla = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val fps = representative.map(n => n -> digest(vanilla, n)).toMap
    vanilla.stop()
    fps
  }

  private val speculativeTasks = new AtomicInteger()
  private val executorsRemoved = new AtomicInteger()
  private val executorsAdded = new AtomicInteger()
  private val lastJobEndNs = new AtomicLong()
  private val lastExecRemovedNs = new AtomicLong()
  private val fetchFailedTasks = new AtomicInteger()
  private val resubmittedStages = new AtomicInteger()
  private val liveExecutorIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val tasksByExecutor =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  private lazy val spark: SparkSession = {
    truth // run + stop the vanilla session first
    val scratch = new File("target/spark-test-home").getAbsoluteFile
    scratch.mkdirs()
    sys.props("spark.testing") = "true"
    sys.props("spark.test.home") = "/opt/spark"
    val masterUrl = org.apache.spark.deploy.graft.TwoHostCluster.start(
      new org.apache.spark.SparkConf(true), coresPerWorker = 2,
      memPerWorkerMb = 1024, workDirRoot = scratch.getPath)
    val s = SparkSession.builder()
      .master(masterUrl)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.locality.wait", "0")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.executorEnv.SPARK_SCALA_VERSION", "2.13")
      .config("spark.speculation", "true")
      .config("spark.speculation.interval", "50ms")
      .config("spark.speculation.multiplier", "1.5")
      .config("spark.speculation.quantile", "0.4")
      // graceful-decommission posture (inert until triggered): the
      // executor migrates shuffle + cached blocks to peers, then exits
      .config("spark.decommission.enabled", "true")
      .config("spark.storage.decommission.enabled", "true")
      .config("spark.storage.decommission.shuffleBlocks.enabled", "true")
      .config("spark.storage.decommission.rddBlocks.enabled", "true")
      // default 30s — the executor only notices "all blocks migrated"
      // on this cadence, which is also what gates its self-exit
      .config("spark.storage.decommission.replicationReattemptInterval", "500ms")
      .getOrCreate()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (t.taskInfo.speculative) speculativeTasks.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        t.reason match {
          case _: org.apache.spark.FetchFailed => fetchFailedTasks.incrementAndGet()
          case org.apache.spark.Success =>
            tasksByExecutor
              .computeIfAbsent(t.taskInfo.executorId, _ => new AtomicInteger())
              .incrementAndGet()
          case _ =>
        }
      }
      override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit =
        if (st.stageInfo.attemptNumber() > 0) resubmittedStages.incrementAndGet()
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = {
        liveExecutorIds.add(e.executorId)
        executorsAdded.incrementAndGet()
      }
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        liveExecutorIds.remove(e.executorId)
        lastExecRemovedNs.set(System.nanoTime())
        executorsRemoved.incrementAndGet()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        lastJobEndNs.set(System.nanoTime())
    })
    waitUntil(executorsAdded.get() >= 2, 120.seconds,
      "two executors never registered with the driver")
    s
  }

  /** Drain the async listener bus so listener-fed counters/timestamps
    * are complete up to everything posted before the last action
    * returned — asserting on them immediately after Await.result races
    * the bus (spurious failure on a healthy run).
    */
  private def drainBus(): Unit =
    org.apache.spark.sql.graft.ListenerBridge.drain(spark.sparkContext)

  private def waitUntil(cond: => Boolean, timeout: Duration, msg: String): Unit = {
    val deadline = System.nanoTime() + timeout.toNanos
    while (!cond) {
      if (System.nanoTime() > deadline) fail(msg)
      Thread.sleep(100)
    }
  }

  private def executorPids(): Seq[Long] = {
    import spark.implicits._
    spark.range(0, 8, 1, 8)
      .mapPartitions(_ => Iterator(ProcessHandle.current().pid()))
      .collect().distinct.toSeq.sorted
  }

  override def afterAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    org.apache.spark.deploy.graft.TwoHostCluster.stop()
    sys.props -= "spark.testing"
    sys.props -= "spark.test.home"
  }

  test("the cluster is real: two executor JVMs, neither is the driver") {
    // Registration alone does not guarantee PLACEMENT: with
    // locality.wait=0 on a stalled host, one executor can swallow all
    // 8 probe tasks before the other's task threads spin up (seen once
    // in round 20's elevated ambient window — the first probe job took
    // 9.1 s and every task landed on one pid, cascading into the rest
    // of the fork). The gate's claim is that BOTH executor JVMs run
    // tasks and the driver runs none — retrying the probe until
    // placement catches up asserts exactly that, bounded.
    var pids: Seq[Long] = Nil
    waitUntil({ pids = executorPids(); pids.size == 2 }, 120.seconds,
      s"tasks never spread over 2 executor JVMs, last probe: $pids")
    val driverPid = ProcessHandle.current().pid()
    assert(!pids.contains(driverPid),
      s"tasks ran inside the driver JVM ($driverPid) — this is not a cluster")
  }

  for (name <- representative) {
    test(s"$name is bit-identical across the process boundary") {
      assert(truth(name) == digest(spark, name),
        s"$name diverged between local[4] and local-cluster")
      Release.all(spark)
    }
  }

  test("speculative duplicate attempts are result-safe through a shuffle") {
    import spark.implicits._
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("value")).as[Long].repartition(8)
    val expected = base.groupBy(($"value" % 10).as("k"))
      .agg(sum("value").as("s"), count(lit(1)).as("c"))
      .collect().map(_.toString).sorted.toSeq
    val before = speculativeTasks.get()
    // First attempt of map partition 0 stalls 6 s; its speculative copy
    // (attemptNumber 1) does not — the copy wins, the original is
    // killed mid-write, and the reduce stage must consume exactly one
    // of the two map outputs.
    val slowed = base.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0) Thread.sleep(6000)
      it
    }
    val got = slowed.groupBy(($"value" % 10).as("k"))
      .agg(sum("value").as("s"), count(lit(1)).as("c"))
      .collect().map(_.toString).sorted.toSeq
    assert(got == expected, "result changed under a speculative map attempt")
    drainBus()
    assert(speculativeTasks.get() > before,
      "no speculative task ever launched — the straggler was not speculated")
  }

  test("the output-commit race: a speculated write task commits exactly once") {
    import spark.implicits._
    val out = s"target/spark-test-home/commit-race-${System.nanoTime()}"
    val base = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").cast("long").as("value")).as[Long].repartition(8)
    val expectedCount = base.count()
    val expectedSum = base.agg(sum("value")).head().getLong(0)
    val before = speculativeTasks.get()
    base.mapPartitions { it =>
      val tc = TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0) Thread.sleep(6000)
      it
    }.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out).as[Long]
    assert(back.count() == expectedCount,
      "row count changed after a speculated write — an attempt double-committed or leaked")
    assert(back.agg(sum("value")).head().getLong(0) == expectedSum)
    drainBus()
    assert(speculativeTasks.get() > before,
      "no speculative write task ever launched — the commit race was not exercised")
  }

  test("executor death mid-job: lost shuffle outputs recompute, result unchanged, worker relaunches") {
    import spark.implicits._
    val pidsBefore = executorPids()
    val expected = spark.range(0, 200000, 1, 8)
      .select((col("id") % 997).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
      .as[(Long, Long, Long)]
      .collect().map(_.toString).sorted.toSeq
    // Same job with each reduce task stalled 1500 ms so the kill lands
    // mid-flight: stage 1's map outputs live on both executors when one
    // dies, so surviving reducers hit FetchFailed -> map stage partial
    // resubmit -> rerun, plus plain task reschedule for the dead
    // executor's own running tasks.
    val job = Future {
      spark.range(0, 200000, 1, 8)
        .select((col("id") % 997).as("k"), col("id").as("v"))
        .groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("c"))
        .as[(Long, Long, Long)]
        .mapPartitions { it => Thread.sleep(1500); it }
        .collect().map(_.toString).sorted.toSeq
    }
    Thread.sleep(800)
    val removedBefore = executorsRemoved.get()
    val victim = ProcessHandle.of(pidsBefore.head)
    assert(victim.isPresent, s"executor pid ${pidsBefore.head} already gone")
    val killNs = System.nanoTime()
    victim.get().destroyForcibly()
    val got = Await.result(job, 180.seconds)
    assert(got == expected, "result changed after an executor was killed mid-job")
    drainBus()
    assert(lastJobEndNs.get() > killNs,
      "the job finished before the kill landed — executor loss was not mid-job")
    waitUntil(executorsRemoved.get() > removedBefore, 60.seconds,
      "the killed executor was never reported removed")
    // Standalone workers relaunch dead executors: a NEW executor JVM
    // must join (new pid), restoring 2-executor capacity.
    waitUntil({
      val now = executorPids()
      now.size == 2 && !now.contains(pidsBefore.head)
    }, 120.seconds, "a replacement executor never registered")
  }

  test("graceful decommission: shuffle blocks migrate, zero recompute, the executor exits on its own") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    waitUntil(executorPids().size == 2 && liveExecutorIds.size == 2,
      120.seconds, "capacity not restored before the decommission test")
    val expected = spark.range(0, 100000, 1, 97)
      .select((col("id") % 991).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("s"))
      .as[(Long, Long)].collect().map(_.toString).sorted.toSeq
    val fetchBefore = fetchFailedTasks.get()
    val resubBefore = resubmittedStages.get()
    val tasksAtStart = liveExecutorIds.asScala.toSeq
      .map(id => id -> tasksByExecutor.getOrDefault(id, new AtomicInteger()).get())
      .toMap
    // The kill test above proves the RECOMPUTE path (preemption without
    // notice). This is the WITH-notice path: mid-MAP-stage, one executor
    // is told to decommission — it finishes in-flight tasks, MIGRATES
    // its completed map outputs to the peer, and exits by itself while
    // the survivor still has seconds of map work left. Every reduce
    // task therefore launches AFTER the victim is gone and must consume
    // its map outputs from the migrated copies: a non-migrated block
    // would surface as FetchFailed -> map-stage resubmission, which the
    // zero-recompute asserts rule out. (Decommissioning mid-REDUCE is
    // racy by construction — a reducer that resolved block locations
    // before the exit legitimately retries its fetch — so the
    // deterministic window is the map stage.)
    val job = Future {
      spark.range(0, 100000, 1, 97).as[Long]
        .mapPartitions { it => Thread.sleep(200); it }
        .map(id => (id % 991, id))
        .toDF("k", "v")
        .groupBy("k").agg(sum("v").as("s"))
        .as[(Long, Long)]
        .collect().map(_.toString).sorted.toSeq
    }
    Thread.sleep(700)
    val victim = liveExecutorIds.asScala.headOption
      .getOrElse(fail("no live executor id recorded"))
    val decomNs = System.nanoTime()
    assert(org.apache.spark.deploy.graft.TwoHostCluster
      .decommissionExecutor(spark.sparkContext, victim),
      s"the scheduler refused to decommission executor $victim")
    val got = Await.result(job, 180.seconds)
    assert(got == expected, "result changed across a graceful decommission")
    drainBus()
    assert(fetchFailedTasks.get() == fetchBefore,
      "a shuffle fetch failed — blocks were lost instead of migrated")
    assert(resubmittedStages.get() == resubBefore,
      "a stage was resubmitted — the decommission recomputed instead of migrating")
    // The strong form: the victim must have EXITED while reduce tasks
    // still had its blocks left to consume — otherwise the "migrated
    // copies were actually read" window never opened and the test is
    // vacuous. Exit takes ~1-2 s (drain + migrate + shutdown poll); the
    // post-signal reduce tail runs several seconds, so a healthy
    // migration always lands inside the job.
    assert(!liveExecutorIds.contains(victim),
      s"executor $victim was still alive when the job finished — migrated blocks were never needed")
    val removedNs = lastExecRemovedNs.get()
    assert(removedNs > decomNs && removedNs < lastJobEndNs.get(),
      "the decommissioned executor did not exit mid-job")
    // Non-vacuousness: the victim must have COMPLETED map tasks of this
    // job before exiting — those outputs only exist as migrated copies,
    // so the (green) reduce stage provably read them.
    val victimRan = tasksByExecutor
      .getOrDefault(victim, new AtomicInteger()).get() - tasksAtStart(victim)
    assert(victimRan >= 1,
      s"executor $victim completed no map tasks before exiting — nothing was migrated")
  }
}
