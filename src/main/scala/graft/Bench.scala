package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
object Bench {
  /** The chains the pre-pass warms: every one of [[Registry.chains]]
    * for the full registry, else those the allowlisted queries read. */
  private[graft] def chainsFor(only: Option[Set[String]]) = {
    val reads = only.map(_.flatMap(Registry.byName(_).reads))
    Registry.chains.filter { case (c, _) => reads.forall(_(c)) }
  }

  /** Spark local property naming the work a thread submits: the chain
    * name during the stage build, `query#run` in the timed loop. */
  private[graft] val LabelKey = "graft.bench.label"

  /** Jobs, stages and tasks run under one label. */
  private[graft] final case class Shape(jobs: Long, stages: Long, tasks: Long) {
    def +(o: Shape): Shape =
      Shape(jobs + o.jobs, stages + o.stages, tasks + o.tasks)
    def json: String = s"[$jobs,$stages,$tasks]"
  }

  /** Counts each label's jobs, stages and tasks. Spark copies the
    * submitting thread's local properties into every job and stage it
    * runs for it, so attribution holds under the concurrent chain pool.
    * Events arrive asynchronously: read after the session has stopped,
    * which drains the listener bus. Stages skipped as already computed
    * are never submitted and do not count. */
  private[graft] final class ShapeListener extends SparkListener {
    private val shapes = new java.util.concurrent.ConcurrentHashMap[String, Shape]()
    private def add(props: java.util.Properties, s: Shape): Unit =
      Option(props).flatMap(p => Option(p.getProperty(LabelKey))).foreach {
        shapes.merge(_, s, (a: Shape, b: Shape) => a + b)
      }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add(e.properties, Shape(1, 0, 0))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      add(e.properties, Shape(0, 1, e.stageInfo.numTasks))
    def apply(label: String): Shape = shapes.getOrDefault(label, Shape(0, 0, 0))
  }

  /** Bench-window discipline (r19 What's-wrong #2): the r19 record was
    * measured at load_avg 33 under a co-resident campaign main and
    * read as a phantom 36% regression. A bench that STARTS on a busy
    * host cannot produce a comparable record, so the record carries a
    * contamination verdict the harness computes itself instead of
    * trusting whoever launched it: load_avg at start above this bar →
    * `"contaminated":true` in the record and a loud stderr banner.
    * Idle rounds start at ~0-3 (the JVM's own warmup); 6 is 2x the
    * highest clean round on record. */
  private val CleanLoadBar = 6.0

  def main(args: Array[String]): Unit = {
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val contaminated = loadStart > CleanLoadBar
    // getSystemLoadAverage returns -1.0 on platforms without load
    // support; that is an UNVERIFIABLE verdict, not a clean one
    // (r20 advice) — the JSON then says "unknown" instead of false.
    val contaminatedJson =
      if (loadStart < 0) "\"unknown\"" else contaminated.toString
    if (contaminated)
      System.err.println(f"bench: WARNING load_avg $loadStart%.2f > " +
        f"$CleanLoadBar%.1f at start — record marked contaminated; " +
        "stop campaign mains before benching")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // FAIR job scheduling, for the stage-build pre-pass only: the
    // chains submit jobs from several threads, and under FIFO one wide
    // stage fills every slot, serializing the chains end-to-end
    // (measured: concurrency bought almost nothing). FAIR round-robins
    // runnable tasks across the concurrent jobs, so the chains
    // genuinely overlap; the timed per-query loop below is
    // single-threaded, where FAIR == FIFO.
    val spark = Local.session(fair = true)
    val sc = spark.sparkContext
    val shapes = new ShapeListener
    sc.addSparkListener(shapes)
    // Untimed warmup: absorbs JVM/codegen/scan warmup so the first timed
    // query isn't polluted (r1's first map entry carried ~4s of warmup).
    try {
      ops.Relational.flagship(spark, sfDir).count()
      Tables.events(spark, sfDir).count()
    } catch { case _: Throwable => () }
    // Optional comma-separated allowlist for isolating queries while
    // profiling (SPARK_GRAFT_ONLY=q_a,q_b). Absent → the full registry.
    // A name not in the registry is a hard error: a typo must not
    // silently print a successful 0.000-second "run of nothing".
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { set =>
      val unknown = set.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in the registry: ${unknown.mkString(", ")}")
    }
    // An allowlist warms only the chains its queries read, so
    // profiling one scan query doesn't pay the whole index build.
    val chains = chainsFor(only)
    // Shared stage-cache builds (gram postings -> pair stats -> edge
    // list; IVF codebook -> assignments -> PQ codebook/codes) run ONCE
    // here, timed as their own line: they are one-time per-session
    // costs amortized over the whole dedup/ANN family (at 100 TB:
    // maintained tables), and charging them to whichever query ran
    // first made per-query times order-dependent. The chains are
    // INDEPENDENT DAGs, so each builds on a pool thread —
    // Spark schedules concurrent jobs from separate threads fine, and
    // StageCache is race-safe (ConcurrencySpec) — wall-clock is
    // max over the chains, not the sum.
    // Per-chain wall times (concurrent, so they overlap — stage_build is
    // the max-ish envelope, NOT the sum): the r8 driver run jumped
    // 12.7 -> 49.8 s with zero visibility into which chain paid it.
    // Each chain reports its own seconds, and its [jobs,stages,tasks]
    // in stage_build_shape, so a future jump is attributable in one
    // read of the bench line.
    val stageDetail = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val tStage0 = System.nanoTime()
    // Chain concurrency is BOUNDED (r21, guide §2.6 "2-3 jobs in flight
    // is plenty"): the old unbounded 10-thread fan-out was measured
    // 2.4-8x SLOWER than a serial build on the r21 host (56.6 s serial
    // vs 137/204/461 s with every chain on its own thread), where concurrent
    // task dispatch burns ~10x more system than user CPU
    // (futex/park syscalls are expensive under that hypervisor). A
    // width-4 pool keeps the fast-host overlap win — the envelope is
    // max(longest chain, sum/width), and the longest chain (ivf)
    // already dominates at width 4 — without the 10-way pileup.
    // Parameterized for other hosts: SPARK_GRAFT_STAGE_THREADS (1 =
    // serial, for isolated per-chain walls).
    val stageThreads = sys.env.get("SPARK_GRAFT_STAGE_THREADS")
      .map(_.toInt).getOrElse(4)
    val stageBuild = if (chains.isEmpty) 0.0 else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.DurationInt
      // Non-daemon pool: shutdown MUST be on the finally path — a failed
      // or timed-out Await otherwise leaves idle non-daemon threads
      // keeping the JVM alive after main returns, and Bench hangs
      // instead of exiting with the warm=false record (r21 advice).
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.max(1, stageThreads))
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(chains) { case (name, warm) => Future {
          sc.setLocalProperty(LabelKey, name)
          val t0 = System.nanoTime()
          warm(spark, sfDir)
          stageDetail.put(name, (System.nanoTime() - t0) / 1e9)
        } }, 30.minutes)
        (System.nanoTime() - tStage0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"bench: stage build failed: ${e.getMessage}"); -1.0
      } finally pool.shutdown()
    }
    // warm=false flags that the stage build FAILED: the per-query times
    // below then include whichever query first rebuilt the cold stages,
    // so they are not comparable to a warm run's.
    val warm = stageBuild >= 0
    // (name, seconds, ok): a query that throws is recorded as -1 in the
    // per-query map and listed in "errors" — never as a fast success.
    // Each query runs TWICE and reports the faster run ("runs":2 in
    // the JSON): single runs at this data scale carry ±0.5 s of
    // JVM/scheduler noise (measured spread on identical code across
    // invocations), which swamps real per-query deltas; min-of-2
    // measures the query, not the noise. `total` is the sum of the
    // reported (min) times.
    // A query that fails SOME runs but succeeds at least once still
    // reports its min time, but is listed in "flaky" so a transient
    // failure is never silently laundered into a clean success; a
    // query with NO successful run stays -1 in "errors" as before.
    // Each run is labelled `query#run`, so query_shape can give the min
    // run's [jobs,stages,tasks].
    val Runs = 2
    final case class QRun(sec: Double, label: String)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val attempts = (1 to Runs).map { run =>
        val label = s"$name#$run"
        sc.setLocalProperty(LabelKey, label)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(QRun((System.nanoTime() - t0) / 1e9, label))
        }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name failed: ${e.getMessage}"); None }
      }
      val times = attempts.flatten
      (name, times.minByOption(_.sec),
        times.length < attempts.length && times.nonEmpty)
    }
    val qs = results.map { case (k, v, _) =>
      "\"" + k + "\":" + v.fold("-1")(r => f"${r.sec}%.3f") }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val flaky = results.collect { case (k, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.flatMap(_._2).map(_.sec).sum
    val stageJson = {
      import scala.jdk.CollectionConverters._
      stageDetail.asScala.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
    }
    // cpus = the session's resolved core count (local[$SPARK_GRAFT_CPUS])
    // so a c8 record is self-identifying without the caller's wrapper.
    val cpus = sc.defaultParallelism
    // Stopping drains the listener bus, so every shape below is final.
    spark.stop()
    val stageShape = chains.collect {
      case (k, _) if stageDetail.containsKey(k) => "\"" + k + "\":" + shapes(k).json }
      .mkString("{", ",", "}")
    // [jobs, stages, tasks] of the min run — file copy only.
    val qshape = results.collect { case (k, Some(v), _) =>
      "\"" + k + "\":" + shapes(v.label).json }
      .mkString("{", ",", "}")
    val nErr = results.count(_._2.isEmpty)
    // One record line on stdout, printed after spark.stop() so no late
    // Spark chatter follows it; build.sbt forks the run with raw stdout.
    // target/bench.json holds the same record plus query_shape.
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"stage_build":$stageBuild%.3f,"stage_build_detail":$stageJson,"stage_build_shape":$stageShape,"warm":$warm,"runs":$Runs,"load_avg_start":$loadStart%.2f,"contaminated":$contaminatedJson,"n_queries":${results.length},"n_errors":$nErr,"errors":$errs,"flaky":$flaky,"sf":"$sfDir""""
    val out = java.nio.file.Paths.get("target/bench.json")
    try {
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out,
        s"""{$head,"query_shape":$qshape,"queries":$qs}""" + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"bench: could not write $out: ${e.getMessage}") }
    println(s"""{$head,"queries":$qs}""")
  }
}
