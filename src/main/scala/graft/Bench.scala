package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
object Bench {
  /** The stage-cache chains, longest first so the pool's tail is short
    * ones. Every public `warm*` entry point of `graft.ops` is here once
    * (BenchSpec pins that). */
  private[graft] val Chains: Seq[(String, (SparkSession, String) => Unit)] = {
    import ops._
    Seq(
      "kmeans" -> Clustering.warmKmeansStages _,
      "ivf" -> Sketches.warmIvfStage _,
      "pq" -> Sketches.warmPqStage _,
      "minhash_sigs" -> Sketches.warmMinhashStage _,
      "text_postings" -> TextSim.warmStages _,
      "simhash_sigs" -> Sketches.warmSimhashStage _,
      "minhash_capped" -> Sketches.warmMinhashCappedStage _,
      "dedup_lsh_sigs" -> Sketches.warmDedupLshStage _,
      "lsh_sigs" -> Sketches.warmLshSigStage _,
      "bigrams" -> TextSim.warmBigramStage _,
      "docgrams" -> TextSim.warmDocGramStage _,
      "graph" -> Graph.warmGraphStages _,
      "text_stats" -> TextSim.warmTextStatStages _,
      "learn" -> Learn.warmLearnStages _,
      "mask" -> TextSim.warmMaskStage _)
  }

  /** Does query `n` read a stage some chain of [[Chains]] builds?
    * Conservative: a prefix family warms for every member, even one
    * that needs none of the stages. BenchSpec pins it against the
    * stage-dir column of perfbench/expected/sf0.01.tsv. */
  private[graft] def readsStages(n: String): Boolean =
    Seq("q_dedup_", "q_sim_ann_", "q_graph_", "q_embed_", "q_quality_")
      .exists(n.startsWith) || StageReaders(n)

  private val StageReaders = Set(
    "q_curate", "q_source_overlap",
    "q_text_tfidf", "q_text_bm25", "q_sim_hybrid_rrf", "q_text_unigram_nll",
    "q_text_ppl_bucket", "q_text_topterms_sketch", "q_text_bigram_nll",
    "q_text_pmi", "q_text_keyphrase", "q_text_boilerplate",
    "q_text_decontaminate", "q_text_decontam_bloom",
    "q_mix_split_dedup", "q_mix_split_neardup", "q_mix_decontam_split",
    "q_mix_weights", "q_mix_temperature", "q_mix_epochs")

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

  // Co-residency sentinel (r8 postmortem: a same-host neighbor inflated
  // every query ~2.4x with zero signal in the JSON). A FIXED single-
  // threaded unit of arithmetic whose wall time on an idle core is a
  // stable per-host constant; under CPU contention the same unit takes
  // proportionally longer. Measured once before the Spark session comes
  // up and once after it stops, so the driver can mechanically discount
  // a contaminated run (spin times well above the host's idle baseline)
  // instead of reading per-query regressions as code changes.
  @volatile private var spinSink = 0L
  private def spin(iters: Int): Double = {
    val t0 = System.nanoTime()
    var acc = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < iters) {
      acc = acc * 6364136223846793005L + 1442695040888963407L
      acc ^= acc >>> 33
      i += 1
    }
    spinSink = acc // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }
  private def spinCal(): Double = spin(1 << 26)
  /** Cumulative stop-the-world GC milliseconds of this JVM. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Bench-window discipline (r19 What's-wrong #2): the r19 record was
    * measured at load_avg 33 under a co-resident campaign main and
    * read as a phantom 36% regression. A bench that STARTS on a busy
    * host cannot produce a comparable record, so the record carries a
    * contamination verdict the harness computes itself instead of
    * trusting whoever launched it: load_avg at start above this bar →
    * `"contaminated":true` in both JSON lines and a loud stderr
    * banner. Idle rounds start at ~0-3 (the JVM's own warmup); 6 is
    * 2x the highest clean round on record. */
  private val CleanLoadBar = 6.0

  def main(args: Array[String]): Unit = {
    val spinStart = spinCal()
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
    // An allowlist touching no stage reader skips the warm-up entirely
    // so profiling one scan query doesn't pay the whole index build.
    val needsStages = only.forall(_.exists(readsStages))
    // Shared stage-cache builds (gram postings -> pair stats -> edge
    // list; IVF codebook -> assignments -> PQ codebook/codes) run ONCE
    // here, timed as their own line: they are one-time per-session
    // costs amortized over the whole dedup/ANN family (at 100 TB:
    // maintained tables), and charging them to whichever query ran
    // first made per-query times order-dependent. The six artifact
    // chains (text postings, charset attrs, IVF, PQ, LSH sigs, SimHash
    // sigs) are INDEPENDENT DAGs, so each builds on its own thread —
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
    val stageBuild = if (!needsStages) 0.0 else {
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
        Await.result(Future.traverse(Chains) { case (name, warm) => Future {
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
    // Per-query noise evidence (r10 verdict: three untouched queries
    // drifted with zero attribution signal). Alongside the min time,
    // each query records: the SPREAD across its runs (max-min; a large
    // spread on identical code = scheduler/JIT noise, not a plan
    // change), the stop-the-world GC milliseconds its min run paid
    // (allocation-pressure drift shows up here, the r9 entropy/
    // fingerprint mechanism), and a ~15 ms single-thread spin probe
    // timed immediately before each run (the co-residency sentinel at
    // query granularity — contention arriving mid-run is visible at
    // the query it hit, not just at the end of the session).
    // Each run is labelled `query#run`, so query_shape can give the min
    // run's [jobs,stages,tasks].
    val ProbeIters = 1 << 23
    val Runs = 2
    final case class QRun(sec: Double, gcMs: Long, probeS: Double, label: String)
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      val attempts = (1 to Runs).map { run =>
        val label = s"$name#$run"
        sc.setLocalProperty(LabelKey, label)
        val probe = spin(ProbeIters)
        val gc0 = gcMs()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          Some(QRun((System.nanoTime() - t0) / 1e9, gcMs() - gc0, probe, label))
        }
        catch { case e: Throwable =>
          System.err.println(s"bench: $name failed: ${e.getMessage}"); None }
      }
      val times = attempts.flatten
      val best = if (times.nonEmpty) times.minBy(_.sec)
        else QRun(-1.0, 0L, -1.0, "")
      val spread =
        if (times.size >= 2) times.map(_.sec).max - times.map(_.sec).min
        else 0.0
      (name, best, spread, times.nonEmpty,
        times.length < attempts.length && times.nonEmpty)
    }
    // 3-dp times keep the one-line JSON short enough that a fixed-size
    // tail capture of stdout cannot truncate the leading per-query data.
    val qs = results.map { case (k, v, _, ok, _) =>
      "\"" + k + "\":" + (if (ok) f"${v.sec}%.3f" else "-1") }
      .mkString("{", ",", "}")
    // Noise detail per query: [spread_s, gc_ms, probe_s] for the min
    // run — lives only in the (file-persisted) full line.
    val qnoise = results.collect { case (k, v, spread, true, _) =>
      "\"" + k + f"""\":[$spread%.3f,${v.gcMs},${v.probeS}%.3f]""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, false, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val flaky = results.collect { case (k, _, _, _, true) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, true, _) => v.sec }.sum
    val gcTotal = results.collect { case (_, v, _, true, _) => v.gcMs }.sum
    val probeMax = (0.0 +: results.collect {
      case (_, v, _, true, _) => v.probeS }).max
    val stageJson = {
      import scala.jdk.CollectionConverters._
      stageDetail.asScala.toSeq.sortBy(-_._2)
        .map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
        .mkString("{", ",", "}")
    }
    // End-of-run sentinel: measured while the (now idle) session still
    // holds its JVM, then the system load average for context. A
    // spin_end well above spin_start means contention ARRIVED mid-run.
    val spinEnd = spinCal()
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // cpus = the session's resolved core count (local[$SPARK_GRAFT_CPUS])
    // so a c8 record is self-identifying without the caller's wrapper.
    val cpus = sc.defaultParallelism
    // Stopping drains the listener bus, so every shape below is final.
    spark.stop()
    val stageShape = Chains.collect {
      case (k, _) if stageDetail.containsKey(k) => "\"" + k + "\":" + shapes(k).json }
      .mkString("{", ",", "}")
    // [jobs, stages, tasks] of the min run — file copies only, like
    // query_noise.
    val qshape = results.collect { case (k, v, _, true, _) =>
      "\"" + k + "\":" + shapes(v.label).json }
      .mkString("{", ",", "}")
    val sentinel =
      f""""spin_cal":{"start_s":$spinStart%.3f,"end_s":$spinEnd%.3f},""" +
        f""""load_avg":$loadAvg%.2f,"load_avg_start":$loadStart%.2f,""" +
        s""""contaminated":$contaminatedJson"""
    val nErr = results.count(!_._4)
    // Record layout (r21 verdict #1 — the driver parsed NEITHER round's
    // bench record; BENCH_r01..r21 all show parsed:null):
    //  * headline fields FIRST, per-query map LAST, so a fixed-size tail
    //    capture that cuts the line keeps per-query times (recoverable
    //    by regex) instead of the noise triples;
    //  * the per-run noise and shape maps live ONLY in the file copies —
    //    bench/bench_full.json is the canonical full artifact, named by
    //    the "bench_full" pointer field in every record;
    //  * the SAME full record prints as both the FIRST and the LAST
    //    stdout line, so a line-oriented parser keeping either the first
    //    or the last parseable JSON line gets the complete record. The
    //    lines themselves are parseable at all only because build.sbt
    //    now forks the run with OutputStrategy.StdoutOutput (no sbt
    //    "[info] " prefix) and showSuccess:=false (no trailing
    //    "[success] Total time" line after the record).
    val head = f""""metric":"total","value":$total%.3f,"unit":"sec","cpus":$cpus,"stage_build":$stageBuild%.3f,"stage_build_detail":$stageJson,"stage_build_shape":$stageShape,"warm":$warm,"runs":$Runs,$sentinel,"gc_total_ms":$gcTotal,"probe_max_s":$probeMax%.3f,"n_queries":${results.length},"n_errors":$nErr,"errors":$errs,"flaky":$flaky,"sf":"$sfDir","bench_full":"bench/bench_full.json""""
    val jsonStdout = s"""{$head,"queries":$qs}"""
    val json = s"""{$head,"query_noise":$qnoise,"query_shape":$qshape,"queries":$qs}"""
    println(jsonStdout)
    // Also persist to files: a fixed-size tail capture of stdout
    // truncated BENCH_r05 mid-line and lost the headline totals — the
    // file copy makes the stdout capture redundant. Two copies: the
    // scratch one under target/, and a TRACKED one under bench/ so the
    // end-of-round snapshot commit carries every per-query time (the
    // driver's BENCH_rN.json keeps only a 2,000-char stdout tail, which
    // left ~2/3 of per-query times unauditable round-over-round).
    // (partial SPARK_GRAFT_ONLY profiling runs and full runs at a
    // NON-DEFAULT tier — e.g. an sf0.001 smoke — must not clobber the
    // tracked sf0.1 full-registry record). The tier compare normalizes
    // both sides (r14 advice): a trailing slash / relative spelling /
    // symlink of the default tier still refreshes the tracked record.
    def realOrNorm(p: String): String = {
      val path = java.nio.file.Paths.get(p)
      try path.toRealPath().toString
      catch { case _: java.io.IOException =>
        path.toAbsolutePath.normalize.toString }
    }
    val outs =
      if (only.isEmpty && realOrNorm(sfDir) == realOrNorm("/root/testdata/sf0.1"))
        Seq("target/bench.json", "bench/bench_full.json")
      else Seq("target/bench.json")
    System.err.println(s"bench: writing ${outs.mkString(", ")}")
    outs.foreach { p =>
      try {
        val out = java.nio.file.Paths.get(p)
        java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.writeString(out, json + "\n")
      } catch { case e: Throwable =>
        System.err.println(s"bench: could not write $p: ${e.getMessage}") }
    }
    // Final stdout line == the full record (see layout comment above).
    // Both lines print after spark.stop(), so no late Spark/log4j stdout
    // chatter can land between them and process exit.
    println(jsonStdout)
  }
}
