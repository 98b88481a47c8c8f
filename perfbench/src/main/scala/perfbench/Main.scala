package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The session benchmark. One closed-loop client thread drives the
  * library through its public functions on one `local[4]` session:
  *
  *  - `adhoc`: every registry query that reads no stage, in seeded order;
  *  - `index`: the 15 stage chains built serially, then every query that
  *    reads a stage, in seeded order;
  *  - `fm`: `Cli.put`, a cold `Cli.runStagesMemoized`, rounds of seeded
  *    partition rewrites each followed by a memoized re-run, and pruned
  *    `Cli.get` calls, over a seeded line-file tree.
  *
  * A query call is construct, plan, then run into the `noop` sink. The
  * last stdout line is the result object; the line before it is the
  * full record. `run.py` builds and launches this; see NOTES.md. */
object Main {

  /** The declared stage chains, in `graft.Bench`'s order. */
  val Chains: Seq[(String, (SparkSession, String) => Unit)] = {
    import graft.ops._
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

  /** A query or `fm` call that has finished (or thrown). */
  final case class Call(id: Int, pass: Int, kind: String, name: String,
      seconds: Double, ok: Boolean)

  /** Expected result of one registry query. */
  final case class Expect(rows: Long, hash: String)

  final class Opts(args: Array[String]) {
    private val m = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = m.get(k)
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val loadStart = Host.loadAvg()
    // Process start: the launcher's spawn time when it passes one, else
    // the JVM's own start time.
    val spawnMs = o.get("spawn-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
        .toDouble)
    val data = o("data")
    val work = Paths.get(o("work"))
    val spark = graft.Local.session("4")
    warmup(spark, data)
    val setupS = (System.currentTimeMillis() - spawnMs) / 1e3
    if (o.get("mode").contains("record")) {
      Record.expected(spark, data, Paths.get(o("expected")))
      spark.stop()
      return
    }
    new Run(spark, o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", data, work, Expected.load(Paths.get(o("expected"))),
      Workloads.load(Paths.get(o("workloads"))), setupS, loadStart,
      o.get("spans"), o.get("fm-lines").map(_.toInt).getOrElse(1500)).go()
  }

  /** Untimed first touches that every workload needs before its first
    * call: JVM class loading, codegen and the first parquet scans. They
    * are part of set-up. */
  def warmup(spark: SparkSession, data: String): Unit = {
    graft.ops.Relational.flagship(spark, data).count()
    graft.Tables.events(spark, data).count()
    ()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Workloads {
  /** `workload<TAB>chain|query<TAB>name` lines; `#` starts a comment.
    * Returns workload -> kind -> names, in file order. */
  def load(p: Path): Map[String, Map[String, Seq[String]]] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split('\t'))
      .toSeq.groupBy(_(0)).map { case (w, rows) =>
        w -> rows.groupBy(_(1)).map { case (k, rs) => k -> rs.map(_(2)) }
      }
}

object Expected {
  import Main.Expect
  /** `query<TAB>class<TAB>rows<TAB>hash<TAB>stage dirs` lines; `#`
    * starts a comment. */
  def load(p: Path): Map[String, Expect] =
    new String(Files.readAllBytes(p), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, _, r, h, _) = l.split('\t')
        n -> Expect(r.toLong, h)
      }.toMap
}

/** One timed run of one workload. */
final class Run(spark: SparkSession, workload: String, seed: Long,
    seconds: Double, traced: Boolean, data: String, work: Path,
    expected: Map[String, Main.Expect],
    workloads: Map[String, Map[String, Seq[String]]], setupS: Double,
    loadStart: Double, spansOut: Option[String], fmLines: Int) {
  import Main._

  private val tracer = new Tracer(spark.sparkContext, traced)
  private val calls = mutable.ArrayBuffer.empty[Call]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val guardFailures = mutable.ArrayBuffer.empty[String]
  private val fingerprinted = mutable.LinkedHashMap.empty[String, Fingerprint.Fp]
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val rng = new java.util.Random(seed)
  private var stageBuildS = 0.0
  private val chainSpans = mutable.ArrayBuffer.empty[Span]
  private val inputs = mutable.LinkedHashMap.empty[String, Any]
  // fm bookkeeping
  private val fmRepiped = mutable.ArrayBuffer.empty[Int]
  private val fmChanged = mutable.ArrayBuffer.empty[Int]
  private val fmGetFiles = mutable.ArrayBuffer.empty[(Long, Int)]
  private var fmOutRows = 0L

  private def shuffled[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toBuffer
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private val failedIds = mutable.Set.empty[Int]

  /** Marks operation `id` (a call, a negative chain id, or 0 for the
    * run itself) as failed. */
  private def fail(id: Int, what: String): Unit = {
    System.err.println(s"perfbench: FAILED $what")
    failures += what
    failedIds += id
  }
  private def lastCall: Int = calls.last.id

  /** One timed call: `body` runs as the call span, and its layer
    * spans nest under it. Exceptions count as a failed call. */
  private def timedCall(pass: Int, kind: String, name: String)(
      body: Int => Unit): Boolean = {
    val id = calls.size + 1
    val dirs0 = Host.stageDirs(tmp).toSet
    var ok = true
    val (_, s) = tracer.span("call", id, 0) { sid =>
      try body(sid)
      catch { case e: Throwable =>
        ok = false
        fail(id, s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    calls += Call(id, pass, kind, name, s.seconds, ok)
    val made = Host.stageDirs(tmp).filterNot(dirs0)
    if (made.nonEmpty) guardFailures +=
      s"$name (pass $pass) created ${made.map(_.getFileName).mkString(",")}"
    ok
  }

  private def queryCall(pass: Int, spec: graft.QuerySpec): Unit = {
    var df: DataFrame = null
    val ok = timedCall(pass, "query", spec.name) { sid =>
      val id = calls.size + 1
      df = tracer.span("construct", id, sid)(_ => spec.df(spark, data))._1
      tracer.span("plan", id, sid)(_ => df.queryExecution.executedPlan)
      tracer.span("exec", id, sid) { _ =>
        df.write.format("noop").mode("overwrite").save()
      }
    }
    // Untimed: the first result of each query is fingerprinted and
    // compared against the committed expectation.
    if (ok && !fingerprinted.contains(spec.name)) {
      val fp = tracer.span("fingerprint", lastCall, 0) { _ =>
        try Fingerprint.of(df) catch { case e: Throwable =>
          fail(lastCall, s"${spec.name}: fingerprint: ${e.getMessage}")
          Fingerprint.Fp(-1, "error")
        }
      }._1
      fingerprinted(spec.name) = fp
      if (fp.rows >= 0) expected.get(spec.name) match {
        case Some(e) if e.hash == "-" =>
          if (e.rows != fp.rows)
            fail(lastCall, s"${spec.name}: rows ${fp.rows} != expected ${e.rows}")
        case Some(e) =>
          if (e.rows != fp.rows || e.hash != fp.hash)
            fail(lastCall, s"${spec.name}: fingerprint ${fp.rows}/${fp.hash} != " +
              s"expected ${e.rows}/${e.hash}")
        case None => fail(lastCall, s"${spec.name}: no expected fingerprint")
      }
    }
  }

  /** The queries `workloads.tsv` lists for `w`, failing the run if the
    * registry and the committed expectations disagree on which queries
    * exist. */
  private def queriesOf(w: String): Seq[graft.QuerySpec] = {
    val names = graft.Registry.all.map(_.name).toSet
    (names -- expected.keySet).toSeq.sorted.foreach(n =>
      fail(0, s"$n: in the registry but has no expected fingerprint"))
    (expected.keySet -- names).toSeq.sorted.foreach(n =>
      fail(0, s"$n: expected but not in the registry"))
    workloads(w).getOrElse("query", Nil).map(graft.Registry.byName)
  }

  /** Runs whole passes over `list` until `seconds` of the timed phase
    * have elapsed, starting a pass only if the last one would still
    * fit. Returns the passes. */
  private def passes(t0: Double, list: Seq[graft.QuerySpec]): Int = {
    var pass = 0
    var last = 0.0
    def elapsed = (tracer.nowMs() - t0) / 1e3
    while (pass == 0 || elapsed + last <= seconds) {
      pass += 1
      val p0 = tracer.nowMs()
      list.foreach(queryCall(pass, _))
      last = (tracer.nowMs() - p0) / 1e3
    }
    pass
  }

  private def adhoc(): Int = {
    val list = shuffled(queriesOf("adhoc"))
    inputs("queries") = list.size
    passes(tracer.nowMs(), list)
  }

  private def index(): Int = {
    val list = shuffled(queriesOf("index"))
    inputs("queries") = list.size
    val t0 = tracer.nowMs()
    val chains = workloads("index").getOrElse("chain", Nil).toSet
    inputs("chains") = chains.size
    Chains.zipWithIndex.filter(c => chains(c._1._1)).foreach {
      case ((name, build), i) =>
      val id = -(100 + i) // chain spans carry negative call ids
      val (_, s) = tracer.span(s"stage.$name", id, 0) { _ =>
        try build(spark, data)
        catch { case e: Throwable =>
          fail(id, s"stage $name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      chainSpans += s
    }
    stageBuildS = chainSpans.map(_.seconds).sum
    passes(t0, list)
  }

  private def fm(): Int = {
    import org.apache.spark.sql.functions._
    val vocab = graft.Tables.documents(spark, data)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).distinct().collect()
      .map(_.getString(0)).sorted.toIndexedSeq
    val Partitions = 16
    val Buckets = 8
    val Rounds = 6
    val Gets = 4
    val tree = new FmTree(work.resolve("fm/in"), vocab, seed, Partitions,
      filesPerPart = 2, linesPerFile = fmLines)
    tree.writeAll()
    inputs("vocabulary") = vocab.size
    inputs("fm_partitions") = Partitions
    inputs("fm_files") = tree.fileCount
    inputs("fm_lines") = tree.lines().size
    inputs("fm_bytes") = tree.bytes
    val mapCmd = "tr ' ' '\\n'"
    val reduceCmd = "sort | uniq -c"
    val in = tree.root.toString
    def checkReduce(out: Path, what: String): Unit = {
      val got = FmTree.readCounts(out.resolve("reduce"))
      fmOutRows += got.size
      val want = FmTree.wordCounts(tree.lines())
      if (got.map(_._1).distinct.size != got.size || got.toMap != want)
        fail(lastCall, s"$what: reduce output differs from the tree's word counts")
    }
    val t0 = tracer.nowMs()
    var cycle = 0
    var last = 0.0
    def elapsed = (tracer.nowMs() - t0) / 1e3
    while (cycle == 0 || elapsed + last <= seconds) {
      cycle += 1
      val c0 = tracer.nowMs()
      val put = work.resolve(s"fm/c$cycle/tree")
      val out = work.resolve(s"fm/c$cycle/run")
      val putLines = tree.lines()
      fmCall(cycle, "fm_put") {
        graft.Cli.put(spark, s"$in/part=*/*.txt", put.toString, Buckets)
      }
      val cold = fmCall(cycle, "fm_run") {
        graft.Cli.runStagesMemoized(spark, in, out.toString, "part",
          Seq(mapCmd), Some(reduceCmd), Buckets)
      }
      if (!cold.contains((0 until Partitions).map(p => s"p$p").toSet))
        fail(lastCall, s"fm_run cycle $cycle: cold run did not pipe every partition")
      checkReduce(out, s"fm_run cycle $cycle")
      (1 to Rounds).foreach { r =>
        val changed = tree.pick(2)
        changed.foreach(tree.writePart)
        val repiped = fmCall(cycle, "fm_rerun") {
          graft.Cli.runStagesMemoized(spark, in, out.toString, "part",
            Seq(mapCmd), Some(reduceCmd), Buckets)
        }
        fmChanged += changed.size
        fmRepiped += repiped.map(_.size).getOrElse(0)
        if (!repiped.contains(changed.map(p => s"p$p").toSet))
          fail(lastCall, s"fm_rerun cycle $cycle round $r: re-piped $repiped, " +
            s"changed ${changed.mkString(",")}")
        checkReduce(out, s"fm_rerun cycle $cycle round $r")
      }
      val treeFiles = Host.filesUnder(put, n => n.startsWith("part-")).size
      (1 to Gets).foreach { g =>
        val only = tree.pickBuckets(2, Buckets)
        val dst = work.resolve(s"fm/c$cycle/get$g")
        fmCall(cycle, "fm_get") {
          graft.Cli.get(spark, put.toString, only).select("line")
            .write.mode("overwrite").text(dst.toString)
        }
        if (traced) fmGetFiles +=
          (Run.filesScanned(graft.Cli.get(spark, put.toString, only)) -> treeFiles)
        val got = FmTree.readLines(dst).sorted
        fmOutRows += got.size
        val want = putLines.filter(l =>
          only.contains(FmTree.bucketOf(l, Buckets))).sorted
        if (got != want)
          fail(lastCall, s"fm_get cycle $cycle buckets ${only.mkString(",")}: " +
            s"${got.size} lines, expected ${want.size}")
      }
      graft.Local.rmTree(work.resolve(s"fm/c$cycle").toFile)
      last = (tracer.nowMs() - c0) / 1e3
    }
    cycle
  }

  /** An `fm` call: the whole verb is its one execution layer. */
  private def fmCall[T](cycle: Int, name: String)(body: => T): Option[T] = {
    var out: Option[T] = None
    timedCall(cycle, "fm", name) { sid =>
      out = Some(tracer.span("exec", calls.size + 1, sid)(_ => body)._1)
    }
    out
  }

  def go(): Unit = {
    val spinStart = Host.spin()
    val dirs0 = Host.stageDirs(tmp).toSet
    val nPasses = workload match {
      case "adhoc" => adhoc()
      case "index" => index()
      case "fm" => fm()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heapMb = Host.retainedHeapMb()
    val created = Host.stageDirs(tmp).filterNot(dirs0)
    val stageMb = created.map(Host.bytesUnder).sum / 1e6
    val spinEnd = Host.spin()
    val loadEnd = Host.loadAvg()
    spark.stop() // drains the listener bus
    val localDirs = sys.env.get("SPARK_LOCAL_DIRS").toSeq
      .flatMap(_.split(",")).map(Paths.get(_))
    val tmpDiskMb = (Host.stageDirs(tmp).map(Host.bytesUnder).sum +
      localDirs.map(Host.bytesUnder).sum) / 1e6

    val byPass = calls.groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val lat = calls.map(_.seconds).toSeq
    val failed = failedIds.size
    val attempted = math.max(failed, calls.size + chainSpans.size)
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "stage_build_s" -> (stageBuildS, "s"),
      "query_p50_s" -> (median(lat), "s"),
      "query_p90_s" -> (quantile(lat, 0.9), "s"),
      "session_s" -> (setupS + stageBuildS + median(byPass), "s"))
    if (workload == "fm") Seq("fm_put", "fm_run", "fm_rerun", "fm_get")
      .foreach { k =>
        e2e(s"${k}_s") = (median(calls.filter(_.name == k).map(_.seconds).toSeq), "s")
      }
    e2e("fail_ratio") = (failed.toDouble / attempted, "ratio")
    e2e("tmp_disk_mb") = (tmpDiskMb, "MB")
    e2e("retained_heap_mb") = (heapMb, "MB")

    val layers = tracer.recorder.map(r =>
      perLayer(new Rollup(r), nPasses, stageMb,
        created.size))
    val correct = failures.isEmpty
    val busy = loadStart >= Run.BusyLoad
    if (busy) System.err.println(f"perfbench: WARNING load average " +
      f"$loadStart%.2f at start (>= ${Run.BusyLoad}%.1f): record flagged busy")

    val rec = Json.obj(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "seconds" -> seconds, "passes" -> nPasses, "calls" -> calls.size,
      "config" -> Json.obj(
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" ->
          spark.conf.get("spark.sql.shuffle.partitions"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1000000,
        "data" -> Paths.get(data).getFileName.toString),
      "inputs" -> Json.obj((inputs.toSeq ++ tableSizes): _*),
      "host" -> Json.obj("load_start" -> loadStart, "load_end" -> loadEnd,
        "spin_start_s" -> spinStart, "spin_end_s" -> spinEnd, "busy" -> busy),
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> layers.map(l => Json.obj(l.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)).getOrElse(Json.Null),
      "stage_chains" -> Json.obj(chainSpans.toSeq.map(s =>
        s.name.stripPrefix("stage.") -> Json.num(s.seconds)): _*),
      "guard" -> Json.obj("ok" -> guardFailures.isEmpty,
        "problems" -> guardFailures.toSeq),
      "failures" -> failures.toSeq,
      "call_seconds" -> calls.toSeq.map(c =>
        Seq(Json.str(c.name), Json.num(c.seconds)).mkString("[", ",", "]"))
        .map(Json.Raw))
    println(rec)
    spansOut.foreach { p =>
      val meta = calls.map(c =>
        s"""{"call":${c.id},"pass":${c.pass},"kind":"${c.kind}","name":"${c.name}","ok":${c.ok}}""")
        .mkString("", "\n", "\n")
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), (meta + tracer.spansJsonl).getBytes(UTF_8))
    }
    val metrics =
      if (traced) layers.get
      else mutable.LinkedHashMap(Run.Gated.map(k => k -> e2e(k)): _*)
    println(Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
  }

  private def tableSizes: Seq[(String, Any)] =
    if (workload == "fm") Nil
    else Seq("documents", "embeddings", "events", "lineitem", "orders").map {
      t =>
        val p = Paths.get(graft.Tables.path(data, t))
        s"${t}_bytes" -> Host.bytesUnder(p)
    } :+ ("lineitem_rows" -> lineitemRows)

  private lazy val lineitemRows: Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(graft.Tables.path(data, "lineitem")),
        new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  /** Per-layer metrics, per pass over the workload's list. */
  private def perLayer(r: Rollup, nPasses: Int, stageMb: Double,
      stageDirs: Int): mutable.LinkedHashMap[String, (Double, String)] = {
    val sp = tracer.spans.toSeq
    val per = 1.0 / nPasses
    def layer(n: String) = sp.filter(s => s.name == n && s.call > 0)
    def secs(n: String) = layer(n).map(_.seconds).sum * per
    def jobs(n: String) = layer(n).map(s => r.jobsOf(s.call, n)).sum * per
    val execTasks = layer("exec").flatMap(s => r.tasksOf(s.call, "exec"))
    def mb(f: JobRecorder.Task => Long) = execTasks.map(f).sum / 1e6 * per
    val callSpans = sp.filter(_.name == "call")
    val m = mutable.LinkedHashMap[String, (Double, String)](
      "construct.s" -> (secs("construct"), "s"),
      "construct.jobs" -> (jobs("construct"), "count"),
      "plan.s" -> (secs("plan"), "s"),
      "exec.s" -> (secs("exec"), "s"),
      "exec.jobs" -> (jobs("exec"), "count"),
      "exec.stages" -> (layer("exec").map(s =>
        r.tasksOf(s.call, "exec").map(_.stage).distinct.size).sum * per, "count"),
      "exec.tasks" -> (execTasks.size * per, "count"),
      "exec.task_run_s" -> (execTasks.map(_.runMs).sum / 1e3 * per, "s"),
      "exec.task_cpu_s" -> (execTasks.map(_.cpuNs).sum / 1e9 * per, "s"),
      "exec.idle_s" -> (layer("exec").map(r.idleSeconds).sum * per, "s"),
      "exec.input_mb" -> (mb(_.inputBytes), "MB"),
      "exec.shuffle_read_mb" -> (mb(_.shuffleReadBytes), "MB"),
      "exec.shuffle_write_mb" -> (mb(_.shuffleWriteBytes), "MB"),
      "exec.spill_mb" -> (mb(_.spillBytes), "MB"),
      "exec.rows_out" -> ((if (workload == "fm") fmOutRows.toDouble * per
        else fingerprinted.values.map(_.rows).sum.toDouble), "count"),
      "jvm.gc_s" -> (callSpans.map(_.gcMs).sum / 1e3 * per, "s"),
      "call.uncovered_s" -> (callSpans.map { c =>
        c.seconds - sp.filter(s => s.parent == c.id).map(_.seconds).sum
      }.sum * per, "s"))
    Chains.foreach { case (name, _) =>
      val s = chainSpans.find(_.name == s"stage.$name")
      m(s"stage.$name.s") = (s.map(_.seconds).getOrElse(0.0), "s")
      m(s"stage.$name.jobs") =
        (s.map(x => r.jobsOf(x.call, x.name).toDouble).getOrElse(0.0), "count")
    }
    m("stage.mb") = (stageMb, "MB")
    m("stage.dirs") = (stageDirs.toDouble, "count")
    m("fm.repiped_ratio") =
      (if (fmChanged.sum == 0) 0.0 else fmRepiped.sum.toDouble / fmChanged.sum,
        "ratio")
    m("fm.tasks") = ((if (workload == "fm") execTasks.size * per else 0.0), "count")
    m("fm.out_mb") = ((if (workload == "fm") mb(_.outputBytes) else 0.0), "MB")
    m("fm.get_files_ratio") = (if (fmGetFiles.isEmpty) 0.0 else
      fmGetFiles.map(_._1).sum.toDouble / fmGetFiles.map(_._2).sum, "ratio")
    m("trace.unattributed_jobs") = (r.unattributedJobs.toDouble, "count")
    m
  }
}

object Run extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  /** Files the scans of `df` read when it runs (the `numFiles` metric,
    * set once partition pruning has picked the directories). */
  def filesScanned(df: DataFrame): Long = {
    df.queryExecution.toRdd.foreach(_ => ())
    collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
  }


  /** Load average at start from which a record is flagged busy: the 4
    * cores the session uses are already taken. */
  val BusyLoad = 4.0
  /** The end-to-end metrics the result line carries (BENCHMARK.json). */
  val Gated = Seq("setup_s", "session_s", "retained_heap_mb")
}

/** Minimal JSON writer for the records. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  val Null = Raw("null")
  def num(d: Double): Raw = Raw(
    if (d.isNaN || d.isInfinite) "null" else d.toString)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def enc(v: Any): String = v match {
    case r: Raw => r.s
    case s: String => str(s)
    case d: Double => num(d).s
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case xs: Seq[_] => xs.map(enc).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + enc(v) }.mkString("{", ",", "}"))
}
