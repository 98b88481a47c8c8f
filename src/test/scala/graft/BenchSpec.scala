package graft

import java.lang.reflect.Modifier
import scala.concurrent.{Await, Future}
import scala.jdk.CollectionConverters._
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** The registry's chain list against what each query reads, Bench's
  * chain choice and shape listener, and a scan of the main sources. */
class BenchSpec extends AnyFunSuite {

  /** perfbench/expected/sf0.01.tsv: `#chain <name> <dirs>` lines list
    * the stage dirs each chain builds in a fresh session; query rows
    * carry (name, class, rows, hash, dirs), the dirs a query builds
    * alone in one. Dir names drop the JVM's random digit suffix. */
  private lazy val fixture = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("perfbench/expected/sf0.01.tsv")).asScala.toSeq
    .map(_.split("\t", -1).toSeq)
  private lazy val tabled: Map[String, Set[String]] =
    fixture.filter(_.head == "#chain").map(l => l(1) -> l(2).split(",").toSet)
      .toMap
  /** The chains the frozen fixture predates. */
  private lazy val untabled = Registry.chains.map(_._1).toSet -- tabled.keySet
  /** Those chains warmed, then their readers run, in a child JVM at
    * sf0.001: each step's new dirs by name. */
  private lazy val live: Map[String, Set[String]] = StageDirsChild.child(
      "reads", Registry.all.filter(_.reads.exists(untabled)).map(_.name)
        .mkString(","))
    .map(_.split("\t", -1)).map { l =>
      l(0) -> l(1).split(",").filter(_.nonEmpty)
        .map(_.replaceAll("[0-9]+$", "")).toSet
    }.toMap

  test("Registry.chains lists every public ops warm entry point once") {
    // Every top-level object compiled into graft/ops.
    val dir = new java.io.File(getClass.getResource("/graft/ops").toURI)
    val warms = dir.listFiles.map(_.getName)
      .filter(n => n.endsWith("$.class") && n.count(_ == '$') == 1)
      .toSeq.flatMap { f =>
        val c = Class.forName("graft.ops." + f.stripSuffix(".class"), false,
          getClass.getClassLoader)
        c.getDeclaredMethods.toSeq
          .filter(m => Modifier.isPublic(m.getModifiers) &&
            m.getName.startsWith("warm") && !m.getName.contains("$"))
          .map(m => s"${c.getSimpleName}.${m.getName}")
      }
    val names = Registry.chains.map(_._1)
    assert(names.distinct.size == names.size)
    // The chains past the fixture's name a query's own stage builder.
    assert(untabled === Set("csv", "lsh_sample", "cms"))
    assert(warms.size == names.size - untabled.size,
      warms.sorted.mkString(", "))
  }

  test("every index query's stage dirs come from the chains it reads") {
    val queries = fixture.filterNot(_.head.startsWith("#"))
    assert(queries.size === Registry.all.size)
    val (index, adhoc) = queries.partition(_(1) == "index")
    assert(index.nonEmpty)
    val adhocReads =
      adhoc.map(_.head).filter(Registry.byName(_).reads.nonEmpty)
    assert(adhocReads.isEmpty, adhocReads.mkString(", "))
    val dirsOf = tabled ++ untabled.map(c => c -> live(c))
    val unread = index.flatMap { l =>
      val have = Registry.byName(l.head).reads.flatMap(dirsOf).toSet
      l(4).split(",").filterNot(have).map(l.head + ": " + _)
    }
    assert(unread.isEmpty, unread.mkString(", "))
  }

  test("warm, the chains the fixture lacks leave their readers nothing to build") {
    // In a fresh session: each chain's warm builds a stage, and a
    // query reading it then runs into `noop` building none.
    val readers = Registry.all.filter(_.reads.exists(untabled)).map(_.name)
    assert(readers.toSet ===
      Set("q_scan_csv", "q_sim_lsh_points", "q_sketch_cms"))
    readers.foreach(q => assert(live(q).isEmpty, s"$q built ${live(q)}"))
    untabled.foreach(c => assert(live(c).nonEmpty, s"chain $c built nothing"))
  }

  test("an allowlist warms exactly the chains its queries read") {
    assert(Bench.chainsFor(None) === Registry.chains)
    assert(Bench.chainsFor(Some(Set("q_dedup_exact"))).isEmpty)
    val pq = Registry.byName("q_sim_ann_pq").reads
    assert(pq.nonEmpty)
    assert(Bench.chainsFor(Some(Set("q_sim_ann_pq"))).map(_._1).toSet ===
      pq.toSet)
  }

  test("the shape listener attributes concurrent jobs to their own label") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val shapes = new Bench.ShapeListener
    sc.addSparkListener(shapes)
    try {
      // a: 2 jobs of 3 tasks; b: 3 jobs of 5 tasks, one stage per job.
      def run(label: String, jobs: Int, parts: Int): Future[Unit] = Future {
        sc.setLocalProperty(Bench.LabelKey, label)
        try (1 to jobs).foreach(_ => spark.range(0, 100, 1, parts).rdd.count())
        finally sc.setLocalProperty(Bench.LabelKey, null)
      }
      Await.result(Future.sequence(Seq(run("a", 2, 3), run("b", 3, 5))),
        2.minutes)
      eventually(timeout(30.seconds)) {
        assert(shapes("a") == Bench.Shape(2, 2, 6))
        assert(shapes("b") == Bench.Shape(3, 3, 15))
      }
      assert(shapes("c") == Bench.Shape(0, 0, 0))
    } finally sc.removeSparkListener(shapes)
  }

  test("the kmeans warm submits every job under the caller's label") {
    // Every job the warm submits must count toward the chain that
    // called it.
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val s = spark.newSession() // cold memo: the warm builds every stage
    val shapes = new Bench.ShapeListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val labels = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(Bench.LabelKey)))
          .getOrElse("<none>"))
        ()
      }
    }
    sc.addSparkListener(shapes)
    sc.addSparkListener(labels)
    def labelled(label: String)(body: => Unit): Unit = {
      sc.setLocalProperty(Bench.LabelKey, label)
      try body finally sc.setLocalProperty(Bench.LabelKey, null)
    }
    try {
      labelled("kmeans")(ops.Clustering.warmKmeansStages(s, TestSpark.sf))
      // One listener queue delivers job starts in submission order:
      // once the sentinel's start is seen, every warm job's is too.
      labelled("sentinel")(spark.range(0, 10, 1, 1).rdd.count())
      eventually(timeout(30.seconds)) {
        assert(seen.contains("sentinel"))
        assert(shapes("sentinel").jobs == 1)
      }
      val warm = seen.asScala.toSeq.takeWhile(_ != "sentinel")
      assert(warm.nonEmpty)
      assert(warm.forall(_ == "kmeans"), warm.distinct.mkString(", "))
      assert(shapes("kmeans").jobs == warm.size)
      // Shape pin: one joint Lloyd loop for the K sweep, and the K=8
      // frame stage written from its history. Job counts can differ by
      // a job or two between runs, hence the slack.
      assert(warm.size <= 30, s"the kmeans warm ran ${warm.size} jobs")
    } finally {
      sc.removeSparkListener(labels)
      sc.removeSparkListener(shapes)
    }
  }

  private lazy val mainSources = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally files.close()
  }
  private def read(f: java.nio.file.Path) =
    new String(java.nio.file.Files.readAllBytes(f), "UTF-8")

  test("temp-dir ownership and session keying live in one module") {
    assert(mainSources.nonEmpty)
    def filesWith(word: String) = mainSources.flatMap { f =>
      Seq.fill(word.r.findAllMatchIn(read(f)).size)(f.getFileName.toString)
    }
    assert(filesWith("addShutdownHook") === Seq("StageCache.scala"))
    assert(filesWith("identityHashCode").isEmpty)
  }

  test("knob census: the conf keys and env vars the library reads") {
    // A new knob needs a measured reason; adding one edits this list.
    def found(re: scala.util.matching.Regex) =
      mainSources.flatMap(f => re.findAllMatchIn(read(f)).map(_.group(1))).toSet
    assert(found(""""spark\.graft\.([A-Za-z0-9_.]+)"""".r) ===
      Set("kmeans.k", "bpe.merges", "sea.lexicon"))
    assert(found("""SPARK_GRAFT_([A-Z0-9_]+)""".r) ===
      Set("CONF", "CPUS", "ONLY", "SF_DIR", "STAGE_THREADS"))
  }

  test("src/main defines no main besides Cli, Verify and Bench, and names " +
      "none of the campaign mains or ScaleGen in code") {
    // Read from the compiled main classes, where comments are gone.
    val root = java.nio.file.Paths.get(
      classOf[Bench.Shape].getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".class")).toVector finally files.close()
    }
    assert(classes.size > 100)
    val names = classes.map(f => root.relativize(f).toString
      .stripSuffix(".class").replace(java.io.File.separatorChar, '.'))
    val mains = names.filter { n =>
      Class.forName(n, false, getClass.getClassLoader).getDeclaredMethods
        .exists(m => m.getName == "main" && Modifier.isStatic(m.getModifiers) &&
          m.getParameterTypes.sameElements(Seq(classOf[Array[String]])))
    }
    assert(mains.toSet === Set("graft.Cli", "graft.Verify", "graft.Bench"))
    val moved = "graft/(AnnCurve|RouteCurve|ScaleBench|StateBench|ScaleGen)(?![A-Za-z0-9_])".r
    val naming = classes.filter(f => moved.findFirstIn(new String(
      java.nio.file.Files.readAllBytes(f), "ISO-8859-1")).isDefined)
    assert(naming.isEmpty, naming.mkString(", "))
  }
}
