package graft

import java.lang.reflect.Modifier
import scala.concurrent.{Await, Future}
import scala.jdk.CollectionConverters._
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite

/** Bench's chain list and shape listener, and a scan of the main
  * sources, without building any stage. */
class BenchSpec extends AnyFunSuite {

  test("Bench.Chains lists every public ops warm entry point once") {
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
    assert(warms.size == Bench.Chains.size, warms.sorted.mkString(", "))
    assert(Bench.Chains.map(_._1).distinct.size == Bench.Chains.size)
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

  test("Bench warms the stages for every query that reads a chain-built stage") {
    // perfbench/expected/sf0.01.tsv: `#chain <name> <dirs>` lines list
    // what each chain builds; query rows carry (name, class, rows,
    // hash, dirs). These three build their own stage lazily.
    val lazyBuilders = Set("q_scan_csv", "q_sim_lsh_points", "q_sketch_cms")
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get("perfbench/expected/sf0.01.tsv")).asScala
      .map(_.split("\t", -1).toSeq)
    val built = lines.filter(_.head == "#chain").flatMap(_(2).split(",")).toSet
    val readers = lines.filter(l => !l.head.startsWith("#") && l(1) == "index")
    assert(readers.nonEmpty)
    val (chained, unchained) = readers.partition(_(4).split(",").exists(built))
    assert(unchained.map(_.head).toSet === lazyBuilders)
    val missed = chained.map(_.head).filterNot(Bench.readsStages)
    assert(missed.isEmpty, missed.mkString(", "))
  }
}
