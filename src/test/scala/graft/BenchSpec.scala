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
      Set("kmeans.k", "bpe.merges", "sea.lexicon", "graph.pinMaxBytes"))
    assert(found("""SPARK_GRAFT_([A-Z0-9_]+)""".r) ===
      Set("CONF", "CPUS", "ONLY", "SF_DIR", "STAGE_THREADS"))
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
