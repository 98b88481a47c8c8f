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

  test("temp-dir ownership and session keying live in one module") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    val sources = try files.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally files.close()
    assert(sources.nonEmpty)
    def filesWith(word: String) = sources.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      Seq.fill(word.r.findAllMatchIn(text).size)(f.getFileName.toString)
    }
    assert(filesWith("addShutdownHook") === Seq("StageCache.scala"))
    assert(filesWith("identityHashCode").isEmpty)
  }
}
