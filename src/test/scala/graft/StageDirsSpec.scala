package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Stage dirs as seen from outside the library: each case runs
  * [[StageDirsChild]] in its own JVM with a fresh `java.io.tmpdir`, so
  * the `graft_*` dirs it lists are its own and no other suite's. */
class StageDirsSpec extends AnyFunSuite {

  /** Runs the child in `mode`; returns its stdout lines. */
  private def child(mode: String): Seq[String] = {
    val tmp = Files.createTempDirectory("stagedirs_spec")
    try {
      val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        jvmOpts ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp",
          "-cp", System.getProperty("java.class.path"),
          "graft.StageDirsChild", mode, TestSpark.sf)
      val stdout = tmp.resolve("stdout.txt")
      val pb = new ProcessBuilder(cmd: _*)
        .redirectOutput(stdout.toFile)
        .redirectError(ProcessBuilder.Redirect.DISCARD)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val p = pb.start()
      val done = p.waitFor(10, TimeUnit.MINUTES)
      if (!done) p.destroyForcibly()
      val out = new String(Files.readAllBytes(stdout), "UTF-8")
      assert(done && p.exitValue == 0, s"child $mode failed; stdout:\n$out")
      out.linesIterator.toSeq
    } finally Local.rmTree(tmp.toFile)
  }

  test("after the graph warm pass, no q_graph_* query builds a stage dir") {
    val lines = child("graph")
    assert(lines.count(_.startsWith("q_graph_")) === 8, lines)
    assert(lines.filter(_.startsWith("q_graph_")).forall(_.endsWith("\t")),
      lines.mkString("\n"))
  }

  test("stopping the context deletes every stage dir, rewritten ones too") {
    assert(child("stop") === Seq("left\t"))
  }
}

/** `graft.StageDirsChild graph|stop <sfDir>`: prints, per query or
  * at the end, the `graft_*` dirs under `java.io.tmpdir` that a step
  * left behind (tab, then a comma list). */
object StageDirsChild {
  private def stageDirs(): Set[Path] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_")).toSet
    finally ls.close()
  }
  private def names(ps: Set[Path]): String =
    ps.map(_.getFileName.toString).toSeq.sorted.mkString(",")

  def main(args: Array[String]): Unit = {
    val Array(mode, sf) = args
    val spark = Local.session()
    mode match {
      case "graph" =>
        ops.Graph.warmGraphStages(spark, sf)
        Registry.all.filter(_.name.startsWith("q_graph_")).foreach { q =>
          val before = stageDirs()
          q.df(spark, sf).write.format("noop").mode("overwrite").save()
          println(s"${q.name}\t${names(stageDirs() -- before)}")
        }
        spark.stop()
      case "stop" =>
        val d = "stagedirs-child"
        StageCache.memoized(spark, d, "probe")(spark.range(10).toDF("id"))
          .count()
        StageCache.rewrite(spark, d, "probe")(spark.range(10).toDF("id"))(
          _.filter("id % 2 = 0"))
        Registry.byName("q_scan_csv").df(spark, sf)
          .write.format("noop").mode("overwrite").save()
        spark.stop()
        println(s"left\t${names(stageDirs())}")
    }
  }
}
