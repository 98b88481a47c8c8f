package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Stage dirs as seen from outside the library: each case runs
  * [[StageDirsChild]] in its own JVM with a fresh `java.io.tmpdir`, so
  * the `graft_*` dirs it lists are its own and no other suite's. */
class StageDirsSpec extends AnyFunSuite {
  import StageDirsChild.child

  test("after the graph warm pass, no q_graph_* query builds a stage dir") {
    val lines = child("reads",
      Registry.all.map(_.name).filter(_.startsWith("q_graph_")).mkString(","))
    assert(lines.count(_.startsWith("q_graph_")) === 8, lines)
    assert(lines.filter(_.startsWith("q_graph_")).forall(_.endsWith("\t")),
      lines.mkString("\n"))
  }

  test("stopping the context deletes every stage dir, rewritten ones too") {
    assert(child("stop") === Seq("left\t"))
  }
}

/** `graft.StageDirsChild reads|stop <sfDir> [q_a,q_b,…]`: prints, per
  * step, the `graft_*` dirs under `java.io.tmpdir` that the step left
  * behind (name, tab, then a comma list). `reads` warms, one line each,
  * the chains Bench warms for the listed queries, then runs each query
  * into the `noop` sink; `stop` prints what the context's stop left. */
object StageDirsChild {
  private def stageDirs(): Set[Path] = {
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    try ls.iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_")).toSet
    finally ls.close()
  }
  private def names(ps: Set[Path]): String =
    ps.map(_.getFileName.toString).toSeq.sorted.mkString(",")
  private def made(step: => Unit): String = {
    val before = stageDirs()
    step
    names(stageDirs() -- before)
  }

  /** Runs the child on the test fixtures; returns its stdout lines. */
  def child(mode: String, args: String*): Seq[String] = {
    val tmp = Files.createTempDirectory("stagedirs_spec")
    try {
      val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        jvmOpts ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp",
          "-cp", System.getProperty("java.class.path"),
          "graft.StageDirsChild", mode, TestSpark.sf) ++ args
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

  def main(args: Array[String]): Unit = {
    val spark = Local.session()
    args match {
      case Array("reads", sf, queries) =>
        val qs = queries.split(",").toSeq
        Bench.chainsFor(Some(qs.toSet)).foreach { case (c, warm) =>
          println(s"$c\t${made(warm(spark, sf))}")
        }
        qs.foreach { q =>
          println(s"$q\t${made(Registry.byName(q).df(spark, sf)
            .write.format("noop").mode("overwrite").save())}")
        }
        spark.stop()
      case Array("stop", sf) =>
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
