package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Makes the committed expectations once (`run.py --record-expected`).
  *
  * For every registry query it records the `graft_*` stage directories
  * the query creates when it runs alone in a fresh session with nothing
  * built (a query that creates none is `adhoc`, otherwise `index`), and
  * its result fingerprint, taken in one session after every stage chain
  * is built. For every stage chain it records the directories the chain
  * creates in a fresh session. Directory names are kept up to the
  * random suffix the JVM appends. Queries without a DuckDB oracle are
  * approximate sketches and are checked by row count only (hash `-`). */
object Record {
  private def stageKeys(made: Seq[Path]): String =
    if (made.isEmpty) "-"
    else made.map(_.getFileName.toString.replaceAll("[0-9]+$", ""))
      .distinct.sorted.mkString(",")

  /** Runs `body` in a fresh session and returns the stage dirs it made. */
  private def created(spark: SparkSession)(body: SparkSession => Unit): String = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val before = Host.stageDirs(tmp).toSet
    body(spark.newSession())
    stageKeys(Host.stageDirs(tmp).filterNot(before))
  }

  def expected(spark: SparkSession, data: String, out: Path): Unit = {
    val queryStages = graft.Registry.all.map { q =>
      val st = created(spark)(s =>
        q.df(s, data).write.format("noop").mode("overwrite").save())
      System.err.println(s"perfbench: ${q.name} stages $st")
      q.name -> st
    }.toMap
    val chainStages = Main.Chains.map { case (name, build) =>
      name -> created(spark)(s => build(s, data))
    }
    Main.Chains.foreach { case (_, build) => build(spark, data) }
    val lines = graft.Registry.all.map { q =>
      val fp = Fingerprint.of(q.df(spark, data))
      val st = queryStages(q.name)
      val w = if (st == "-") "adhoc" else "index"
      val h = if (q.oracle.isEmpty) "-" else fp.hash
      s"${q.name}\t$w\t${fp.rows}\t$h\t$st"
    }
    val head = "# query\tclass\trows\thash\tstage dirs (see perfbench/NOTES.md)\n"
    val chains = chainStages.map { case (n, st) => s"#chain\t$n\t$st" }
    Files.write(out, (head + (chains ++ lines).mkString("", "\n", "\n"))
      .getBytes(UTF_8))
    ()
  }
}
