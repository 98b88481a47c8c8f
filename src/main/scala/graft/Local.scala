package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session factory and small filesystem helpers every
  * main/probe shares. Before r12 the session-builder block was
  * hand-copied across seven entry points and had already drifted
  * (probes missing the nanosAsLong/timezone configs Bench relies on);
  * a probe must measure the SAME session configuration the bench
  * runs, so the config lives here once.
  */
object Local {

  /** Local session with the harness config (graft extensions, cpus =
    * SPARK_GRAFT_CPUS default `defaultCpus`, shuffle partitions =
    * cpus, UTC, ns-timestamp parquet reads, UI off). `fair` enables
    * FAIR job scheduling — Bench's stage-build pre-pass only (see the
    * comment there). */
  def session(defaultCpus: String = "4", fair: Boolean = false): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    var b = SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graftnative.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (fair) b = b.config("spark.scheduler.mode", "FAIR")
    // Ad-hoc config overrides for A/B profiling (r21):
    // SPARK_GRAFT_CONF="spark.k=v;spark.k2=v2". Overrides apply LAST so
    // an experiment can flip any of the defaults above without a
    // recompile; production values stay in code, never in the env.
    sys.env.get("SPARK_GRAFT_CONF").foreach { kvs =>
      kvs.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b = b.config(k, v)
      }
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Recursive tree delete (no symlink traversal concerns in this
    * repo's temp-dir usage; listFiles does not follow into anything
    * we did not create). Shared by the stage cache's dir cleanup,
    * the probes, and the test suites. */
  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmTree))
    f.delete()
    ()
  }
}
