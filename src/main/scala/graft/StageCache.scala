package graft

import java.nio.file.{Files, Path}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Storage-backed stage memo (FileMap's P6 stage cache): derived
  * frames shared by several queries are written to parquet ONCE per
  * (session, data dir, stage) and every later query reads the
  * materialization instead of re-deriving the pipeline. An in-memory
  * persist() was measured a net loss (eager pinning defeats per-query
  * pruning); a columnar materialization keeps pruning AND removes the
  * rebuild — at 100 TB this is a partitioned table the pipeline
  * maintains, here a session temp dir.
  *
  * Keys: each stage is the [[SessionMemo]] entry `stage|<dir>|<stage>`
  * of its session (weak session keys, so fixture edits between
  * sessions cannot serve stale stages and dead sessions free their
  * entries); the memo's per-slot lock makes concurrent first access
  * build exactly once (ConcurrencySpec races it). The entry holds only
  * the stage's current root dir, never the session.
  *
  * Lifetime: every stage dir is a `graft_<stage>*` dir directly under
  * `java.io.tmpdir`, recorded against its SparkContext and deleted
  * when that context ends (stop() drains the listener bus, so they are
  * gone when it returns) — including dirs a rewrite or invalidation
  * abandoned. One JVM shutdown hook sweeps whatever is left.
  */
object StageCache {

  /** A stage's current materialization root. `rewrite` swaps it under
    * this holder's lock; the volatile write means a reader sees wholly
    * the old dir or wholly the new one, never a half-written one. */
  private final class Root(@volatile var dir: Path)

  /** Stage dirs of each live SparkContext. */
  private val owned = mutable.HashMap.empty[SparkContext, mutable.Buffer[Path]]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    owned.synchronized(owned.values.flatten.toList)
      .foreach(p => Local.rmTree(p.toFile))))

  /** A new `graft_<stage>*` dir, owned by the session's context and
    * handed to `fill`. */
  private def newDir(s: SparkSession, stage: String)(fill: Path => Unit): Path = {
    val dir = Files.createTempDirectory(s"graft_$stage")
    val sc = s.sparkContext
    owned.synchronized {
      owned.getOrElseUpdate(sc, {
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            owned.synchronized(owned.remove(sc)).foreach(
              _.foreach(p => Local.rmTree(p.toFile)))
        })
        mutable.ArrayBuffer.empty[Path]
      }) += dir
    }
    fill(dir)
    dir
  }

  private def root(s: SparkSession, d: String, stage: String)(
      fill: Path => Unit): Root =
    SessionMemo.memo(s, s"stage|$d|$stage")(new Root(newDir(s, stage)(fill)))

  private def data(dir: Path): String = dir.resolve("data").toString

  private def writeTo(df: => DataFrame): Path => Unit =
    dir => df.write.mode("overwrite").parquet(data(dir))

  private def pathFor(s: SparkSession, d: String, stage: String)(
      build: => DataFrame): String =
    data(stageDir(s, d, stage)(writeTo(build)))

  /** The stage's root dir, made fresh and handed to `fill` on the
    * first touch per (session, dir, stage) — the primitive under
    * [[memoized]], for stages that are not one parquet table (e.g.
    * q_scan_csv's CSV tree). */
  def stageDir(s: SparkSession, d: String, stage: String)(
      fill: Path => Unit): Path =
    root(s, d, stage)(fill).dir

  def memoized(s: SparkSession, d: String, stage: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(pathFor(s, d, stage)(build))

  /** Append rows to a stage's materialization — the maintained-index
    * UPSERT path: ensures the stage is built (building it if this is
    * the first touch), then writes `extra` as additional parquet files
    * under the same directory. O(extra) work, never a rebuild; the
    * local analogue of a dynamic-partition append to the maintained
    * table at 100 TB. Readers created BEFORE the append keep their
    * file-listing snapshot; a fresh memoized() read sees the appended
    * rows.
    */
  def appendTo(s: SparkSession, d: String, stage: String)(
      build: => DataFrame)(extra: DataFrame): Unit =
    extra.write.mode("append").parquet(pathFor(s, d, stage)(build))

  /** REWRITE a stage's materialization — the maintained-index
    * lifecycle verb appendTo lacks: `transform` maps the stage's
    * current content to its replacement (apply tombstones, coalesce a
    * year of appended fragments, roll sketch rows up), the result is
    * written to a FRESH directory, and the holder swaps to it
    * atomically. Readers holding the old frame keep their snapshot —
    * parquet files are immutable and the old dir lives until the
    * context stops — while every later read sees only the rewrite: the
    * local analogue of a compaction job committing a new table version.
    * Mutation verbs (append/rewrite) on one stage are single-writer
    * by contract, like every maintenance verb here: an appendTo racing
    * a rewrite can land its rows in the abandoned directory. */
  def rewrite(s: SparkSession, d: String, stage: String)(
      build: => DataFrame)(transform: DataFrame => DataFrame): Unit = {
    val r = root(s, d, stage)(writeTo(build))
    r.synchronized {
      r.dir = newDir(s, stage)(writeTo(transform(s.read.parquet(data(r.dir)))))
    }
  }

  /** Drop every stage of (session, dir) whose name starts with
    * `stagePrefix` — the retrain-and-swap verbs' invalidation hook
    * ([[graft.SessionMemo.dropByPrefix]] on the stage keys): the
    * entry disappears, so the NEXT memoized() read rebuilds from the
    * live corpus, while readers already holding a DataFrame keep their
    * consistent old materialization (its dir lives until the context
    * stops). Not for general use — ordinary code relies on the
    * per-session-immutability contract. */
  def invalidatePrefix(s: SparkSession, d: String,
      stagePrefix: String): Unit =
    SessionMemo.dropByPrefix(s, s"stage|$d|$stagePrefix")

  /** On-disk bytes of a stage's materialization (building it if this
    * is the first touch) — the cheap size oracle for pin-vs-read
    * decisions (Graph's anchor pin guard): the parquet footprint is
    * already on local disk, so this is a directory walk, not a job. */
  def bytesOf(s: SparkSession, d: String, stage: String)(
      build: => DataFrame): Long = {
    val walk = Files.walk(java.nio.file.Paths.get(pathFor(s, d, stage)(build)))
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally walk.close()
  }
}
