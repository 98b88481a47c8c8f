package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental re-run over a CHANGING input tree — FileMap's P6
  * identity (re-run the pipeline, recompute only what changed, and the
  * result still equals a full recompute) on partition-tree mechanics:
  *
  *  - the input is a Hive-partitioned tree (`part=value/` dirs);
  *  - the output is a partitioned tree with the same `part=value/`
  *    layout, plus a fingerprint sidecar (one listing hash per
  *    processed input partition) — the memo travels with the data;
  *  - a re-run lists both trees (metadata-only: names, lengths,
  *    mtimes, no data files opened) and applies ONE rule: partitions
  *    that are new or whose fingerprint moved are recomputed; output
  *    partitions whose input partition is gone are deleted. Both verbs
  *    ([[syncChanged]], [[syncChangedEach]]) share that rule, so no
  *    caller can forget the retraction half.
  *
  * The delta read filters on the partition column, which Catalyst turns
  * into a PartitionFilter: unchanged data is never even scanned
  * (IncrementalSpec asserts the plan). At 100 TB this is the shape that
  * makes daily re-runs O(changed data). Mid-write crash tolerance is the
  * one thing this does not add — production would write via a
  * transactional table layer or stage-and-rename; the memo is saved
  * only after the work, so a failed run at least retries every stale
  * partition.
  */
object Incremental {

  /** Partition values (`col=value` directory names) present under
    * `dir` — a filesystem listing, no data read. */
  def partitionValues(spark: SparkSession, dir: String,
      partCol: String): Set[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(partCol + "="))
      .map(_.stripPrefix(partCol + "="))
      .toSet
  }

  /** Content fingerprint of one input partition: a hash over its file
    * names, lengths, and modification times — the staleness signal,
    * computed from the LISTING alone (no data read; FileMap's memo key
    * is the same (file, stage) identity). */
  def partitionFingerprint(spark: SparkSession, dir: String,
      partCol: String, value: String): Long = {
    val p = new Path(s"$dir/$partCol=$value")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p)
      .map(st => s"${st.getPath.getName}|${st.getLen}|${st.getModificationTime}")
      .sorted
      .foldLeft(17L)((h, s) => h * 31L + s.hashCode)
  }

  private def fingerprintFile(outDir: String) =
    java.nio.file.Paths.get(outDir, "_graft_fingerprints.tsv")

  private def loadFingerprints(outDir: String): Map[String, Long] = {
    val f = fingerprintFile(outDir)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val Array(v, fp) = l.split('\t'); v -> fp.toLong
      }.toMap
  }

  private def saveFingerprints(outDir: String,
      merged: Map[String, Long]): Unit = {
    java.nio.file.Files.write(fingerprintFile(outDir),
      merged.toSeq.sorted.map { case (v, fp) => s"$v\t$fp" }
        .mkString("\n").getBytes("UTF-8"))
    ()
  }

  private def dropOutputPartition(spark: SparkSession, outDir: String,
      partCol: String, value: String): Unit = {
    val p = new Path(s"$outDir/$partCol=$value")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, true)
    ()
  }

  /** The one P6 memo core. Stale = input partitions that are new or
    * whose fingerprint moved. Removed = memo keys plus materialized
    * `outDir/<partCol>=v` dirs, minus the current input partitions — an
    * upstream takedown must disappear from the derived tree too. Each
    * removed output dir is deleted, `recompute` gets the sorted stale
    * values, and only then is the sidecar saved, so a failed run
    * retries every stale partition. Returns stale and removed alike. */
  private def sync(spark: SparkSession, inDir: String, outDir: String,
      partCol: String)(recompute: Seq[String] => Unit): Set[String] = {
    val seen = loadFingerprints(outDir)
    val current = partitionValues(spark, inDir, partCol)
      .map(v => v -> partitionFingerprint(spark, inDir, partCol, v)).toMap
    val todo = current.collect {
      case (v, fp) if !seen.get(v).contains(fp) => v
    }.toSet
    val removed = (seen.keySet ++ partitionValues(spark, outDir, partCol)) --
      current.keySet
    removed.foreach(dropOutputPartition(spark, outDir, partCol, _))
    if (todo.nonEmpty) recompute(todo.toSeq.sorted)
    if (todo.nonEmpty || removed.nonEmpty)
      saveFingerprints(outDir,
        (seen -- removed) ++ todo.map(v => v -> current(v)))
    todo ++ removed
  }

  /** Bring `outDir` up to date with `inDir` by the one memo rule:
    * `derive` runs once over a partition-filtered read of the stale
    * partitions, and its result replaces just those `partCol=v` dirs:
    * each stale dir is dropped, then the result is appended. Unchanged
    * partitions are never touched, byte for byte, and a stale partition
    * that now derives to zero rows leaves no dir behind. `derive` must
    * be partition-wise (its result for a partition depends only on
    * that partition's rows) and must keep `partCol`. Returns the partition values recomputed or
    * retracted this run — empty when the output is already current.
    */
  def syncChanged(spark: SparkSession, inDir: String, outDir: String,
      partCol: String)(derive: DataFrame => DataFrame): Set[String] =
    sync(spark, inDir, outDir, partCol) { todo =>
      todo.foreach(dropOutputPartition(spark, outDir, partCol, _))
      derive(spark.read.parquet(inDir).filter(col(partCol).isin(todo: _*)))
        .write.mode("append")
        .partitionBy(partCol).parquet(outDir)
    }

  /** Format-agnostic form of [[syncChanged]] for pipelines that process
    * each partition as its own unit (the CLI shell path: one process
    * chain per partition, text in / text out —
    * [[graft.Cli.runStagesMemoized]]). Same memo rule, retraction
    * included; `process` receives each stale partition VALUE and must
    * overwrite `outDir/<partCol>=v` itself. Returns the partition values
    * recomputed or retracted this run. */
  def syncChangedEach(spark: SparkSession, inDir: String, outDir: String,
      partCol: String)(process: String => Unit): Set[String] =
    sync(spark, inDir, outDir, partCol)(_.foreach(process))
}
