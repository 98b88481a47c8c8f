package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental re-run on a grown file tree (FileMap P6): the second
  * run processes only the new partitions, never rescans processed
  * data, and the incrementally-maintained output equals a full
  * recompute.
  */
class IncrementalSpec extends AnyFunSuite {
  import TestSpark._
  import graft.sources.Incremental

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  // A partition-wise derivation: per-document word stats. Keeps `lang`
  // (the partition column) so the output tree mirrors the input tree.
  private def derive(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"),
      size(split(col("text"), " ")).as("n_words"),
      length(col("text")).as("n_chars_out"))

  test("re-run on a grown tree processes only new partitions, equals full recompute") {
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 4, s"fixture has too few langs: ${langs.toSeq}")
    val (first, grown) = langs.splitAt(2)
    val inDir = tmp("graft_inc_in")
    val outDir = tmp("graft_inc_out")

    // Day 1: two languages land; first run processes both.
    docs.filter(col("lang").isin(first: _*))
      .write.mode("append").partitionBy("lang").parquet(inDir)
    val run1 = Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
    assert(run1 === first.toSet)

    // Day 2: the tree grows; the re-run touches ONLY the new partitions.
    docs.filter(col("lang").isin(grown: _*))
      .write.mode("append").partitionBy("lang").parquet(inDir)
    val run2 = Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
    assert(run2 === grown.toSet)

    // A third run finds nothing to do.
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === Set.empty)

    // The incrementally-built output equals a full recompute.
    val incremental = spark.read.parquet(outDir)
      .select("doc_id", "lang", "n_words", "n_chars_out")
      .collect().map(_.toSeq).toSet
    val full = derive(spark.read.parquet(inDir))
      .collect().map(_.toSeq).toSet
    assert(incremental === full)
    assert(incremental.nonEmpty)
  }

  test("changed input partitions are reprocessed in place (P6 staleness)") {
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val inDir = tmp("graft_chg_in")
    val outDir = tmp("graft_chg_out")
    docs.write.mode("append").partitionBy("lang").parquet(inDir)
    // First run processes everything; a re-run with nothing changed is
    // a no-op.
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === langs.toSet)
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === Set.empty)
    // Grow ONE input partition (new file lands in lang=<first>): only
    // that partition is stale, and its output is rewritten in place.
    val extra = docs.filter(col("lang") === langs.head)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    extra.write.mode("append").partitionBy("lang").parquet(inDir)
    val run3 = Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
    assert(run3 === Set(langs.head))
    // The refreshed output equals a full recompute of the grown tree.
    val incremental = spark.read.parquet(outDir)
      .select("doc_id", "lang", "n_words", "n_chars_out")
      .collect().map(_.toSeq).toSet
    val full = derive(spark.read.parquet(inDir))
      .collect().map(_.toSeq).toSet
    assert(incremental === full)
    // And the changed partition's rows were not duplicated by the
    // rewrite (dynamic overwrite replaced the dir, not appended).
    assert(incremental.count(_(1) == langs.head)
      === full.count(_(1) == langs.head))
  }

  test("a changed partition that derives to zero rows leaves no stale output") {
    // A write only produces the partitions that have rows, so the
    // changed partition's old output dir has to be dropped before its
    // (empty) recompute.
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val inDir = tmp("graft_zero_in")
    val outDir = tmp("graft_zero_out")
    def lowIds(df: DataFrame): DataFrame =
      derive(df.filter(col("doc_id") < 1000000L))
    docs.write.mode("append").partitionBy("lang").parquet(inDir)
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(lowIds)
      === langs.toSet)
    // Replace langs.head's input with rows the derivation filters out.
    val gone = langs.head
    Local.rmTree(new java.io.File(s"$inDir/lang=$gone"))
    docs.filter(col("lang") === gone)
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .write.mode("append").partitionBy("lang").parquet(inDir)
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(lowIds)
      === Set(gone))
    val incremental = spark.read.parquet(outDir)
      .select("doc_id", "lang", "n_words", "n_chars_out")
      .collect().map(_.toSeq).toSet
    val full = lowIds(spark.read.parquet(inDir))
      .collect().map(_.toSeq).toSet
    assert(!incremental.exists(_(1) == gone),
      s"stale rows for lang=$gone survived the re-run")
    assert(incremental === full && incremental.nonEmpty)
  }

  test("removed source partitions retract from the output tree") {
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 3)
    val inDir = tmp("graft_rm_in")
    val outDir = tmp("graft_rm_out")
    docs.write.mode("append").partitionBy("lang").parquet(inDir)
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === langs.toSet)

    // Byte-level snapshot of an untouched partition: retraction of a
    // SIBLING partition must not rewrite it (name, size, bytes).
    val keep = langs.last
    def snapshot(dir: java.io.File): Map[String, Seq[Byte]] =
      dir.listFiles.filter(_.isFile).map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    val keepDir = new java.io.File(s"$outDir/lang=$keep")
    val before = snapshot(keepDir)
    assert(before.nonEmpty)

    // Upstream takedown: the source partition for langs.head vanishes.
    Local.rmTree(new java.io.File(s"$inDir/lang=${langs.head}"))

    // Re-sync reports the retraction; the output partition is gone,
    // the memo entry with it, and the data equals a full recompute of
    // the shrunken input.
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === Set(langs.head))
    assert(!new java.io.File(s"$outDir/lang=${langs.head}").exists)
    val incremental = spark.read.parquet(outDir)
      .select("doc_id", "lang", "n_words", "n_chars_out")
      .collect().map(_.toSeq).toSet
    val full = derive(spark.read.parquet(inDir))
      .collect().map(_.toSeq).toSet
    assert(incremental === full && incremental.nonEmpty)
    assert(!incremental.exists(_(1) == langs.head))

    // Unchanged partitions byte-untouched; a third run is a no-op.
    assert(snapshot(keepDir) === before)
    assert(Incremental.syncChanged(spark, inDir, outDir, "lang")(derive)
      === Set.empty)
  }

  test("the delta read prunes processed partitions at plan time") {
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    val inDir = tmp("graft_inc_prune")
    docs.filter(col("lang").isin(langs: _*))
      .write.mode("append").partitionBy("lang").parquet(inDir)
    // The filter syncChanged builds is on the partition column, so
    // it must become a PartitionFilter (metadata pruning), not a data
    // filter — already-processed partitions are never scanned.
    val newOnly = Seq(langs.last)
    val fresh = spark.read.parquet(inDir)
      .filter(col("lang").isin(newOnly: _*))
    val scan = fresh.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"partition filter missing:\n$scan")
    val scanned = fresh.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.partitionCount
      }
    assert(scanned === Some(1),
      s"expected exactly 1 partition scanned, got $scanned")
  }
}
