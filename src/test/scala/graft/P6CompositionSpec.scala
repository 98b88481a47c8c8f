package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamDemos

/** The P6 composition proof: FileMap's "re-run recomputes only what's
  * new" identity holds across all three execution modes of the SAME
  * curation pipeline (quality floor + exact content dedup) on one
  * grown-tree fixture —
  *
  *   streaming (checkpointed file source, dedup state across runs)
  *     == incremental batch (partition-diff re-run over a Hive tree)
  *     == full recompute (one batch over everything)
  *
  * Equality is on the duplicate-keeper-invariant projection
  * (text_md5, quality): which doc_id survives a content-dup group is
  * arrival-order-dependent in the stream and arbitrary in batch, but
  * the SET of surviving contents and their scores must be identical.
  * Day 2 re-delivers day-1 texts under new doc_ids in a new partition,
  * so the cross-run dedup state is exercised non-vacuously.
  */
class P6CompositionSpec extends AnyFunSuite {
  import TestSpark._
  import graft.sources.Incremental

  private def tmp(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** Write `df` as ONE parquet file `dir/name` with a controlled mtime
    * (deterministic oldest-first ordering for the file-stream source). */
  private def writeDocsFile(dir: Path, name: String, mtime: Long,
      df: DataFrame): Unit = {
    val stage = tmp("graft_p6_stage")
    df.select("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(stage.toString + "/out")
    val part = new java.io.File(stage.toString + "/out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    val target = dir.resolve(name)
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    target.toFile.setLastModified(mtime)
    ()
  }

  /** The pipeline's partition-wise front half (quality + content hash;
    * keeps `lang`, the partition column). */
  private def deriveCurate(df: DataFrame): DataFrame =
    df.withColumn("quality", graft.ops.TextSim.qualityScore)
      .filter(col("quality") >= 0.62)
      .select(col("doc_id"), col("lang"), col("quality"),
        md5(col("text")).as("text_md5"))

  /** Keeper-invariant projection: the set of (content hash, quality). */
  private def invariant(df: DataFrame): Set[(String, Double)] =
    df.select("text_md5", "quality").distinct().collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet

  test("stream == incremental batch == full recompute on a grown tree") {
    val docs = Tables.documents(spark, sf)
    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.length >= 4, s"fixture has too few langs: ${langs.toSeq}")
    val (day1, day2) = langs.splitAt(2)

    val inDir = tmp("graft_p6_tree").toString     // Hive tree (batch legs)
    val streamDir = tmp("graft_p6_watch")         // flat dir (stream leg)
    val ckpt = tmp("graft_p6_ckpt").toString
    val streamOut = tmp("graft_p6_sout").toString + "/data"
    val incOut = tmp("graft_p6_iout").toString

    val b1 = docs.filter(col("lang").isin(day1: _*))
    // Day 2: the remaining languages PLUS re-deliveries — three
    // quality-passing day-1 texts under fresh doc_ids in a day-2
    // partition (the cross-run duplicate case).
    val redelivered = docs.filter(col("lang") === day1.head)
      .withColumn("quality", graft.ops.TextSim.qualityScore)
      .filter(col("quality") >= 0.62).drop("quality")
      .orderBy("doc_id").limit(3)
      .withColumn("doc_id", col("doc_id") + 900000L)
      .withColumn("lang", lit(day2.head))
    val b2 = docs.filter(col("lang").isin(day2: _*)).unionByName(redelivered)

    def landDay(df: DataFrame, name: String, mtime: Long): Unit = {
      df.write.mode("append").partitionBy("lang").parquet(inDir)
      writeDocsFile(streamDir, name, mtime, df)
    }

    def streamSet(): Set[(String, Double)] = {
      StreamDemos.runAvailableNowToParquet(spark,
        StreamDemos.curatedDocuments(spark, streamDir.toString),
        streamOut, ckpt)
      invariant(spark.read.parquet(streamOut))
    }
    def incSet(expectProcessed: Set[String]): Set[(String, Double)] = {
      val processed =
        Incremental.syncChanged(spark, inDir, incOut, "lang")(deriveCurate)
      assert(processed === expectProcessed,
        s"incremental re-run touched $processed, expected $expectProcessed")
      invariant(spark.read.parquet(incOut))
    }
    def fullSet(): Set[(String, Double)] =
      invariant(deriveCurate(spark.read.parquet(inDir)))

    // Day 1: two languages land; all three modes agree.
    landDay(b1, "b1.parquet", mtime = 1_000_000L)
    val s1 = streamSet()
    val i1 = incSet(day1.toSet)
    val f1 = fullSet()
    assert(s1.nonEmpty)
    assert(s1 === f1, "day 1: stream != full recompute")
    assert(i1 === f1, "day 1: incremental != full recompute")

    // Day 2: the tree grows (new langs + re-delivered day-1 texts).
    // The incremental leg processes ONLY the new partitions; the
    // stream leg recovers its checkpoint and processes only the new
    // file; all three modes still agree.
    landDay(b2, "b2.parquet", mtime = 2_000_000L)
    val s2 = streamSet()
    val i2 = incSet(day2.toSet)
    val f2 = fullSet()
    assert(s2 === f2, "day 2: stream != full recompute")
    assert(i2 === f2, "day 2: incremental != full recompute")
    assert(f2.size > f1.size, "growth was vacuous")

    // The re-delivery case was non-vacuous (day-2 dup texts exist in
    // day 1) and the stream deduped them across runs: one surviving
    // row per content hash in the cumulative output.
    val dupHashes = redelivered.select(md5(col("text"))).collect()
      .map(_.getString(0)).toSet
    assert(dupHashes.subsetOf(f1.map(_._1)), "re-delivered texts not in day 1")
    val cumulative = spark.read.parquet(streamOut)
    assert(cumulative.count() ===
      cumulative.select("text_md5").distinct().count(),
      "stream emitted a content hash twice across runs")
  }
}
