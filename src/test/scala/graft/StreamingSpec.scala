package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamDemos

/** Structured Streaming capability demos (CAP-STREAM-WM /
  * CAP-STREAM-STATE), asserted by batch equivalence on fixed fixtures —
  * Trigger.AvailableNow only, nothing wall-clock-dependent.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(prefix: String): Path = {
    val p = Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p
  }

  /** The fixture events table as a DIRECTORY (the file-stream source
    * monitors directories; the fixture is a single parquet file). */
  private lazy val eventsDir: String = {
    val d = tmpDir("graft_stream_src")
    Files.copy(java.nio.file.Paths.get(sf + "/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  /** Write rows (rawEventsSchema) as ONE parquet file named `name` in
    * `dir`, with a controlled modification time so the file source's
    * oldest-first ordering is deterministic. */
  private def writeEventsFile(dir: Path, name: String, mtime: Long,
      rows: Seq[Row]): Unit = {
    val stage = tmpDir("graft_stage")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), StreamDemos.rawEventsSchema)
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString + "/out")
    val part = new java.io.File(stage.toString + "/out").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .get
    val target = dir.resolve(name)
    Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
    target.toFile.setLastModified(mtime)
  }

  private def ns(hours: Double): Long = (hours * 3600d * 1e9).toLong

  private def ev(id: Long, tsNs: Long, user: Long = 1L): Row =
    Row(id, tsNs, user, "click", 1.0, """{"k": 1}""")

  test("CAP-STREAM-WM: streaming tumble over the fixture tree == batch q_ev_tumble") {
    // Stream the same parquet the batch query reads.
    val src = StreamDemos.eventsStream(spark, eventsDir)
    val got = StreamDemos.runAvailableNow(spark,
      StreamDemos.tumblingHourly(src), "complete", "graft_stream_tumble")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = q("q_ev_tumble")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("CAP-STREAM-SESSION: streaming session_window == batch session_window; session counts == q_ev_session") {
    import graft.streaming.StreamDemos
    val src = StreamDemos.eventsStream(spark, eventsDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val got = rows(StreamDemos.runAvailableNow(spark,
      StreamDemos.sessionizedUsers(src), "complete", "graft_stream_sess"))
    // Same aggregation in BATCH mode: identical SESSION KEYS and
    // counts exactly; the double sum compares within 1e-6 — streaming
    // state-store merge order and batch partial-agg order can differ,
    // and round(sum(double), 2) at a .005 boundary would flip on a
    // bitwise compare (the non-commuting-float-sum hazard §2.13
    // rounds away in the oracle queries).
    val batch = rows(StreamDemos.sessionizedUsers(Tables.events(spark, sf)))
    assert(got.keySet === batch.keySet)
    got.foreach { case (k, (n, sum)) =>
      assert(n === batch(k)._1, s"count diverged for $k")
      assert(math.abs(sum - batch(k)._2) <= 1e-6, s"sum diverged for $k")
    }
    assert(got.nonEmpty)
    // And the session STRUCTURE agrees with the oracle-checked batch
    // lag/sum formulation: same number of sessions per user (boundary
    // semantics can differ only on an exact-gap tie, absent here).
    val nPerUser = got.keySet.toSeq.groupBy(_._1).view.mapValues(_.size).toMap
    val oracle = q("q_ev_session").collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(nPerUser === oracle)
  }

  test("CAP-STREAM-WM: append mode drops data later than the watermark") {
    val dir = tmpDir("graft_stream_wm")
    val ckpt = tmpDir("graft_stream_ckpt").toString
    val out = tmpDir("graft_stream_out").toString + "/agg"
    def run(): Map[Long, Long] = {
      StreamDemos.runAvailableNowToParquet(spark,
        StreamDemos.tumblingHourly(StreamDemos.eventsStream(spark, dir.toString)),
        out, ckpt)
      spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    }
    // Run 1: three events in hour 0 and one in hour 2. After the run the
    // checkpointed watermark is 02:00 - 30min = 01:30, and the hour-0
    // window (end 01:00 <= watermark) is finalized and emitted.
    writeEventsFile(dir, "f1.parquet", mtime = 1_000_000L, rows = Seq(
      ev(1, ns(0.10)), ev(2, ns(0.20)), ev(3, ns(0.30)), ev(4, ns(2.0))))
    assert(run() === Map(0L -> 3L))
    // Run 2 recovers the checkpoint (watermark restored at 01:30) and
    // sees only the new file: a late event back in hour 0 — its window
    // is already finalized, so the watermark DROPS it — plus a fresh
    // event in hour 10, which advances the watermark and finalizes the
    // hour-2 window. The hour-0 row must still read exactly 3.
    writeEventsFile(dir, "f2.parquet", mtime = 2_000_000L, rows = Seq(
      ev(5, ns(0.75)), ev(6, ns(10.0))))
    assert(run() === Map(0L -> 3L, 7_200_000_000L -> 1L),
      "late event must not resurrect the closed hour-0 window")
  }

  test("CAP-STREAM-DEDUP: exactly-once ingestion dedup by event_id") {
    val dir = tmpDir("graft_stream_dedup")
    // Duplicate event 2 within the first file, and re-deliver event 1
    // in the second file (the at-least-once redelivery case).
    writeEventsFile(dir, "f1.parquet", mtime = 1_000_000L, rows = Seq(
      ev(1, ns(0.1)), ev(2, ns(0.2)), ev(2, ns(0.2)), ev(3, ns(0.3))))
    writeEventsFile(dir, "f2.parquet", mtime = 2_000_000L, rows = Seq(
      ev(1, ns(0.1)), ev(4, ns(0.4))))
    // dropDuplicatesWithinWatermark: dedup state for a key is EVICTED
    // once the watermark passes its event time + delay — bounded state,
    // unlike dropDuplicates(key) where a non-event-time key set keeps
    // state forever.
    val src = StreamDemos.eventsStream(spark, dir.toString,
      maxFilesPerTrigger = Some(1))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val got = StreamDemos.runAvailableNow(spark, src.select("event_id"),
      "append", "graft_stream_dedup")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("CAP-STREAM-JOIN: stream-static dimension join == batch join") {
    val dim = spark.createDataFrame(Seq(
      ("click", "engagement"), ("view", "engagement"),
      ("purchase", "revenue"), ("signup", "growth"),
      ("error", "ops"))).toDF("event_type", "category")
    val src = StreamDemos.eventsStream(spark, eventsDir)
      .join(dim, "event_type")
      .groupBy("category").agg(count(lit(1)).as("n"))
    val got = StreamDemos.runAvailableNow(spark, src, "complete",
      "graft_stream_join")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sf).join(dim, "event_type")
      .groupBy("category").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === batch)
    assert(got.values.sum === 1000L)
  }

  test("CAP-STREAM-SSJOIN: watermarked stream-stream interval join == batch") {
    // BOTH join sides are streams (a self-join split of the event
    // stream); the watermark + interval condition is what bounds the
    // buffered state. Inner join → every match emits in append mode.
    val got = StreamDemos.runAvailableNow(spark,
      StreamDemos.clickPurchaseJoin(StreamDemos.eventsStream(spark, eventsDir)),
      "append", "graft_stream_ssjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ev = Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val batch = p.join(c,
        col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user"), col("p_id"), col("c_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
    assert(got.nonEmpty, "fixture must contain click→purchase pairs")
  }

  test("CAP-STREAM-DEDUP-WM: replayed rows drop while dedup state stays watermark-bounded") {
    // An at-least-once transport: micro-batch 2 redelivers ALL of
    // micro-batch 1 (plus one genuinely new event). The watermark-
    // bounded dedup must emit each event exactly once — and unlike
    // plain dropDuplicates it holds state only for events newer than
    // the watermark, so the replayed rows are dropped either by the
    // dedup state (not yet evicted) or as late data (behind the
    // watermark); both paths mean "already delivered".
    val d = tmpDir("graft_stream_dedup")
    val batch1 = Seq(ev(1, ns(1.0)), ev(2, ns(1.2)), ev(3, ns(1.4)))
    writeEventsFile(d, "b1.parquet", 1000000L, batch1)
    writeEventsFile(d, "b2.parquet", 2000000L,
      batch1 :+ ev(4, ns(1.6)))
    val got = StreamDemos.runAvailableNow(spark,
      StreamDemos.dedupedEvents(StreamDemos.eventsStream(spark, d.toString,
        maxFilesPerTrigger = Some(1))),
      "append", "graft_stream_dedupwm")
      .collect().map(_.getLong(0))
    assert(got.length === 4, s"expected exactly-once delivery, got ${got.toSeq}")
    assert(got.toSet === Set(1L, 2L, 3L, 4L))
  }

  test("CAP-STREAM-CURATE: streaming quality filter + content dedup == batch") {
    // Documents fixture as a watched directory.
    val d = tmpDir("graft_stream_docs")
    Files.copy(java.nio.file.Paths.get(sf + "/documents.parquet"),
      d.resolve("documents.parquet"))
    val got = StreamDemos.runAvailableNow(spark,
      StreamDemos.curatedDocuments(spark, d.toString),
      mode = "append", name = "curated_docs")
    // Batch equivalent: same quality floor, one survivor per content
    // hash. The stream keeps the FIRST arrival per hash (arbitrary
    // within a batch file), so compare the hash set and per-hash
    // quality, not survivor doc_ids.
    val batch = Tables.documents(spark, sf)
      .withColumn("quality", graft.ops.TextSim.qualityScore)
      .filter(col("quality") >= 0.62)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(first("quality").as("quality"))
    val gotPairs = got.select("text_md5", "quality").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    val wantPairs = batch.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(gotPairs === wantPairs)
    assert(gotPairs.nonEmpty)
    // Exactly one surviving row per content hash.
    assert(got.count() === got.select("text_md5").distinct().count())
  }

  test("CAP-STREAM-STATE: mapGroupsWithState running counts == batch groupBy") {
    val src = StreamDemos.eventsStream(spark, eventsDir)
    val counts = StreamDemos.statefulUserCounts(spark, src)
    val got = StreamDemos.runAvailableNow(spark, counts.toDF(), "update",
      "graft_stream_state")
      .groupBy("user_id").agg(max("n_events").as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val batch = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === batch)
  }

  test("CAP-STREAM-INGEST: streamed micro-batches == sequential ingestBatch; re-run is a no-op") {
    import graft.ops.Sketches
    val inDir = tmpDir("graft_ingest_in").toString
    val ck = tmpDir("graft_ingest_ck").toString
    val out = tmpDir("graft_ingest_out").toString + "/verdicts"
    // Day 1: the fixture ingest batch; day 2: verbatim copies of day 1
    // under fresh ids — catchable ONLY via day-1 admissions in the
    // maintained index.
    val b1 = Sketches.defaultBatch(spark, sf)
    val b2 = b1.select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    def verdictSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "dup_of", "n_dups", "is_dup").collect().map { r =>
        (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
          r.getLong(2), r.getBoolean(3))
      }.toSet
    // Stream: one availableNow pass per arriving file (arrival order
    // pinned by running the pass between writes).
    b1.coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.ingestDocBatches(spark, sf, inDir, ck, out, "strming")
    b2.coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.ingestDocBatches(spark, sf, inDir, ck, out, "strming")
    val streamed = spark.read.parquet(out)
    // Sequential reference: the same two batches through the batch verb
    // on a FRESH index instance.
    val ref1 = verdictSet(Sketches.ingestBatch(spark, sf, b1, "strmref"))
    val ref2 = verdictSet(Sketches.ingestBatch(spark, sf, b2, "strmref"))
    assert(verdictSet(streamed) === (ref1 ++ ref2),
      "streamed verdicts diverge from the sequential batch verb")
    // Day-2 visibility THROUGH THE STREAM: every day-2 copy of a day-1
    // admission is flagged against its day-1 id.
    val day1Admitted = ref1.collect { case (id, _, _, false) => id }
    assert(day1Admitted.nonEmpty)
    val day2 = verdictSet(streamed).filter(_._1 >= 2000000L)
      .map(v => (v._1, v._2)).toMap
    day1Admitted.foreach { id =>
      assert(day2.get(id + 1000000L).contains(id),
        s"day-2 copy of admitted $id not flagged via the maintained index")
    }
    // P6 on the streaming surface: nothing new in inDir => the pass
    // processes nothing and appends nothing.
    val n = streamed.count()
    StreamDemos.ingestDocBatches(spark, sf, inDir, ck, out, "strming")
    assert(spark.read.parquet(out).count() === n)
  }

  test("CAP-STREAM-KMEANS: streamed embedding scoring == batch kmeansAssign") {
    // The stateless literal E-step over a stream must route every
    // vector to the SAME (cid, dist2) as the batch operator — the
    // equality is structural (same frozen centroids, same projection),
    // asserted end-to-end through the streaming source and sink.
    val inDir = tmpDir("graft_kms_in").toString
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    // two files => two micro-batches under maxFilesPerTrigger=1
    sample.filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    sample.filter(col("vec_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    val streamed = StreamDemos.runAvailableNow(spark,
      StreamDemos.scoredVecStream(spark, sf, inDir),
      "append", "kmeans_scored")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val expectIds = sample.select("vec_id").collect().map(_.getLong(0)).toSet
    val batch = ops.Clustering
      .kmeansAssign(spark, sf, ops.Clustering.kOf(spark))
      .filter(col("vec_id").isInCollection(expectIds))
      .select("vec_id", "cid", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("CAP-STREAM-KMEANS: the stateless stream serves every exact K (k=80 == batch assign)") {
    // K = 80 is past the old 64-centroid literal bound but exact: the
    // stateless literal stream must take it and equal batch assignment
    // row for row.
    val s80 = spark.newSession()
    s80.conf.set("spark.graft.kmeans.k", "80")
    val inDir = tmpDir("graft_kms80_in").toString
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    sample.filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    sample.filter(col("vec_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    val streamed = StreamDemos.runAvailableNow(s80,
      StreamDemos.scoredVecStream(s80, sf, inDir),
      "append", "kmeans_scored_k80")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val expectIds = sample.select("vec_id").collect().map(_.getLong(0)).toSet
    val b = ops.Clustering.base(s80, sf)
    val batch = ops.Clustering
      .assign(b, ops.Clustering.centroids(s80, sf, 80))
      .filter(col("vec_id").isInCollection(expectIds))
      .select("vec_id", "cid", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed.length === expectIds.size)
    assert(streamed === batch)
  }

  test("CAP-STREAM-KMEANS-LARGE-K: foreachBatch large-K scoring == batch assign") {
    // The large-K twin scoredVecStream's require prescribes: each
    // micro-batch scores through the SAME assign dispatch as batch —
    // at k=80 the exact literal E-step — and must reproduce
    // the batch assignment row-for-row across two micro-batch files.
    val inDir = tmpDir("graft_kmsL_in").toString
    val ck = tmpDir("graft_kmsL_ck").toString
    val out = tmpDir("graft_kmsL_out").toString + "/scored"
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    sample.filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    sample.filter(col("vec_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.scoredVecBatches(spark, sf, inDir, ck, out, k = 80)
    val streamed = spark.read.parquet(out)
      .select("vec_id", "cid", "dist2") // + a `batch` partition column
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val expectIds = sample.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val batch = ops.Clustering
      .kmeansAssign(spark, sf, 80)
      .filter(col("vec_id").isInCollection(expectIds))
      .select("vec_id", "cid", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // exactly-once: a second AvailableNow pass with nothing new
    // appends nothing (the P6 memo on the streaming surface)
    StreamDemos.scoredVecBatches(spark, sf, inDir, ck, out, k = 80)
    assert(spark.read.parquet(out).count() === streamed.length.toLong)
  }

  test("CAP-STREAM-KMEANS-FRAME: foreachBatch frame scoring == batch kmeansAssignFrame") {
    // The far-K streaming twin (r17): past DriverStateMaxK the
    // array-history stream refuses, so continuous scoring must ride
    // the centroid FRAME — coarsened once at stream start, scored per
    // micro-batch, bit-equal to the batch frame assignment across two
    // micro-batch files, with the exactly-once no-op on a re-run.
    val inDir = tmpDir("graft_kmsF_in").toString
    val ck = tmpDir("graft_kmsF_ck").toString
    val out = tmpDir("graft_kmsF_out").toString + "/scored"
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    sample.filter(col("vec_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    sample.filter(col("vec_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.scoredVecBatchesFrame(spark, sf, inDir, ck, out, k = 80)
    val streamed = spark.read.parquet(out)
      .select("vec_id", "cid", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val expectIds = sample.select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val batch = ops.Clustering.kmeansAssignFrame(spark, sf, 80)
      .filter(col("vec_id").isInCollection(expectIds))
      .select("vec_id", "cid", "dist2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch,
      "frame stream diverges from batch kmeansAssignFrame")
    // exactly-once: a second AvailableNow pass with nothing new is a no-op
    StreamDemos.scoredVecBatchesFrame(spark, sf, inDir, ck, out, k = 80)
    assert(spark.read.parquet(out).count() === streamed.length.toLong)
  }

  test("CAP-STREAM-CUSUM: per-key monitor carries state across batches == one-shot replay") {
    // The live changepoint monitor: a planted +30% shift in 'canary'
    // split across TWO micro-batch files (hours 0-59, 60-95) must
    // produce EXACTLY the rows of a one-shot cusumFrom replay over the
    // whole series — the state handoff at the file boundary is the
    // thing under test. 'steady' never flags; 'unmonitored' (no
    // baseline) emits nothing.
    val s = spark
    import s.implicits._
    val inDir = tmpDir("graft_cusum_in").toString
    def rows(key: String, hours: Range, n: Long => Long) =
      hours.map(h => (key, h.toLong * 3600000000L, n(h.toLong)))
    val canary = rows("canary", 0 until 96,
      h => if (h < 48) 100L else 130L)
    val steady = rows("steady", 0 until 96, _ => 1000L)
    val ghost = rows("unmonitored", 0 until 96, _ => 7L)
    def file(part: Range): Unit =
      (canary ++ steady ++ ghost).filter(t =>
          part.contains((t._2 / 3600000000L).toInt))
        .toDF("event_type", "hour_us", "n")
        .coalesce(1).write.mode("append").parquet(inDir)
    file(0 until 60)
    file(60 until 96)
    val baseline = Map("canary" -> 100L, "steady" -> 1000L)
    val got = StreamDemos.runAvailableNow(spark,
      StreamDemos.changepointStream(spark, inDir, baseline),
      "append", "cusum_stream")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6)))
    assert(!got.exists(_._1 == "unmonitored"),
      "keys without a baseline must be unscored")
    def replay(key: String, series: Seq[(String, Long, Long)], mu: Long) =
      ops.Events.cusumFrom(series.map(t => (t._2, t._3)).toIndexedSeq, mu)
        .map { case (h, n, su, sd, fu, fd) => (key, h, n, su, sd, fu, fd) }
    val expected = (replay("canary", canary, 100L) ++
      replay("steady", steady, 1000L)).sorted.toSeq
    assert(got.sorted.toSeq === expected)
    // the planted shift actually fires through the stream
    assert(got.exists(r => r._1 == "canary" && r._6), "flag_up never fired")
    assert(got.filter(_._1 == "steady").forall(r => !r._6 && !r._7))
    // OUT-OF-ORDER delivery is refused, not silently mis-scored: a
    // backfill file carrying hours BEFORE the already-scored ones must
    // terminate the query with the monotonicity error (the recurrence
    // is order-sensitive; this is the loud-guard discipline)
    rows("canary", 96 until 100, _ => 100L)
      .toDF("event_type", "hour_us", "n")
      .coalesce(1).write.mode("append").parquet(inDir)
    file(0 until 10) // stale backfill arrives AFTER later hours
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamDemos.runAvailableNow(spark,
        StreamDemos.changepointStream(spark, inDir, baseline),
        "append", "cusum_stream2",
        checkpoint = Some(tmpDir("graft_cusum_ck2").toString))
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("out-of-order hourly rollup"), msgs(ex))
  }

  test("CAP-STREAM-CUSUM: intra-batch duplicate (key, hour) rollup is refused (r15 advice)") {
    // r15 advice #1: the order guard only compared the first sorted
    // in-batch hour against the carried state, so a duplicate
    // (key, hour) row arriving WITHIN one micro-batch file (an
    // at-least-once upstream writer emitting the same rollup twice)
    // passed silently and double-accumulated the order-sensitive
    // CUSUM state. Strict monotonicity now holds across consecutive
    // sorted in-batch entries too.
    val s = spark
    import s.implicits._
    val inDir = tmpDir("graft_cusum_dup_in").toString
    val rows = (0 until 24).map(h => ("canary", h.toLong * 3600000000L, 100L))
    (rows ++ rows.slice(10, 11)) // hour 10 delivered twice in ONE file
      .toDF("event_type", "hour_us", "n")
      .coalesce(1).write.mode("append").parquet(inDir)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamDemos.runAvailableNow(spark,
        StreamDemos.changepointStream(spark, inDir, Map("canary" -> 100L)),
        "append", "cusum_dup")
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("duplicate hourly rollup"), msgs(ex))
  }

  test("CAP-STREAM-DECONTAM: streamed flags over the train/val docs == batch q_mix_decontam_split") {
    // Ingest-time decontamination: the corpus's own non-test docs fed
    // as TWO micro-batch files must produce exactly the batch query's
    // (doc_id, n_shared, contaminated) rows — the frozen test-split
    // gram baseline and the ≥ 3 bar are the same machinery, and the
    // file boundary must be invisible (each doc arrives whole).
    val inDir = tmpDir("graft_dcs_in").toString
    val ck = tmpDir("graft_dcs_ck").toString
    val out = tmpDir("graft_dcs_out").toString + "/flags"
    val docs = Tables.documents(spark, sf)
    val nonTest = docs.join(
      Registry.byName("q_mix_split_dedup").df(spark, sf)
        .filter(col("split") =!= "test").select("doc_id"), "doc_id")
      .select("doc_id", "text")
    nonTest.filter(col("doc_id") % 2 === 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    nonTest.filter(col("doc_id") % 2 =!= 0)
      .coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.decontamStream(spark, sf, inDir, ck, out)
    val streamed = spark.read.parquet(out)
      .select("doc_id", "n_shared", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    val batch = Registry.byName("q_mix_decontam_split").df(spark, sf)
      .select("doc_id", "n_shared", "contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    assert(streamed.nonEmpty, "decontam stream emitted nothing")
    assert(streamed === batch)
    // exactly-once: a second AvailableNow pass with nothing new is a
    // no-op (and the resumed-checkpoint guard accepts the intact dir)
    StreamDemos.decontamStream(spark, sf, inDir, ck, out)
    assert(spark.read.parquet(out).count() === streamed.length.toLong)
  }

  test("CAP-STREAM-KMEANS-LARGE-K: resumed checkpoint into a retired outDir is refused") {
    // r16 review #4 — the converse of the fresh-checkpoint guard: a
    // surviving checkpoint whose committed batches' output was
    // deleted would otherwise resume at batch id > 0 and build a
    // dataset silently missing every earlier batch.
    val inDir = tmpDir("graft_kmsR_in").toString
    val ck = tmpDir("graft_kmsR_ck").toString
    val out = tmpDir("graft_kmsR_out").toString + "/scored"
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
    sample.coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.scoredVecBatches(spark, sf, inDir, ck, out, k = 80)
    assert(spark.read.parquet(out).count() > 0)
    // retire the output but keep the checkpoint, then feed a new file
    Local.rmTree(new java.io.File(out))
    sample.limit(3).coalesce(1).write.mode("append").parquet(inDir)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamDemos.scoredVecBatches(spark, sf, inDir, ck, out, k = 80)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("holds no batch partitions"), msgs(ex))
  }

  test("CAP-STREAM-KMEANS-LARGE-K: fresh checkpoint into a reused outDir is refused (r15 advice)") {
    // r15 advice #2: batch ids restart at 0 under a new checkpointDir,
    // so partitions surviving from a longer prior run would mix into
    // the new output via partition discovery. batch 0 firing into an
    // outDir already holding OTHER batch partitions must fail loudly
    // (batch=0 itself is the legitimate same-run crash-replay target).
    val inDir = tmpDir("graft_kmsG_in").toString
    val out = tmpDir("graft_kmsG_out").toString + "/scored"
    Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("append").parquet(inDir)
    // simulate the longer prior run: an orphan batch=1 partition
    spark.range(1).select(lit(1L).as("vec_id"), lit(0L).as("cid"),
        lit(0L).as("dist2"))
      .write.parquet(out + "/batch=1")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamDemos.scoredVecBatches(spark, sf, inDir,
        tmpDir("graft_kmsG_ck").toString, out, k = 80)
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("must be created/retired together"), msgs(ex))
  }

  test("scoredVecStream fails loudly on an out-of-domain coordinate (r14 advice)") {
    // Batch entry points guard the -4 quantization shift at train time
    // (checkDomain / trainHistory require); a streamed coordinate at or
    // below the shift must terminate the query with the domain error,
    // never score a plausible-looking (cid, dist2) from a silently
    // negative quantized value.
    val inDir = tmpDir("graft_kms_bad_in").toString
    val s = spark
    import s.implicits._
    Seq((999999L, Seq(-5.0f) ++ Seq.fill(63)(0.1f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(inDir)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamDemos.runAvailableNow(spark,
        StreamDemos.scoredVecStream(spark, sf, inDir),
        "append", "kmeans_scored_bad")
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("out of the quantization domain")),
      s"unexpected failure: ${messages(ex)}")
  }

  test("CAP-STREAM-INGEST: streamed embedding batches become ANN search targets") {
    import graft.ops.Sketches
    val inDir = tmpDir("graft_vec_in").toString
    val ck = tmpDir("graft_vec_ck").toString
    val name = "strmvec"
    // Batch: every 83rd corpus vector re-submitted verbatim under a
    // fresh id, arriving AS A STREAM (float on disk, like the fixture).
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    base.filter(col("vec_id") % 83 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"))
      .coalesce(1).write.mode("append").parquet(inDir)
    StreamDemos.ingestVecBatches(spark, sf, inDir, ck, name)
    // Search the instance for the batch's SOURCE vectors: each source's
    // streamed copy must be the exact d2-0 top hit — impossible
    // unless the stream's upsert reached store, assignments and codes.
    val queries = base.filter(col("vec_id") % 83 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val top = Sketches.ivfpqSearch(spark, sf, queries,
        nprobe = c => math.ceil(0.8 * c).toInt.max(2),
        rerank = n0 => math.max(32, (n0 / 3).toInt), k = 1, name = name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(top.nonEmpty)
    top.foreach { case (qid, nid, d2) =>
      assert(nid === qid + 1000000L && d2 === 0L,
        s"query $qid: streamed copy not found (got $nid at d2 $d2)")
    }
  }
}
