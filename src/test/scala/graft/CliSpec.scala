package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fm-shaped CLI: map-cmd over lines, hash-bucket shuffle,
  * reduce-cmd per bucket — end results equal the declarative engine's.
  */
class CliSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(p: String): String = {
    val d = Files.createTempDirectory(p)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("map + bucket-shuffle + reduce equals the declarative word count") {
    val in = tmp("graft_cli_in")
    val out = tmp("graft_cli_out")
    // A small text tree: one doc per line.
    Tables.documents(spark, sf).select("text").limit(100)
      .coalesce(2).write.mode("overwrite").text(in)
    // fm-style pipeline: tokenize in the mapper (one word per line),
    // count in the reducer (sort | uniq -c inside the bucket).
    Cli.run(spark, in + "/*.txt", out,
      mapCmd = "tr ' ' '\\n'",
      reduceCmd = Some("sort | uniq -c"), buckets = 4)
    val got = spark.read.text(out)
      .collect().map { r =>
        val parts = r.getString(0).trim.split("\\s+", 2)
        (if (parts.length > 1) parts(1) else "", parts(0).toLong)
      }.toMap
    val want = spark.read.text(in)
      .select(explode(split(col("value"), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // The hash shuffle must have made each word's count COMPLETE in
    // exactly one bucket — no partials to merge, unlike a map-only run.
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("chained map stages compose like a shell pipeline") {
    val in = tmp("graft_cli_in3")
    val out = tmp("graft_cli_out3")
    Tables.documents(spark, sf).select("text").limit(50)
      .write.mode("overwrite").text(in)
    // Stage 1 tokenizes, stage 2 uppercases, reduce counts — the
    // fm-style multi-stage chain, fused per partition.
    Cli.runStages(spark, in + "/*.txt", out,
      mapCmds = Seq("tr ' ' '\\n'", "tr 'a-z' 'A-Z'"),
      reduceCmd = Some("sort | uniq -c"), buckets = 4)
    val got = spark.read.text(out)
      .collect().map { r =>
        val parts = r.getString(0).trim.split("\\s+", 2)
        (if (parts.length > 1) parts(1) else "", parts(0).toLong)
      }.toMap
    val want = spark.read.text(in)
      .select(explode(split(upper(col("value")), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  /** Parse `sort | uniq -c` output into word -> count. */
  private def parseCounts(dir: String): Map[String, Long] =
    spark.read.text(dir).collect().map { r =>
      val parts = r.getString(0).trim.split("\\s+", 2)
      (if (parts.length > 1) parts(1) else "", parts(0).toLong)
    }.toMap

  /** Declarative recompute of the full pipeline over the whole tree. */
  private def fullRecompute(inGlob: String): Map[String, Long] =
    spark.read.text(inGlob)
      .select(explode(split(upper(col("value")), " ")).as("w"))
      .groupBy("w").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

  /** (file name -> mtime) for every data file under `dir`, recursive. */
  private def mtimes(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath -> f.lastModified).toMap
  }

  test("memoized fm re-run re-pipes only new/changed partitions (P6)") {
    val in = tmp("graft_cli_p6_in")
    val out = tmp("graft_cli_p6_out")
    val docs = Tables.documents(spark, sf)
    def slice(m: Int) = docs.filter(col("doc_id") % 3 === m).select("text")
    slice(0).write.mode("overwrite").text(s"$in/src=a")
    slice(1).write.mode("overwrite").text(s"$in/src=b")
    val mapCmds = Seq("tr ' ' '\\n'", "tr 'a-z' 'A-Z'")

    // Run 1 processes both partitions; output equals a full recompute.
    val run1 = Cli.runStagesMemoized(spark, in, out, "src", mapCmds,
      reduceCmd = Some("sort | uniq -c"), buckets = 4)
    assert(run1 === Set("a", "b"))
    assert(parseCounts(s"$out/reduce") === fullRecompute(s"$in/src=*"))
    val mapA = mtimes(s"$out/map/src=a")
    assert(mapA.nonEmpty)

    // The tree grows: a NEW partition lands and an existing one gets
    // an extra file. The re-run pipes ONLY those two — partition a's
    // mapped output is untouched on disk (its lines never re-piped) —
    // and the reduce output still equals a full recompute.
    slice(2).write.mode("overwrite").text(s"$in/src=c")
    slice(1).limit(5).write.mode("append").text(s"$in/src=b")
    val run2 = Cli.runStagesMemoized(spark, in, out, "src", mapCmds,
      reduceCmd = Some("sort | uniq -c"), buckets = 4)
    assert(run2 === Set("b", "c"))
    assert(mtimes(s"$out/map/src=a") === mapA,
      "unchanged partition's mapped output was rewritten")
    assert(parseCounts(s"$out/reduce") === fullRecompute(s"$in/src=*"))

    // A third run is a fully-memoized no-op: nothing re-piped, nothing
    // rewritten (map OR reduce).
    val reduceBefore = mtimes(s"$out/reduce")
    assert(Cli.runStagesMemoized(spark, in, out, "src", mapCmds,
      reduceCmd = Some("sort | uniq -c"), buckets = 4) === Set.empty)
    assert(mtimes(s"$out/reduce") === reduceBefore)
  }

  test("memoized fm re-run retracts a deleted input partition") {
    val in = tmp("graft_cli_rm_in")
    val out = tmp("graft_cli_rm_out")
    val docs = Tables.documents(spark, sf)
    def slice(m: Int) = docs.filter(col("doc_id") % 2 === m).select("text")
    slice(0).write.mode("overwrite").text(s"$in/src=a")
    slice(1).write.mode("overwrite").text(s"$in/src=b")
    def rerun() = Cli.runStagesMemoized(spark, in, out, "src",
      Seq("tr ' ' '\\n'", "tr 'a-z' 'A-Z'"),
      reduceCmd = Some("sort | uniq -c"), buckets = 4)
    assert(rerun() === Set("a", "b"))

    // Upstream takedown: partition b's input vanishes. The re-run
    // reports it, drops its mapped output, and the reduce equals a
    // full recompute of what is left.
    Local.rmTree(new java.io.File(s"$in/src=b"))
    assert(rerun() === Set("b"))
    assert(!new java.io.File(s"$out/map/src=b").exists)
    assert(parseCounts(s"$out/reduce") === fullRecompute(s"$in/src=*"))
    assert(rerun() === Set.empty)

    // The last partition goes too: a reduce over nothing is empty.
    Local.rmTree(new java.io.File(s"$in/src=a"))
    assert(rerun() === Set("a"))
    assert(parseCounts(s"$out/reduce") === Map.empty)
  }

  test("map-only run streams every line through the command") {
    val in = tmp("graft_cli_in2")
    val out = tmp("graft_cli_out2")
    Tables.documents(spark, sf).select("text").limit(50)
      .write.mode("overwrite").text(in)
    Cli.run(spark, in + "/*.txt", out, mapCmd = "tr 'a-z' 'A-Z'")
    val got = spark.read.text(out).collect().map(_.getString(0)).sorted
    val want = spark.read.text(in)
      .select(upper(col("value"))).collect().map(_.getString(0)).sorted
    assert(got.toSeq === want.toSeq)
  }

  test("put/get round-trip a bucketed tree; bucket get partition-prunes") {
    val in = tmp("graft_put_in")
    val tree = tmp("graft_put_tree")
    Tables.documents(spark, sf).select("text").limit(60)
      .coalesce(2).write.mode("overwrite").text(in)
    Cli.put(spark, in + "/*.txt", tree, buckets = 8)
    // Round-trip: the multiset of lines survives put + get.
    val got = Cli.get(spark, tree).select("line")
      .collect().map(_.getString(0)).sorted
    val want = spark.read.text(in).collect().map(_.getString(0)).sorted
    assert(got.toSeq === want.toSeq)
    // Co-location: every occurrence of a line lives in exactly ONE
    // bucket (the same contract as the reduce shuffle).
    val spread = Cli.get(spark, tree)
      .groupBy("line").agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") > 1).count()
    assert(spread === 0L)
    // Bucket get: only the named bucket=dir's files are scanned
    // (partition prune, pinned via the scan's numFiles metric).
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.get
    }
    val filesIn3 = new java.io.File(tree, "bucket=3").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    val one = Cli.get(spark, tree, onlyBuckets = Seq(3))
    assert(scannedFiles(one) === filesIn3.toLong,
      "bucket get scanned beyond bucket=3")
    assert(scannedFiles(Cli.get(spark, tree)) > filesIn3.toLong)
    assert(one.collect().forall(_.getInt(1) === 3))
    // Append: a second batch joins the tree without disturbing the
    // first; identical lines land in their existing buckets.
    Cli.put(spark, in + "/*.txt", tree, buckets = 8, append = true)
    val doubled = Cli.get(spark, tree).count()
    assert(doubled === got.length * 2L)
    assert(Cli.get(spark, tree)
      .groupBy("line").agg(countDistinct("bucket").as("nb"))
      .filter(col("nb") > 1).count() === 0L)
  }

  test("media subcommand dumps real decoded metadata as TSV lines") {
    val in = java.nio.file.Files.createTempDirectory("graft_cli_media")
    val out = java.nio.file.Files
      .createTempDirectory("graft_cli_media_out").toString + "/meta"
    // A real 24-bpp BMP (3x2) and a real PCM WAV (8 kHz, 1 s).
    val bmp = java.nio.ByteBuffer.allocate(54 + 8 * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(70).putInt(0).putInt(54)
    bmp.putInt(40).putInt(3).putInt(2).putShort(1).putShort(24)
    bmp.putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    java.nio.file.Files.write(in.resolve("img.bmp"), bmp.array())
    val wav = java.nio.ByteBuffer.allocate(44 + 16000)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes).putInt(36 + 16000).put("WAVE".getBytes)
    wav.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
    wav.putInt(8000).putInt(16000).putShort(2).putShort(16)
    wav.put("data".getBytes).putInt(16000)
    java.nio.file.Files.write(in.resolve("tone.wav"), wav.array())
    Cli.mediaMeta(spark, in.toString + "/*", out)
    val lines = spark.read.text(out).collect().map(_.getString(0))
      .map(_.split("\t")).map(f => f(0).split('/').last -> f).toMap
    assert(lines("img.bmp")(2) === "bmp" && lines("img.bmp")(3) === "3" &&
      lines("img.bmp")(4) === "2")
    assert(lines("tone.wav")(2) === "wav" &&
      lines("tone.wav")(6) === "1000") // 8000 samples at 8 kHz
  }

  test("query subcommand runs a registry query to TSV and matches the engine") {
    val out = Files.createTempDirectory("graft_cli_query").toString
    Cli.runQuery(spark, "q_agg_group", TestSpark.sf, out)
    val rows = spark.read.text(out).collect().map(_.getString(0)).toSeq
    val want = q("q_agg_group").collect().map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    }.mkString("\t")).toSeq
    assert(rows.sorted === want.sorted)
    // Column header lands beside the parts, not interleaved with data.
    val hdr = Files.readString(java.nio.file.Paths.get(out, "_columns.tsv"))
    assert(hdr.trim.split("\t").toSeq ===
      q("q_agg_group").columns.toSeq)
    // Unknown names fail loudly, not with an empty dir.
    intercept[IllegalArgumentException] {
      Cli.runQuery(spark, "q_nope", TestSpark.sf, out + "2")
    }
  }

  test("sql subcommand runs ad-hoc SQL over the recipe-loaded tables") {
    val out = Files.createTempDirectory("graft_cli_sql").toString
    // events goes through Tables, so ts is usable directly — the recipe
    // dispatch applies to ad-hoc SQL exactly as to registry queries.
    Cli.runSql(spark,
      "SELECT event_type, count(*) AS n FROM events " +
        "WHERE ts IS NOT NULL GROUP BY event_type ORDER BY event_type",
      TestSpark.sf, out)
    val rows = spark.read.text(out).collect().map(_.getString(0)).toSeq
    val want = Tables.events(spark, TestSpark.sf)
      .groupBy("event_type").count().orderBy("event_type")
      .collect().map(r => s"${r.getString(0)}\t${r.getLong(1)}").toSeq
    assert(rows.sorted === want.sorted)
    val hdr = Files.readString(java.nio.file.Paths.get(out, "_columns.tsv"))
    assert(hdr.trim === "event_type\tn")
  }

  test("cluster-train / cluster-store / cluster-retrain verbs drive the persistent store") {
    // r15 verdict #5: the shell user reaches the round-15 centroid
    // machinery. train → summary says "trained"; again → "loaded"
    // (the trainCounter observable through the CLI); cluster-store
    // lists the artifact; after an in-place corpus refresh,
    // cluster-retrain recovers and the store shows both fingerprints.
    val store = tmp("graft_cli_kmstore")
    val dir = tmp("graft_cli_kmcorpus")
    val emb = Tables.embeddings(spark, TestSpark.sf)
    emb.write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    val first = Cli.clusterTrain(spark, dir, store, 7)
    assert(first.startsWith("trained k=7 "), first)
    val second = Cli.clusterTrain(spark, dir, store, 7)
    assert(second.startsWith("loaded k=7 "), second)
    val listed1 = Cli.clusterStore(store)
    assert(listed1.length === 1, listed1)
    assert(listed1.head.startsWith("7\t"), listed1.head)
    // refresh the corpus in place -> plain train refuses, retrain recovers
    emb.limit(5).withColumn("vec_id", col("vec_id") + lit(800000L))
      .write.mode("append").parquet(Tables.path(dir, "embeddings"))
    intercept[IllegalArgumentException] {
      Cli.clusterTrain(spark, dir, store, 7)
    }
    val third = Cli.clusterTrain(spark, dir, store, 7, retrain = true)
    assert(third.startsWith("trained k=7 "), third)
    val listed2 = Cli.clusterStore(store)
    assert(listed2.length === 2, listed2)
    // TSV shape: k, mode, fingerprint, dim, iters
    listed2.foreach { l =>
      val f = l.split("\t")
      assert(f.length === 5, l)
      assert(f(1) === "exact", l)
    }
  }

  test("cluster verbs dispatch to the FRAME store at forced frame state (r16 verdict #7)") {
    // The fm-style shell user at far K gets the same train/load/
    // retrain lifecycle the array store has — never the driver-array
    // refusal. The fixture is far below DriverStateMaxK, so the test
    // passes the frame state through the verbs' seam.
    val store = tmp("graft_cli_fmstore")
    val dir = tmp("graft_cli_fmcorpus")
    val emb = Tables.embeddings(spark, TestSpark.sf)
    emb.write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    def train(retrain: Boolean = false) =
      Cli.clusterTrain(spark, dir, store, 7, retrain, frame = true)
    val first = train()
    assert(first.startsWith("trained k=7 ") &&
      first.contains("state=frame"), first)
    val second = train()
    assert(second.startsWith("loaded k=7 ") &&
      second.contains("state=frame"), second)
    val listed = Cli.clusterStore(store)
    assert(listed.length === 1, listed)
    val f = listed.head.split("\t")
    assert(f.length === 5 && f(0) === "7" && f(1).startsWith("frame_p"),
      listed.head)
    // in-place refresh: plain train refuses; retrain recovers and
    // the store lists both fingerprints
    emb.limit(5).withColumn("vec_id", col("vec_id") + lit(800000L))
      .write.mode("append").parquet(Tables.path(dir, "embeddings"))
    intercept[IllegalArgumentException] { train() }
    val third = train(retrain = true)
    assert(third.startsWith("trained k=7 ") &&
      third.contains("state=frame"), third)
    assert(Cli.clusterStore(store).length === 2)
  }

  test("cluster-assign rides the store: a fresh session assigns without training") {
    // The use-the-model verb: after cluster-train, a SECOND process
    // (modeled by a fresh session — cold memos, only the store can
    // explain a no-train answer) must assign every vector without
    // retraining, in BOTH state regimes.
    val store = tmp("graft_cli_asg_store")
    val dir = tmp("graft_cli_asg_corpus")
    val emb = Tables.embeddings(spark, TestSpark.sf)
    emb.write.mode("overwrite").parquet(Tables.path(dir, "embeddings"))
    val n = emb.count()
    def lines(out: String) =
      spark.read.textFile(out).count()
    // array regime
    assert(Cli.clusterTrain(spark, dir, store, 6).startsWith("trained"))
    val s2 = spark.newSession()
    val out1 = tmp("graft_cli_asg_out1")
    val r1 = Cli.clusterAssign(s2, dir, store, out1, 6)
    assert(r1.startsWith("loaded k=6 state=driver"), r1)
    assert(lines(out1) === n, "assignment lost rows")
    // frame regime (through the verbs' state seam)
    val storeF = tmp("graft_cli_asg_storef")
    assert(Cli.clusterTrain(spark.newSession(), dir, storeF, 6,
      retrain = false, frame = true).startsWith("trained k=6 "), "frame train")
    val out2 = tmp("graft_cli_asg_out2")
    val r2 = Cli.clusterAssign(spark.newSession(), dir, storeF, out2, 6,
      frame = true)
    assert(r2.startsWith("loaded k=6 state=frame"), r2)
    assert(lines(out2) === n, "frame assignment lost rows")
    // the header sidecar names the 4 output columns
    val hdr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out2, "_columns.tsv"))).trim
    assert(hdr === "vec_id\tlabel\tcid\tdist2", hdr)
  }

  test("views verb registers the tables and lists views + graft_* functions") {
    val got = Cli.views(spark, TestSpark.sf)
    val views = got.filter(_.startsWith("view\t")).map(_.split("\t")(1))
    val fns = got.filter(_.startsWith("function\t")).map(_.split("\t")(1))
    assert(views.contains("documents") && views.contains("embeddings"),
      views.toString)
    assert(fns.contains("graft_dot") && fns.contains("graft_tokens"),
      fns.toString)
    // and the listing is live: the views it names are queryable now
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
  }

  test("frames verb: animation containers fan out to re-decodable BMP files") {
    val in = tmp("graft_frames_in")
    val out = tmp("graft_frames_out")
    // a real multi-frame GIF fixture (libgif-pinned in GifSpec)
    val gif = {
      val s = getClass.getResourceAsStream("/gif_ref/anim.gif")
      try s.readAllBytes() finally s.close()
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(in, "anim.gif"), gif)
    // a still BMP must NOT fan out (no animation container sniffs it)
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "noise.bin"),
      Array.tabulate[Byte](64)(i => (i * 7).toByte))
    val n = Cli.mediaFrames(spark, s"$in/*", out)
    assert(n > 1, s"expected multiple frames, got $n")
    // one file per frame (the count doubles as the no-clobber pin:
    // colliding names would leave fewer files than frames), each named
    // <path-digest>_<readable-tail>.bmp
    val files = new java.io.File(out).listFiles().map(_.getName).sorted
    assert(files.length.toLong === n)
    assert(files.forall(f => f.matches("[0-9a-f]{32}_.*\\.bmp")),
      files.mkString(","))
    // every written frame is a spec-valid BMP the meta kernel re-reads
    import spark.implicits._
    val metas = ops.Multimodal.decodeMeta(
      ops.Multimodal.media(spark, s"$out/*")).collect()
    assert(metas.length.toLong === n)
    assert(metas.forall(_.format == "bmp"), metas.map(_.format).toSet.toString)
    // everyMs sampling reduces the count through the CLI surface too
    val out2 = tmp("graft_frames_out2")
    val n2 = Cli.mediaFrames(spark, s"$in/*", out2, everyMs = 100000L)
    assert(n2 >= 1 && n2 < n, s"sampled $n2 of $n")
  }
}
