package graft

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** FileMap's command-line surface — `fm <inputs> <map-cmd> [n-buckets]
  * <reduce-cmd> <out>` — on the Spark engine: the migration path for a
  * user whose pipelines are shell one-liners, not DataFrames.
  *
  *   graft.Cli <input-glob> <out-dir> <map-cmd> [<reduce-cmd> [buckets]]
  *
  * Semantics mirror the reference model stage for stage:
  *  - map: every input LINE streams through `map-cmd` (one process per
  *    Spark partition — FileMap's per-file fork, amortized);
  *  - shuffle: mapper output lines HASH into `buckets` partitions
  *    (FileMap's bucket files), so all occurrences of a line land in
  *    one reducer;
  *  - reduce: each bucket streams through `reduce-cmd` (sort inside
  *    the command if it needs ordered input — same contract as piping
  *    a bucket file);
  *  - output: one text part per bucket under `out-dir`.
  *
  * Everything around the exec boundaries is the declarative engine, so
  * a glob over a partitioned tree still prunes, retries and locality
  * come from Spark, and the same run scales from a laptop to a
  * cluster unchanged.
  */
object Cli {

  def run(spark: SparkSession, glob: String, outDir: String,
      mapCmd: String, reduceCmd: Option[String] = None,
      buckets: Int = 32): Unit =
    runStages(spark, glob, outDir, Seq(mapCmd), reduceCmd, buckets)

  /** Multi-stage form: FileMap chains map stages (each stage's output
    * tree feeds the next); here the stages COMPOSE on the executors —
    * one process per stage per partition, records streaming through
    * without an intermediate tree (the same fusion a shell gets from
    * `cmd1 | cmd2`, but per partition with retries). */
  def runStages(spark: SparkSession, glob: String, outDir: String,
      mapCmds: Seq[String], reduceCmd: Option[String] = None,
      buckets: Int = 32): Unit = {
    require(mapCmds.nonEmpty, "at least one map stage")
    val mapped = mapChain(sources.Ingest.lines(spark, glob).select("line"),
      mapCmds)
    reduceCmd.fold(mapped)(bucketReduce(mapped, _, buckets))
      .write.mode("overwrite").text(outDir)
  }

  /** The map stages fused per partition: `cmd1 | cmd2 | …`. */
  private def mapChain(lines: DataFrame, mapCmds: Seq[String]): DataFrame =
    mapCmds.foldLeft(lines)((df, cmd) =>
      sources.ShellPipe.pipe(df, cmd).toDF("line"))

  /** The reduce: lines HASH into `buckets` partitions, then each bucket
    * streams through `reduceCmd`. */
  private def bucketReduce(mapped: DataFrame, reduceCmd: String,
      buckets: Int): DataFrame =
    sources.ShellPipe.pipe(mapped.repartition(buckets, col("line")),
      reduceCmd).toDF("line")

  /** P6-MEMOIZED fm pipeline over a partitioned text tree
    * (`inDir/<partCol>=v/` line files) — FileMap's defining feature
    * (re-run recomputes only what changed) on its defining surface
    * (the shell pipeline):
    *
    *  - map stages are per-line, hence per-partition independent, so
    *    they memoize by [[sources.Incremental.syncChangedEach]]: a
    *    re-run pipes ONLY new-or-changed input partitions (fingerprint
    *    diff over the file listing), overwriting just those
    *    `outDir/map/<partCol>=v` dirs; untouched partitions' outputs
    *    are not rewritten, their lines never re-piped. An input
    *    partition deleted upstream has its `map/<partCol>=v` dir
    *    deleted too, so it stops feeding the reduce;
    *  - the bucket-shuffle reduce consumes every mapper's output by
    *    construction (all occurrences of a line must meet in one
    *    bucket), so it re-runs as a whole — but only when some map
    *    partition changed or was retracted (or its output doesn't exist
    *    yet). A reduce over zero map partitions is empty;
    *  - the memo sidecar lives in the map output tree, so the state
    *    travels with the data — no external bookkeeping, same as the
    *    parquet P6 path.
    *
    * Output: map tree at `outDir/map/<partCol>=v/`, reduce result (if
    * any) at `outDir/reduce/`. Returns the partition values re-piped
    * or retracted this run (empty = fully memoized no-op). */
  def runStagesMemoized(spark: SparkSession, inDir: String, outDir: String,
      partCol: String, mapCmds: Seq[String],
      reduceCmd: Option[String] = None, buckets: Int = 32): Set[String] = {
    require(mapCmds.nonEmpty, "at least one map stage")
    val mapDir = s"$outDir/map"
    val changed = sources.Incremental.syncChangedEach(
      spark, inDir, mapDir, partCol) { v =>
      mapChain(spark.read.textFile(s"$inDir/$partCol=$v").toDF("line"),
        mapCmds).write.mode("overwrite").text(s"$mapDir/$partCol=$v")
    }
    reduceCmd.foreach { r =>
      val reduceDir = s"$outDir/reduce"
      val rp = new org.apache.hadoop.fs.Path(reduceDir)
      val fs = rp.getFileSystem(spark.sessionState.newHadoopConf())
      if (changed.nonEmpty || !fs.exists(rp)) {
        val reduced =
          if (sources.Incremental.partitionValues(spark, mapDir, partCol)
              .isEmpty) spark.emptyDataset(Encoders.STRING).toDF("line")
          else bucketReduce(spark.read.textFile(s"$mapDir/$partCol=*")
            .toDF("line"), r, buckets)
        reduced.write.mode("overwrite").text(reduceDir)
      }
    }
    changed
  }

  /** fm put: ingest a glob of line files into an explicitly-bucketed
    * text tree (`treeDir/bucket=<b>/`). Lines HASH into `buckets`
    * partitions — the same co-location contract as the reduce shuffle
    * (every occurrence of a line lands in ONE bucket), so downstream
    * per-bucket work (get, reduce, dedup) never needs a second
    * shuffle. The explicit bucket count is FileMap's bucket knob on
    * the put path. `append` adds a batch to an existing tree (same
    * hash ⇒ same buckets, so co-location survives appends); default
    * overwrites the tree. */
  def put(spark: SparkSession, glob: String, treeDir: String,
      buckets: Int = 32, append: Boolean = false): Unit = {
    require(buckets > 0, "buckets must be positive")
    sources.Ingest.lines(spark, glob).select("line")
      .withColumn("bucket", pmod(xxhash64(col("line")), lit(buckets)))
      // One shuffle task per bucket dir: without this, every shuffle
      // partition writes a sliver file into every bucket.
      .repartition(buckets, col("bucket"))
      .write.mode(if (append) "append" else "overwrite")
      .partitionBy("bucket").text(treeDir)
  }

  /** fm get: read lines back out of a [[put]] tree as (line, bucket).
    * A non-empty `onlyBuckets` list turns into a PARTITION PRUNE —
    * only the named `bucket=` directories are listed and scanned
    * (CliSpec pins this via inputFiles), the tree-scale analogue of
    * fetching one bucket file. */
  def get(spark: SparkSession, treeDir: String,
      onlyBuckets: Seq[Int] = Nil): DataFrame = {
    val all = spark.read.text(treeDir)
      .select(col("value").as("line"), col("bucket").cast("int").as("bucket"))
    if (onlyBuckets.isEmpty) all
    else all.filter(col("bucket").isin(onlyBuckets: _*))
  }

  /** `media <glob> <out-dir>`: decoded media metadata as TSV lines
    * (path, bytes, format, width, height, channels, duration_ms) —
    * the multimodal decoders on the shell surface, so an inventory of
    * a 100 TB media tree is one CLI call whose output pipes into the
    * same map/reduce stages as any other text. Header-only decode:
    * payload bytes are never deserialized for formats with cheap
    * metadata (every real parser here is). */
  def mediaMeta(spark: SparkSession, glob: String, outDir: String): Unit =
    ops.Multimodal.decodeMeta(ops.Multimodal.media(spark, glob))
      .toDF()
      .select(concat_ws("\t", col("path"), col("byte_len"), col("format"),
        col("width"), col("height"), col("channels"), col("duration_ms"))
        .as("line"))
      .write.mode("overwrite").text(outDir)

  /** `frames <glob> <out-dir> [everyMs]`: the multimodal FRAME-SAMPLE
    * verb — every animation/video container the library decodes (GIF,
    * APNG, animated WebP, AVI, and since r18 WebM/Matroska VP8 key
    * frames) fans out to per-frame 24-bpp BMPs on its presentation
    * timeline (`everyMs` sampling; 0 = every frame), one spec-valid
    * .bmp file per frame under out-dir. Frames are written from the
    * executors — FileMap's shared-POSIX-filesystem model (P5), so the
    * verb needs no driver-side collect at any corpus size. Returns
    * the frame count. */
  def mediaFrames(spark: SparkSession, glob: String, outDir: String,
      everyMs: Long = 0L): Long = {
    // one scan, per-file container dispatch (a union of the five
    // fan-outs read every file's bytes five times — r18 review #3)
    val all = ops.Multimodal.framesAsBmp(
      ops.Multimodal.media(spark, glob), everyMs)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val n = spark.sparkContext.longAccumulator("frames_written")
    all.foreachPartition { (it: Iterator[ops.Multimodal.MediaFile]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.foreach { f =>
        // flattening 'dir/a_b.gif' and 'dir/a/b.gif' into one name
        // would silently clobber (r18 review #1): a path-digest prefix
        // keeps names unique per SOURCE FILE, the readable tail keeps
        // them greppable; the #frameN suffix separates frames within
        // one source. FULL 16-byte digest (r18 advice): distinct deep
        // trees often share an 80-char tail (repeated part-00000.gif
        // basenames), and a 32-bit prefix birthday-collides — and so
        // silently overwrites frames — at ~77k such files.
        val base = f.path.substring(0, f.path.lastIndexOf('#'))
        md.reset()
        val dig = md.digest(base.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        val tail = f.path.substring(
          math.max(0, f.path.length - 80)).replaceAll("[/\\\\:#]", "_")
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${dig}_$tail.bmp"), f.content)
        n.add(1)
      }
    }
    n.value
  }

  /** `query <name> <sf-dir> <out-dir>`: any registry query from the
    * shell — results as TSV part files with a header line per part,
    * columns in the query's own order, NULLs spelled literally. `query
    * list` prints the registry names. The whole §2 surface is thereby
    * one CLI call away, same as the reference's command-line use. */
  def runQuery(spark: SparkSession, name: String, sfDir: String,
      outDir: String): Unit = {
    val spec = Registry.byName.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name'; try: graft.Cli query list"))
    // One header file alongside the parts (not interleaved per-part:
    // downstream `sort | uniq`-style pipes must see data lines only).
    writeTsv(spark, spec.df(spark, sfDir), outDir)
  }

  /** The ONE TSV-result writer behind `query`, `sql` and
    * `cluster-assign` (r17 review #6 — three verbatim copies had
    * accumulated): body as tab-joined casts with literal NULLs, one
    * text part per partition, plus the header sidecar. */
  private def writeTsv(spark: SparkSession, df: DataFrame,
      outDir: String): Unit = {
    val cols = df.columns
    df.select(concat_ws("\t",
        cols.map(c => coalesce(col(c).cast("string"), lit("NULL"))): _*)
      .as("line"))
      .write.mode("overwrite").text(outDir)
    writeColumnsHeader(spark, outDir, cols)
  }

  /** Header sidecar via Hadoop's FileSystem, so `query`/`sql` accept
    * the same URIs Spark's writer does (hdfs://, s3a://, cluster-mode
    * paths) — a java.nio write only works for local paths. */
  private def writeColumnsHeader(spark: SparkSession, outDir: String,
      cols: Array[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(outDir, "_columns.tsv")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write((cols.mkString("\t") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** `sql <statement> <sf-dir> <out-dir>`: ad-hoc Spark SQL over the
    * standard tables from the shell — the escape hatch when none of
    * the named registry queries is the question being asked. View +
    * function registration is [[Graft.registerAll]] (one copy of the
    * table list and the missing-table tolerance; via [[Tables]], so
    * the timestamp/embedding recipes apply — raw ad-hoc SQL sees the
    * same logical schema every registry query sees); output is the
    * same TSV-parts + header-file layout as `query`. */
  def runSql(spark: SparkSession, statement: String, sfDir: String,
      outDir: String): Unit = {
    Graft.registerAll(spark, sfDir)
    writeTsv(spark, spark.sql(statement), outDir)
  }

  /** `cluster-train <sf-dir> <store-dir> [k]`: train-or-load the
    * persistent centroid store from the shell — the round-15
    * machinery behind one verb. Prints one summary line whose
    * `trained|loaded` word is the work observable (the trainCounter
    * discipline): a second invocation over an unchanged corpus must
    * say `loaded`. `cluster-retrain` is the sanctioned recovery after
    * an in-place corpus refresh or a tripped q_embed_drift alarm.
    * Dispatches on the STATE regime of k (r16 verdict #7): past
    * DriverStateMaxK the verbs are the FRAME store's
    * ([[ops.Clustering.persistentFrameCentroids]] /
    * [[ops.Clustering.retrainFrameCentroids]], parquet centroid
    * table, `state=frame` in the summary line) instead of inheriting
    * the driver-array refusal; below, the array history store
    * ([[ops.Clustering.persistentCentroidHistory]] /
    * [[ops.Clustering.retrainCentroids]]). */
  def clusterTrain(spark: SparkSession, sfDir: String, storeDir: String,
      k: Int, retrain: Boolean = false): String =
    clusterTrain(spark, sfDir, storeDir, k, retrain,
      ops.Clustering.frameState(k))

  /** [[clusterTrain]] in an explicit state regime — the seam the tests
    * reach the frame store through at fixture-sized k. */
  private[graft] def clusterTrain(spark: SparkSession, sfDir: String,
      storeDir: String, k: Int, retrain: Boolean,
      frame: Boolean): String = {
    val c0 = ops.Clustering.trainCounter.get()
    if (frame) {
      val cents =
        if (retrain)
          ops.Clustering.retrainFrameCentroids(spark, sfDir, k, storeDir)
        else
          ops.Clustering.persistentFrameCentroids(spark, sfDir, k, storeDir)
      val did = if (ops.Clustering.trainCounter.get() > c0) "trained"
                else "loaded"
      val dim = cents.select(size(col("cq"))).head().getInt(0)
      s"$did k=$k dim=$dim state=frame store=$storeDir"
    } else {
      val hist =
        if (retrain) ops.Clustering.retrainCentroids(spark, sfDir, k, storeDir)
        else ops.Clustering.persistentCentroidHistory(spark, sfDir, k, storeDir)
      val did = if (ops.Clustering.trainCounter.get() > c0) "trained"
                else "loaded"
      val dim = if (hist.head.isEmpty) 0 else hist.head.head.length
      s"$did k=$k dim=$dim iters=${hist.length - 1} store=$storeDir"
    }
  }

  /** `cluster-assign <sf-dir> <store-dir> <out-dir> [k]`: assignment
    * FROM THE STORE — the use-the-model verb cluster-train lacked.
    * Across CLI invocations every `query q_embed_kmeans` call is a
    * fresh session that retrains before assigning; this verb loads
    * the persisted centroids (training only if the store has no
    * artifact for the corpus fingerprint — same content addressing as
    * cluster-train), assigns every vector, and writes the
    * (vec_id, label, cid, dist2) TSV with the usual header sidecar.
    * Dispatches on the state regime like cluster-train; the summary's
    * `trained|loaded` word is the same work observable (a second
    * process over an unchanged corpus must say `loaded` — pinned). */
  def clusterAssign(spark: SparkSession, sfDir: String, storeDir: String,
      outDir: String, k: Int): String =
    clusterAssign(spark, sfDir, storeDir, outDir, k,
      ops.Clustering.frameState(k))

  /** [[clusterAssign]] in an explicit state regime (see the
    * [[clusterTrain]] seam). */
  private[graft] def clusterAssign(spark: SparkSession, sfDir: String,
      storeDir: String, outDir: String, k: Int, frame: Boolean): String = {
    val c0 = ops.Clustering.trainCounter.get()
    val df =
      if (frame) {
        // the load seeds the artifact pointer, so the assignment's
        // frameCentroids read serves the store, never a training
        ops.Clustering.persistentFrameCentroids(spark, sfDir, k, storeDir)
        ops.Clustering.kmeansAssignFrame(spark, sfDir, k)
          .select(col("vec_id"), col("label"), col("cid"), col("dist2"))
      } else {
        // the load seeds the in-session history memo kmeansAssign reads
        ops.Clustering.persistentCentroidHistory(spark, sfDir, k, storeDir)
        ops.Clustering.kmeansAssign(spark, sfDir, k)
      }
    writeTsv(spark, df, outDir)
    val did = if (ops.Clustering.trainCounter.get() > c0) "trained"
              else "loaded"
    val state = if (frame) "frame" else "driver"
    s"$did k=$k state=$state store=$storeDir out=$outDir"
  }

  /** `cluster-store <store-dir>`: list the store's centroid artifacts
    * — one TSV line per artifact (k, mode, corpus fingerprint, dim,
    * iters), parsed from the content-addressed names + headers the
    * two stores write: array-history text files
    * ([[ops.Clustering.persistentCentroidHistory]]) and frame parquet
    * tables ([[ops.Clustering.persistentFrameCentroids]], mode
    * `frame_p<P>`, header from the `_graft_meta.txt` sidecar — no
    * Spark session needed for either). */
  def clusterStore(storeDir: String): Seq[String] = {
    val dir = new java.io.File(storeDir)
    val names = Option(dir.list()).map(_.toSeq).getOrElse(Seq.empty)
    // mode may carry the resolved probe count (exact | routed_p<P>)
    val Art = "kmeans_k(\\d+)_([a-z0-9_]+)_fp([0-9a-f]+)\\.txt".r
    val FrameArt = "kmeans_frame_k(\\d+)_p(\\d+)_fp([0-9a-f]+)\\.parquet".r
    // A foreign/corrupt artifact (missing or empty header/sidecar)
    // must not break the whole listing verb — skip that entry
    // (r17 advice #1); Using already closes the source on failure.
    def headerFields(f: java.io.File): Option[Array[String]] =
      scala.util.Using(scala.io.Source.fromFile(f))(
        _.getLines().next().split(" ")).toOption.filter(_.length >= 3)
    names.sorted.flatMap {
      case n @ Art(k, mode, fp) =>
        headerFields(new java.io.File(dir, n)).map(hdr =>
          s"$k\t$mode\t$fp\t${hdr(1)}\t${hdr(2)}")
      case n @ FrameArt(k, p, fp) =>
        headerFields(new java.io.File(new java.io.File(dir, n),
          "_graft_meta.txt")).map(hdr =>
          s"$k\tframe_p$p\t$fp\t${hdr(1)}\t${hdr(2)}")
      case _ => None
    }
  }

  /** `views <sf-dir>`: register the dir's tables + graft_* functions
    * ([[Graft.registerAll]]) and list what a SQL user now has — the
    * discovery verb for the ad-hoc surface. */
  def views(spark: SparkSession, sfDir: String): Seq[String] = {
    Graft.registerAll(spark, sfDir)
    val tables = Graft.TableNames.filter(t =>
      spark.catalog.tableExists(t)).map(t => s"view\t$t")
    val fns = org.apache.spark.sql.graftnative.GraftExtensions
      .functionNames.map(f => s"function\t$f")
    tables ++ fns
  }

  private val Usage =
    """usage: graft.Cli <input-glob> <out-dir> <map-cmd> [<reduce-cmd> [buckets]]
      |       graft.Cli put <input-glob> <tree-dir> [buckets]
      |       graft.Cli get <tree-dir> <out-dir> [bucket ...]
      |       graft.Cli media <input-glob> <out-dir>
      |       graft.Cli frames <input-glob> <out-dir> [everyMs]
      |       graft.Cli query <name>|list <sf-dir> <out-dir>
      |       graft.Cli sql <statement> <sf-dir> <out-dir>
      |       graft.Cli cluster-train|cluster-retrain <sf-dir> <store-dir> [k]
      |       graft.Cli cluster-assign <sf-dir> <store-dir> <out-dir> [k]
      |       graft.Cli cluster-store <store-dir>
      |       graft.Cli views <sf-dir>""".stripMargin

  def main(args: Array[String]): Unit = {
    val queryList = args.length == 2 && args(0) == "query" && args(1) == "list"
    val twoArgVerb = args.length == 2 &&
      (args(0) == "cluster-store" || args(0) == "views")
    val badQuery = args.length > 0 &&
      (args(0) == "query" || args(0) == "sql" ||
        args(0) == "cluster-assign") && !queryList &&
      args.length < 4
    if ((args.length < 3 && !queryList && !twoArgVerb) || badQuery) {
      System.err.println(Usage)
      sys.exit(2)
    }
    if (args(0) == "cluster-store") { // no session needed
      clusterStore(args(1)).foreach(println)
      return
    }
    val spark = Local.session()
    args(0) match {
      case "put" =>
        put(spark, args(1), args(2),
          if (args.length > 3) args(3).toInt else 32)
      case "get" =>
        get(spark, args(1), args.drop(3).map(_.toInt).toSeq)
          .select("line").write.mode("overwrite").text(args(2))
      case "media" =>
        mediaMeta(spark, args(1), args(2))
      case "frames" =>
        println(s"frames=${mediaFrames(spark, args(1), args(2),
          if (args.length > 3) args(3).toLong else 0L)}")
      case "query" if args(1) == "list" =>
        Registry.byName.keys.toSeq.sorted.foreach(println)
      case "query" =>
        runQuery(spark, args(1), args(2), args(3))
      case "sql" =>
        runSql(spark, args(1), args(2), args(3))
      case "cluster-train" | "cluster-retrain" =>
        println(clusterTrain(spark, args(1), args(2),
          if (args.length > 3) args(3).toInt else ops.Clustering.kOf(spark),
          retrain = args(0) == "cluster-retrain"))
      case "cluster-assign" =>
        println(clusterAssign(spark, args(1), args(2), args(3),
          if (args.length > 4) args(4).toInt else ops.Clustering.kOf(spark)))
      case "views" =>
        views(spark, args(1)).foreach(println)
      case _ =>
        run(spark, args(0), args(1), args(2),
          if (args.length > 3) Some(args(3)) else None,
          if (args.length > 4) args(4).toInt else 32)
    }
    spark.stop()
  }
}
