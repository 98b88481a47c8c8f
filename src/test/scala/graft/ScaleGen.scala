package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up corpus generator (round-11 verdict task #1:
  * convert the repo's plan-shape scale arguments into MEASURED
  * evidence). The driver fixtures stop at sf0.1 and are read-only, so
  * this bootstraps their empirical distributions (vocab + word
  * frequencies, document length range, lang/source mixes, unit-norm
  * 64-dim embeddings, label mix) from a source tier and emits a
  * `mult`× corpus with the SAME statistical shape into a writable dir
  * — every row a pure function of (seed, id), so any two runs (and
  * any partitioning) produce byte-identical tables.
  *
  * Structure the dedup chains need is PLANTED at fixture-like rates:
  * ~10% of documents are near-copies of an earlier document (one word
  * substituted + one adjacent swap — high shingle overlap, non-exact)
  * and ~0.5% are verbatim copies (the fixture carries 8 exact dups per
  * 5000). Each copy references one earlier source doc, so true-pair
  * count grows O(n) by construction — the crawl shape — and any
  * superlinear candidate growth a measurement finds is the INDEX'S
  * doing, not the data's.
  *
  * Tables emitted: documents, embeddings (generated); lineitem, orders
  * (fixture replicated `mult`× with disjoint order-key ranges — join
  * consistency with the unchanged dimension tables is preserved
  * because o_custkey/l_partkey/l_suppkey are untouched); events
  * (replicated with disjoint ids/users and a millisecond phase shift);
  * region, nation, customer, supplier, part (copied verbatim).
  */
object ScaleGen {

  /** The session of the campaign mains that generate and measure
    * tiers (AnnCurve, RouteCurve, ScaleBench, StateBench): the
    * [[Local.session]] config at 32 default cpus, with Spark's periodic
    * driver GC every 2 minutes instead of 30. Shuffle files of
    * dereferenced RDDs are reclaimed only when a GC runs, so a long
    * big-tier sweep could otherwise fill the disk (the r19 AnnCurve
    * failure). The interval is a `spark.*` system property, which
    * SparkConf reads when the session starts; a `-D` given at launch
    * wins. The heap comes from the launcher (`SPARK_DRIVER_MEM`, the
    * forked `-Xmx`), reported on stderr: `spark.driver.memory` set in
    * the builder is a no-op in local mode. */
  def campaignSession(): SparkSession = {
    sys.props.getOrElseUpdate("spark.cleaner.periodicGC.interval", "2min")
    System.err.println(
      s"campaign: max heap ${Runtime.getRuntime.maxMemory >> 20} MB")
    Local.session(defaultCpus = "32")
  }

  /** SplitMix64 — the standard public 64-bit mixer; gives every id its
    * own well-scrambled stream regardless of partition order. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final case class GenDoc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)
  final case class GenEmb(vec_id: Long, embedding: Seq[Float], label: Int)

  /** Empirical knobs lifted from the source tier (driver-side; the
    * source corpus is <= a few thousand rows by contract). */
  private final case class Profile(
      vocab: Array[String], vocabCum: Array[Double],
      lengths: Array[Int], langs: Array[String], langCum: Array[Double],
      sources: Array[String], nDocs: Long, nEmb: Long, dim: Int)

  private def profile(s: SparkSession, srcDir: String): Profile = {
    val docs = Tables.documents(s, srcDir)
      .select("text", "lang", "source").collect()
    val words = docs.flatMap(_.getString(0).toLowerCase.split(" "))
    val freq = words.groupBy(identity).view.mapValues(_.length).toArray
      .sortBy(_._1)
    val vocab = freq.map(_._1)
    val total = freq.map(_._2.toDouble).sum
    val vocabCum = freq.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val lengths = docs.map(_.getString(0).split(" ").length).sorted
    val langFreq = docs.map(_.getString(1)).groupBy(identity).view
      .mapValues(_.length).toArray.sortBy(_._1)
    val langCum = {
      val t = langFreq.map(_._2.toDouble).sum
      langFreq.map(_._2 / t).scanLeft(0.0)(_ + _).tail
    }
    val sources = docs.map(_.getString(2)).distinct.sorted
    val emb = Tables.embeddings(s, srcDir)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    Profile(vocab, vocabCum, lengths, langFreq.map(_._1), langCum,
      sources, docs.length.toLong, emb.count(), dim)
  }

  private def pick(cum: Array[Double], u: Double): Int = {
    var i = java.util.Arrays.binarySearch(cum, u)
    if (i < 0) i = -i - 1
    math.min(i, cum.length - 1)
  }

  /** The words of document `id` — a pure function of (seed, id), so a
    * planted near-copy can RE-DERIVE its source doc's words without
    * any cross-row state.
    *
    * `openVocab > 0` switches to an OPEN-VOCABULARY corpus (the
    * realism counter-experiment to the fixture's closed 31-word
    * vocabulary, SCALE.md finding 1): each base word is suffixed with
    * a Zipf-ish draw from `openVocab` variants, multiplying the
    * vocabulary — per-gram document frequency then stays roughly flat
    * as the corpus grows (Heaps-law shape), instead of saturating the
    * df cap. */
  private def baseWords(p: Profile, seed: Long, id: Long,
      openVocab: Int): Array[String] = {
    val r = new java.util.Random(mix(seed ^ (id * 0x5851F42D4C957F2DL)))
    val len = p.lengths(r.nextInt(p.lengths.length))
    Array.fill(len) {
      val w = p.vocab(pick(p.vocabCum, r.nextDouble()))
      if (openVocab <= 0) w
      else {
        // Zipf-ish variant index: P(k) ~ 1/(k+1)
        val u = r.nextDouble()
        val k = ((math.exp(u * math.log(openVocab + 1.0)) - 1)).toInt
        s"$w$k"
      }
    }
  }

  /** Largest id' <= cand that is itself a BASE document (not a
    * planted copy), so every planted copy references real base
    * content — a copy of a copy would otherwise re-derive the
    * SOURCE's base words, matching no actual document and silently
    * under-planting the true-pair population (~10%). */
  private def baseDocId(cand: Long): Long = {
    var i = math.max(0L, cand)
    while (i > 0 && (i % 200 == 13 || i % 10 == 7)) i -= 1
    i
  }

  /** [[baseDocId]]'s vector twin (planted vector dups). */
  private def baseVecId(cand: Long): Long = {
    var i = math.max(0L, cand)
    while (i > 0 && i % 20 == 11) i -= 1
    i
  }

  private def docFor(p: Profile, seed: Long, id: Long,
      openVocab: Int): GenDoc = {
    val r = new java.util.Random(mix(seed ^ id))
    val lang = p.langs(pick(p.langCum, r.nextDouble()))
    val source = p.sources(r.nextInt(p.sources.length))
    val words: Array[String] =
      if (id > 64 && id % 200 == 13) {
        baseWords(p, seed, baseDocId(id - 1 - r.nextInt(50)), openVocab) // verbatim copy
      } else if (id > 64 && id % 10 == 7) {
        // near-copy: one substitution + one adjacent swap
        val w = baseWords(p, seed, baseDocId(id - 1 - r.nextInt(50)), openVocab).clone()
        w(r.nextInt(w.length)) = p.vocab(r.nextInt(p.vocab.length))
        if (w.length > 2) {
          val k = r.nextInt(w.length - 1)
          val t = w(k); w(k) = w(k + 1); w(k + 1) = t
        }
        w
      } else baseWords(p, seed, id, openVocab)
    val text = words.mkString(" ")
    GenDoc(id, text, lang, source, text.length.toLong)
  }

  private def rawGauss(p: Profile, seed: Long, id: Long): Array[Double] = {
    val r = new java.util.Random(mix(seed ^ (id * 0xDA942042E4DD58B5L)))
    Array.fill(p.dim)(r.nextGaussian())
  }

  /** Per-coordinate noise sigma of the clustered regime: center norms
    * are ~sqrt(dim), so cos(vector, its center) ≈ 1/sqrt(1+sigma²)
    * ≈ 0.89 and within-cluster pair cos ≈ 1/(1+sigma²) ≈ 0.8 — tight
    * enough that nearest neighbors live in the vector's own cell,
    * loose enough that PQ/rerank still have ordering work to do.
    * Cross-cluster cos stays ~0 ± 1/sqrt(dim) (independent centers). */
  private val ClusterSigma = 0.5

  /** Base (pre-duplicate-planting) vector for `id`: isotropic gaussian,
    * or — `clusters > 0` (the CLUSTERED regime, the shape of real
    * embedding corpora: topical mass concentrated around modes, the
    * regime where IVF's nprobe 2–8 claim lives) — a deterministic
    * pseudorandom center plus per-coordinate noise. Centers draw from
    * a DISJOINT id namespace of the same generator; the cluster pick
    * and the noise stream use their own mix keys so they cannot
    * correlate with the dup-planting draws. */
  private def rawVec(p: Profile, seed: Long, id: Long,
      clusters: Int): Array[Double] =
    if (clusters <= 0) rawGauss(p, seed, id)
    else {
      val c = java.lang.Math.floorMod(
        mix(seed ^ 0x27D4EB2F165667C5L ^ id), clusters.toLong).toInt
      val center = rawGauss(p, seed ^ 0x165667B19E3779F9L, -(c + 1).toLong)
      val rn = new java.util.Random(
        mix(seed ^ 0x85EBCA77C2B2AE63L ^ (id * 0xDA942042E4DD58B5L)))
      val v = new Array[Double](p.dim)
      var i = 0
      while (i < p.dim) {
        v(i) = center(i) + ClusterSigma * rn.nextGaussian()
        i += 1
      }
      v
    }

  /** `plantVecDups` plants embedding near-copies at the document rate:
    * 5% of vectors are a perturbed earlier vector (sigma 0.03 per
    * coordinate before re-normalization — cos ~ 0.97 to the source),
    * giving the corpus a linear population of true high-cosine pairs
    * for threshold-tuned ANN/dedup experiments (SCALE.md finding 2). */
  private def embFor(p: Profile, seed: Long, id: Long,
      plantVecDups: Boolean, clusters: Int): GenEmb = {
    val r = new java.util.Random(mix(seed ^ (id * 0xDA942042E4DD58B5L)))
    val v =
      if (plantVecDups && id > 64 && id % 20 == 11) {
        val src = baseVecId(id - 1 - r.nextInt(50))
        rawVec(p, seed, src, clusters).map(x => x + 0.03 * r.nextGaussian())
      } else rawVec(p, seed, id, clusters)
    val n = math.sqrt(v.map(x => x * x).sum)
    GenEmb(id, v.map(x => (x / n).toFloat).toSeq, r.nextInt(10))
  }

  /** Generate the `mult`× tier into `outDir` (idempotent: a marker
    * file records (srcDir, mult, seed); a matching marker skips the
    * whole build). Returns outDir for chaining.
    *
    * `embedOnly` writes the embeddings table alone (r17 verdict #5):
    * the x1000 curve decade only reads vectors, and replicating the
    * fact tables at mult=1000 would be a 1000-branch union plan and
    * ~600M lineitem rows of dead weight. An embed-only tier is marked
    * as such (`eo=1` in the stamp), so a later full-tier request at
    * the same path regenerates rather than serving the partial
    * corpus; queries touching other tables fail loudly on the
    * missing path.
    *
    * `textOnly` (r20) is the same contract for the TEXT-family x1000
    * counts campaign: documents + embeddings only (`to=1` in the
    * stamp) — every counted chain in ScaleBench's counts mode reads
    * exactly those two tables, and the replicated fact tables would
    * again be mult-branch dead weight. */
  def generate(s: SparkSession, srcDir: String, outDir: String,
      mult: Int, seed: Long = 42L, openVocab: Int = 0,
      plantVecDups: Boolean = false, clusters: Int = 0,
      embedOnly: Boolean = false, textOnly: Boolean = false): String = {
    import s.implicits._
    val marker = java.nio.file.Paths.get(outDir, "_SCALE_META")
    val stamp = s"src=$srcDir mult=$mult seed=$seed ov=$openVocab v=3" +
      (if (plantVecDups) " pvd=1" else "") +
      (if (clusters > 0) s" cl=$clusters" else "") +
      (if (embedOnly) " eo=1" else "") +
      (if (textOnly) " to=1" else "")
    if (java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker)) == stamp)
      return outDir
    val p = profile(s, srcDir)
    val bc = s.sparkContext.broadcast(p)
    val nDocs = p.nDocs * mult
    val nEmb = p.nEmb * mult
    s.range(nEmb).repartition(s.sparkContext.defaultParallelism)
      .map(id => embFor(bc.value, seed, id, plantVecDups, clusters))
      .write.mode(SaveMode.Overwrite)
      .parquet(Tables.path(outDir, "embeddings"))
    if (embedOnly) {
      // a previous DIFFERENT-recipe tier at this path may have left
      // full tables behind; "queries touching other tables fail
      // loudly" is only true if they are actually gone (r18 review #4)
      for (t <- Seq("documents", "lineitem", "orders", "events",
          "region", "nation", "customer", "supplier", "part")) {
        val p = java.nio.file.Paths.get(Tables.path(outDir, t))
        if (java.nio.file.Files.exists(p)) graft.Local.rmTree(p.toFile)
      }
      java.nio.file.Files.write(marker, stamp.getBytes)
      return outDir
    }
    s.range(nDocs).repartition(s.sparkContext.defaultParallelism)
      .map(id => docFor(bc.value, seed, id, openVocab))
      .write.mode(SaveMode.Overwrite)
      .parquet(Tables.path(outDir, "documents"))
    if (textOnly) {
      // same loud-failure contract as embedOnly: drop any stale full
      // tables a previous different-recipe tier left at this path
      for (t <- Seq("lineitem", "orders", "events",
          "region", "nation", "customer", "supplier", "part")) {
        val p = java.nio.file.Paths.get(Tables.path(outDir, t))
        if (java.nio.file.Files.exists(p)) graft.Local.rmTree(p.toFile)
      }
      java.nio.file.Files.write(marker, stamp.getBytes)
      return outDir
    }
    // fact tables: fixture replicated with disjoint order-key ranges
    val off = 1000000000L
    def replicate(name: String, keys: Seq[String]): Unit = {
      val base = Tables(s, srcDir, name)
      (0 until mult).map { k =>
        keys.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(k * off)))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(Tables.path(outDir, name))
    }
    replicate("lineitem", Seq("l_orderkey"))
    replicate("orders", Seq("o_orderkey"))
    // events: replicated with disjoint event/user ids and a
    // per-replica millisecond phase shift — the windows/sessions stay
    // densely populated instead of holding exact timestamp duplicates,
    // and the user population grows with the corpus (the dimension the
    // per-user exchanges shuffle on). Physical ts encoding follows the
    // source footer (int64 ns under nanosAsLong, or native timestamp).
    locally {
      val ev = s.read.parquet(Tables.path(srcDir, "events"))
      val isNs = ev.schema("ts").dataType ==
        org.apache.spark.sql.types.LongType
      (0 until mult).map { k =>
        ev.withColumn("event_id", col("event_id") + lit(k * off))
          .withColumn("user_id", col("user_id") + lit(k * off))
          .withColumn("ts",
            if (isNs) col("ts") + lit(k.toLong * 1000000L)
            else col("ts") + expr(s"INTERVAL $k MILLISECONDS"))
      }.reduce(_ unionByName _)
        .write.mode(SaveMode.Overwrite).parquet(Tables.path(outDir, "events"))
    }
    // dimensions: verbatim copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val src = java.nio.file.Paths.get(Tables.path(srcDir, t))
      val dst = java.nio.file.Paths.get(Tables.path(outDir, t))
      java.nio.file.Files.createDirectories(dst.getParent)
      if (java.nio.file.Files.isDirectory(src)) {
        java.nio.file.Files.walk(src).forEach { f =>
          val rel = dst.resolve(src.relativize(f).toString)
          if (java.nio.file.Files.isDirectory(f))
            java.nio.file.Files.createDirectories(rel)
          else java.nio.file.Files.copy(f, rel,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          ()
        }
      } else java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    java.nio.file.Files.write(marker, stamp.getBytes)
    outDir
  }
}
