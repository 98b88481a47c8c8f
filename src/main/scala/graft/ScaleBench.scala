package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling curve (round-11 verdict task #1): runs the heavy
  * operator chains at the sf0.1 fixture tier AND at a self-generated
  * `mult`× tier ([[ScaleGen]]), reporting per-stage wall times plus
  * the CANDIDATE/INTERMEDIATE ROW COUNTS that decide whether a path
  * survives a 100 TB scale-up — candidate pairs, bucket-pair sums,
  * cell-size second moments. Counts are exact and noise-free, so the
  * count exponents are the load-bearing evidence; walls contextualize
  * them. One JSON line per tier on stdout and in
  * `target/scale/scale_<tag>.json`; SCALE.md holds the analyzed
  * curve.
  *
  *   sbt "runMain graft.ScaleBench [mult] [srcDir] [outBase]"
  *
  * The two brute-force oracle witnesses (q_sim_cosine_knn,
  * q_sim_threshold) are EXCLUDED by contract: they are O(n²) on
  * purpose (correctness witnesses for the ANN family, which is the
  * scale path and IS measured here).
  */
object ScaleBench {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The measured registry queries: the bench's heaviest non-witness
    * queries + the two headline relational shapes. */
  val ScaleQueries: Seq[String] = Seq(
    "q_agg_group", "q_join_inner", "q_text_tokens", "q_dedup_substring",
    "q_dedup_jaccard", "q_dedup_minhash", "q_sim_ann_lsh",
    "q_sim_ann_ivf", "q_sim_ann_ivfpq", "q_sim_hybrid_rrf",
    "q_graph_pagerank", "q_graph_pagerank_w", "q_graph_cc",
    "q_ev_session", "q_ev_interp", "q_ev_cohort", "q_ev_anomaly")

  /** All stage walls + structural counts for one tier. Returns
    * (label -> seconds, label -> count). */
  def measure(s: SparkSession, d: String,
      countsOnly: Boolean = false): (Seq[(String, Double)],
      Seq[(String, Long)]) = {
    val walls = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val counts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def wall(label: String)(body: => Unit): Unit = {
      val (_, t) = timed(body); walls += label -> t
    }
    def cnt(label: String)(body: => Long): Unit = counts += label -> body

    // corpus size baselines
    cnt("n_docs")(Tables.documents(s, d).count())
    cnt("n_tokens")(Tables.documents(s, d)
      .select(sum(size(split(col("text"), " ")))).head().getLong(0))
    val nVec = Tables.embeddings(s, d).count()
    cnt("n_vectors")(nVec)

    // stage builds, timed individually (sequential on purpose: clean
    // attribution beats the bench's concurrent wall-clock envelope).
    // In counts-only mode (the ×100-equivalent tier, SCALE.md third
    // point) only the builds the counted chains read are run, and
    // their walls are recorded as context, not evidence — a tier this
    // size shares the JVM with its own generation.
    wall("build_text_postings")(ops.TextSim.warmStages(s, d))
    if (!countsOnly) {
      wall("build_bigrams")(ops.TextSim.warmBigramStage(s, d))
      wall("build_mask")(ops.TextSim.warmMaskStage(s, d))
    }
    wall("build_ivf")(ops.Sketches.warmIvfStage(s, d))
    if (!countsOnly) {
      wall("build_pq")(ops.Sketches.warmPqStage(s, d))
      wall("build_lsh_sigs")(ops.Sketches.warmLshSigStage(s, d))
      wall("build_dedup_lsh_sigs")(ops.Sketches.warmDedupLshStage(s, d))
      wall("build_simhash_sigs")(ops.Sketches.warmSimhashStage(s, d))
    }
    wall("build_minhash_bands")(ops.Sketches.warmMinhashStage(s, d))

    // structural counts: the quadratic-risk quantities per family
    cnt("gram_pair_rows")(ops.TextSim.gramPostings(s, d, ops.TextSim.DfCap)
      .select(sum((size(col("ids")).cast("long") *
        (size(col("ids")) - 1) / 2).cast("long"))).head().getLong(0))
    cnt("neardup_edges")(ops.TextSim.nearDupEdges(s, d).count())
    // The two isotropic-background-quadratic LSH points (registry ANN
    // point and the cos-0.4 dedup point) are counted only while the
    // corpus is small enough that a ~quadratic candidate count is a
    // feasible job: SCALE.md already measured them at exp 2.00 / ~24%
    // of all pairs, so at the counts-only ×100-equivalent tier (200k
    // vectors → ~10^9-row candidate sets) they'd be a multi-billion-
    // row count proving a known number — dropped BY CONTRACT there,
    // like the brute-force witnesses. The high-threshold 24×18 point
    // stays at every tier because its COUNT stays feasible: its
    // background is also ~quadratic on unplanted tiers, but with a
    // ~5e-6-of-pairs constant (~100k rows at the ×100 tier — SCALE.md
    // finding 5). Its exponent-~1 claim lives on PLANTED-dup tiers,
    // where true duplicates dominate the count; that claim is pinned
    // live in ScaleSpec, not by these artifacts.
    if (!countsOnly || nVec <= 50000) {
      cnt("lsh_pair_candidates")(
        ops.Sketches.lshPairCandidates(s, d).count())
      // the dedup query's measured cos-0.4 point (constant-factor dent
      // on isotropic data — see the DedupLshBits scaladoc)
      cnt("lsh_pair_candidates_dedup")(
        ops.Sketches.dedupPairCandidates(s, d).count())
    }
    cnt("lsh_pair_candidates_hi24x18")(
      ops.Sketches.lshPairCandidatesTuned(s, d, 24, 18).count())
    val bands = ops.Sketches.minhashBandTable(s, d)
    cnt("minhash_band_rows")(bands.count())
    cnt("minhash_bucket_pairs")(bands.groupBy("band", "bh")
      .agg(count(lit(1)).as("n"))
      .select(sum((col("n") * (col("n") - 1) / 2).cast("long")))
      .head().getLong(0))
    val cells = ops.Sketches.ivfAssignments(s, d)
      .groupBy("cell").agg(count(lit(1)).as("n"))
    cnt("ivf_cells")(cells.count())
    cnt("ivf_max_cell")(cells.select(max("n")).head().getLong(0))
    cnt("ivf_cell_sumsq")(cells.select(sum(col("n") * col("n")))
      .head().getLong(0))
    // SemDeDup production-regime chain (r14, r15): k-means with K
    // grown WITH the corpus (n/125, the ScaleSpec regime) — the
    // in-cluster pair bound Σ n_c(n_c−1)/2 must then stay ~linear in n
    // (≈ n²/2K balanced-cluster algebra), unlike the √n-cell IVF
    // second moment above, whose designed law is n^1.5. Training runs
    // the ROUTED E-step (passed to trainHistory, r15) — the path the K
    // dispatch takes in this regime past RoutedMinK, and the fix for
    // the r14-flagged n×K ≈ n²/125 training cost; at K ≤ LiteralMaxK
    // (the ×1 tier) routed falls back to the literal path by
    // construction. The K-row cell table is checkpointed so the three
    // counts don't re-run the E-step.
    // The kmeans/routed chain stops at the x100 decade (LOUD cap, not
    // silent: the artifact simply lacks the kmeans_*/estep_* keys and
    // this note is the contract): with K = n/125 the single
    // flat-assignment agreement pass is n²·dim/125 work — ~2e12
    // integer ops at the n = 2M x1000 tier — and that chain's x1000
    // evidence already exists in the dedicated route-curve campaign
    // (bench/route_curve_iso_routed_x1000_r18.jsonl, ScaleSpec-pinned),
    // measured at fixed K to isolate corpus growth. The x1000
    // counts-only campaign is for the TEXT families.
    if (countsOnly && nVec > 500000) {
      System.err.println(s"scalebench: kmeans chain capped at x100 " +
        s"(nVec=$nVec) — see the contract note above")
      return (walls.toSeq, counts.toSeq)
    }
    val kmK = math.max(2, (nVec / 125).toInt)
    val kmBase = ops.Clustering.base(s, d)
    val kmCents = ops.Clustering.trainHistory(kmBase, kmK,
      ops.Clustering.Iters, ops.Clustering.assignRouted).last
    val kmCells = ops.Clustering.assignRouted(kmBase, kmCents)
      .groupBy("cid").agg(count(lit(1)).as("n")).localCheckpoint(true)
    cnt("kmeans_cells")(kmCells.count())
    cnt("kmeans_max_cell")(kmCells.select(max("n")).head().getLong(0))
    cnt("kmeans_pair_work")(kmCells
      .select(sum((col("n") * (col("n") - 1) / 2).cast("long")))
      .head().getLong(0))
    // The r15 E-step work chain: flat evaluations are exactly n×K
    // (the r14-flagged quadratic, recorded arithmetically); the
    // routed count is MEASURED (n·√K routing + per-vector probed
    // branch sizes) and must grow ~n^1.5 across the decades. The
    // agreement count (routed cid == exact flat cid, one flat
    // assignment pass — the chain's only remaining n×K job) measures
    // the approximation the way LSH recall is measured.
    cnt("estep_evals_flat")(nVec * kmK)
    // Two routed measurements per tier (r16): the FIXED-P3 chain
    // keeps the pure two-level cost law on record (designed n^1.5
    // when K ∝ n), and the ADAPTIVE chain (P = ⌈K^¼⌉, the probe count
    // every routed path uses) is the production configuration — it
    // spends ~n^1.75 to hold assignment agreement scale-stable instead
    // of letting a fixed probe count decay with K (r15 verdict #1).
    // One flat assignment pass serves both agreement counts.
    val flatA = ops.Clustering.assignJoin(kmBase, kmCents)
      .select(col("vec_id"), col("cid").as("cf")).localCheckpoint(true)
    def agreeOf(routed: DataFrame): Long =
      flatA.join(routed.select(col("vec_id"), col("cid").as("cr")),
        "vec_id").filter(col("cf") === col("cr")).count()
    cnt("estep_evals_routed")(
      ops.Clustering.routedEstepEvals(kmBase, kmCents, 3))
    cnt("estep_routed_agree")(
      agreeOf(ops.Clustering.assignRouted(kmBase, kmCents, 3)))
    cnt("estep_evals_routed_auto")(
      ops.Clustering.routedEstepEvals(kmBase, kmCents))
    cnt("estep_routed_agree_auto")(
      agreeOf(ops.Clustering.assignRouted(kmBase, kmCents)))
    cnt("estep_p_auto")(ops.Clustering.adaptiveProbes(kmK).toLong)

    // the measured queries — min-of-2, like Bench: single-JVM walls at
    // this scale carry large session-state variance (SCALE.md
    // methodology; the counts above are the load-bearing evidence)
    for (q <- ScaleQueries if !countsOnly) {
      val fn = Registry.byName(q)
      val ts = (1 to 2).map { _ =>
        val (_, t) = timed(fn.df(s, d).count(): Unit); t
      }
      walls += s"q:$q" -> ts.min
    }
    (walls.toSeq, counts.toSeq)
  }

  private def jsonLine(tag: String, d: String,
      walls: Seq[(String, Double)], counts: Seq[(String, Long)]): String = {
    val w = walls.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val c = counts.map { case (k, v) => "\"" + k + s"""\":$v""" }
      .mkString("{", ",", "}")
    s"""{"tier":"$tag","dir":"$d","walls":$w,"counts":$c}"""
  }

  /** args: [mult] [srcDir] [outBase] [openVocab] [mode]. With
    * openVocab > 0 the run measures TWO GENERATED tiers (1× and
    * mult×, both open-vocabulary — the finding-1 counter-experiment:
    * same generator, unsaturated gram space) instead of fixture-vs-
    * generated. mode="counts" (requires openVocab > 0) is the
    * third-decade campaign: THREE generated tiers (1×, 10×, mult× —
    * the ×100 point), structural counts only — no walls, no measured
    * queries, quadratic candidate counts dropped above 50k vectors
    * (see [[measure]]). */
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val srcDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val outBase = args.lift(2).getOrElse("target/scale")
    val openVocab = args.lift(3).map(_.toInt).getOrElse(0)
    val countsOnly = args.lift(4).contains("counts")
    require(!countsOnly || openVocab > 0,
      "mode=counts requires openVocab > 0 (the three-tier campaign " +
        "is defined on the open-vocabulary regime)")
    // NOTE: heap must come from the launcher (SPARK_DRIVER_MEM env ->
    // build.sbt's forked -Xmx): spark.driver.memory set in the builder
    // is a silent no-op in local mode (the JVM is already running).
    val s = Local.session(defaultCpus = "32", periodicGcMin = 2)
    val tiers: Seq[(String, String)] =
      if (countsOnly && openVocab > 0) {
        Seq(1, 10, mult).distinct.map { m =>
          val dir = s"$outBase/ov${openVocab}_x$m"
          // counts mode reads only documents + embeddings — skip the
          // mult-branch fact-table replication (at mult=1000 it would
          // be ~600M dead lineitem rows; see ScaleGen.textOnly)
          val (_, g) = timed(ScaleGen.generate(s, srcDir, dir, m,
            openVocab = openVocab, textOnly = true))
          System.err.println(f"scalebench: generation x$m $g%.1f s")
          s"ov${openVocab}_x${m}_counts" -> dir
        }
      } else if (openVocab > 0) {
        val t1 = s"$outBase/ov${openVocab}_x1"
        val tN = s"$outBase/ov${openVocab}_x$mult"
        val (_, g1) = timed(ScaleGen.generate(s, srcDir, t1, 1,
          openVocab = openVocab))
        val (_, gN) = timed(ScaleGen.generate(s, srcDir, tN, mult,
          openVocab = openVocab))
        System.err.println(f"scalebench: generation $g1%.1f + $gN%.1f s")
        Seq(s"ov${openVocab}_x1" -> t1, s"ov${openVocab}_x$mult" -> tN)
      } else {
        val genDir = s"$outBase/x$mult"
        val (_, tGen) = timed(ScaleGen.generate(s, srcDir, genDir, mult))
        System.err.println(f"scalebench: generation $tGen%.1f s")
        Seq("base" -> srcDir, s"x$mult" -> genDir)
      }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outBase))
    for ((tag, dir) <- tiers) {
      val (walls, counts) = measure(s, dir, countsOnly)
      val line = jsonLine(tag, dir, walls, counts)
      println(line)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outBase, s"scale_$tag.json"),
        (line + "\n").getBytes)
    }
    s.stop()
  }
}
