package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Measured scaling invariants (round-11: plan-shape arguments →
  * evidence). Two tiers are generated from the SAME empirical profile
  * ([[ScaleGen]], seeded), so count ratios between them measure the
  * INDEX STRUCTURES' growth, not distribution drift. Counts are exact
  * — no timing noise — which is what makes these assertable in CI.
  *
  * The asserted exponents (log-ratio / log-mult):
  *  - near-dup edge chain, minhash bucket pairs: ≤ 1.35 (the planted
  *    dup structure grows O(n); the gram/band indexes must not
  *    manufacture superlinear candidates from it)
  *  - minhash band rows: exactly linear (rows = bands × n)
  *  - IVF cell second moment: ≤ 1.75 (designed n^1.5: √n cells of √n
  *    — the partition-prune tradeoff, per-query scan ~ √n × probe
  *    fraction)
  *  - LSH pair candidates: ≤ 2.02 — QUADRATIC BY DATA on this
  *    corpus and documented as such (SCALE.md): the fixture/generated
  *    vectors are isotropic unit gaussians, the known worst case for
  *    LSH bucketing (no similarity gap → random 10-bit signatures
  *    collide at a constant rate per table, so candidates track all
  *    pairs). The assert still catches anything WORSE than all-pairs
  *    (e.g. duplicate candidate emission). Clustered real corpora are
  *    the selective regime; recall pins live in SketchesSpec.
  *  - HIGH-threshold LSH pair candidates (24 bits x 18 tables) on
  *    planted-dup tiers: ≤ 1.35 — the background rate (~18/2^24 of
  *    pairs) is negligible against the linear planted population, so
  *    candidates track TRUE duplicates. This is the exponent-~1 regime
  *    the dedup family rides at production thresholds.
  */
class ScaleSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val base = "/root/testdata/sf0.001"
  private val Mult = 4

  /** Temp roots created by this suite, swept in afterAll — repeated CI
    * runs must not accumulate multi-MB parquet trees under /tmp. */
  private val tmpRoots =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  private def tmpRoot(prefix: String): String = synchronized {
    val p = java.nio.file.Files.createTempDirectory(s"graft_scale_$prefix")
    tmpRoots += p
    p.toString
  }
  override def afterAll(): Unit = {
    tmpRoots.foreach(p => Local.rmTree(p.toFile))
    super.afterAll()
  }

  private lazy val tier1: String =
    ScaleGen.generate(spark, base, tmpRoot("t1") + "/x1", 1)
  private lazy val tierN: String =
    ScaleGen.generate(spark, base, tmpRoot("tn") + s"/x$Mult", Mult)

  private def exponent(c1: Long, cN: Long): Double =
    math.log(cN.toDouble / c1) / math.log(Mult.toDouble)

  test("generation is seed-deterministic and plants dup structure") {
    // Same (src, mult, seed) into a DIFFERENT directory → identical
    // corpus, byte-for-byte (order-insensitive content hash).
    val again = ScaleGen.generate(spark, base, tmpRoot("det") + "/x1", 1)
    def corpusHash(d: String): Long = Tables.documents(spark, d)
      .select(expr(
        "bit_xor(xxhash64(doc_id, text, lang, source))")) // no-overflow
      .head().getLong(0)
    assert(corpusHash(tier1) === corpusHash(again))
    // The planted structure is present: exact dups and near-dups.
    val n = Tables.documents(spark, tier1).count()
    val distinct = Tables.documents(spark, tier1)
      .select("text").distinct().count()
    assert(n === Tables.documents(spark, base).count())
    assert(distinct < n, "no exact duplicates planted")
  }

  test("dedup/index structures grow near-linearly across generated tiers") {
    def counts(d: String): Map[String, Long] = {
      ops.TextSim.warmStages(spark, d)
      ops.Sketches.warmMinhashStage(spark, d)
      val bands = ops.Sketches.minhashBandTable(spark, d)
      Map(
        "edges" -> ops.TextSim.nearDupEdges(spark, d).count(),
        "band_rows" -> bands.count(),
        "bucket_pairs" -> bands.groupBy("band", "bh")
          .agg(count(lit(1)).as("n"))
          .select(coalesce(sum((col("n") * (col("n") - 1) / 2)
            .cast("long")), lit(0L))).head().getLong(0))
    }
    val c1 = counts(tier1)
    val cN = counts(tierN)
    assert(cN("band_rows") === c1("band_rows") * Mult,
      "band table must be exactly linear in n")
    for (k <- Seq("edges", "bucket_pairs")) {
      assert(c1(k) > 0, s"$k empty at tier 1 — planted structure missing")
      val e = exponent(c1(k), cN(k))
      assert(e <= 1.35,
        s"$k grows superlinearly: ${c1(k)} -> ${cN(k)} (exponent $e)")
    }
  }

  test("IVF cell second moment stays within the designed n^1.5 curve") {
    def sumsq(d: String): Long = {
      ops.Sketches.warmIvfStage(spark, d)
      ops.Sketches.ivfAssignments(spark, d)
        .groupBy("cell").agg(count(lit(1)).as("n"))
        .select(sum(col("n") * col("n"))).head().getLong(0)
    }
    val s1 = sumsq(tier1)
    val sN = sumsq(tierN)
    val e = exponent(s1, sN)
    assert(e <= 1.75, s"IVF cell sumsq: $s1 -> $sN (exponent $e)")
  }

  test("open-vocabulary corpora keep the gram-pair stage near-linear") {
    // The finding-1 counter-experiment (SCALE.md): the fixture's
    // 31-word CLOSED vocabulary saturates the df cap, which is what
    // makes the gram-pair stage superlinear there. With an open
    // vocabulary (64 Zipf-weighted variants per word — the gram space
    // no longer saturates), per-gram df stays roughly flat and the
    // pair explode must grow near-linearly.
    def pairRows(d: String): Long =
      ops.TextSim.gramPostings(spark, d, ops.TextSim.DfCap)
        .select(coalesce(sum((size(col("ids")).cast("long") *
          (size(col("ids")) - 1) / 2).cast("long")), lit(0L)))
        .head().getLong(0)
    val ov1 = ScaleGen.generate(spark, base, tmpRoot("ov1") + "/x1", 1,
      openVocab = 64)
    val ovN = ScaleGen.generate(spark, base, tmpRoot("ovn") + s"/x$Mult",
      Mult, openVocab = 64)
    val p1 = pairRows(ov1)
    val pN = pairRows(ovN)
    assert(p1 > 0, "no shared grams at tier 1 — planted dups missing")
    val e = exponent(p1, pN)
    assert(e <= 1.35,
      s"open-vocab gram pairs superlinear: $p1 -> $pN (exponent $e)")
  }

  /** Planted-near-dup tiers (ground truth by brute force) shared by the
    * tuned-LSH tests below. */
  private lazy val vd1: String =
    ScaleGen.generate(spark, base, tmpRoot("vd") + "/x1", 1,
      plantVecDups = true)
  private lazy val vdN: String =
    ScaleGen.generate(spark, base, tmpRoot("vdn") + s"/x$Mult", Mult,
      plantVecDups = true)

  private def bruteTruth(d: String, minCos: Double): Set[(Long, Long)] = {
    val vecs = Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    (for {
      i <- vecs.indices.iterator
      j <- (i + 1) until vecs.length
      cos = vecs(i)._2.zip(vecs(j)._2).map(p => p._1 * p._2).sum
      if cos >= minCos
    } yield (vecs(i)._1, vecs(j)._1)).toSet
  }

  test("threshold-tuned LSH: selective background, recall on planted dups") {
    // SCALE.md finding 2's constructive half: the registry operating
    // point (10 bits x 48 tables x probe) is recall-tuned for cos 0.4
    // and collides ~42% of ALL pairs on isotropic data; wide-bit
    // no-probe points keep cos >= 0.9 recall while their background
    // rate is ~tables/2^bits of all pairs (16x24 ≈ 4e-4, 24x18 ≈
    // 1e-6). Verified on a planted-near-dup tier: ground truth by
    // brute force, for BOTH high-threshold points.
    val truth = bruteTruth(vd1, 0.9)
    assert(truth.size >= 10, s"planted dups missing: ${truth.size}")
    val n = Tables.embeddings(spark, vd1).count()
    for ((bits, tables, selDiv) <- Seq((16, 24, 100L), (24, 18, 1000L))) {
      val cand = ops.Sketches
        .lshPairCandidatesTuned(spark, vd1, bits = bits, tables = tables)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = truth.count(cand.contains).toDouble / truth.size
      assert(recall >= 0.9,
        s"${bits}x$tables recall $recall over ${truth.size} pairs")
      assert(cand.size <= n * (n - 1) / 2 / selDiv,
        s"${bits}x$tables not selective: ${cand.size} of ${n * (n - 1) / 2}")
    }
  }

  test("high-threshold LSH candidates grow ~linearly on planted-dup tiers") {
    // The exponent-~1 regime (ScaleBench lsh_pair_candidates_hi24x18):
    // at 24 bits x 18 tables the isotropic background rate is ~1e-6 of
    // all pairs, so candidates are dominated by the LINEAR planted
    // population — unlike the cos-0.4 fixture point, whose constant
    // background fraction makes it quadratic by data (SCALE.md).
    def cand(d: String): Long =
      ops.Sketches.lshPairCandidatesTuned(spark, d, 24, 18).count()
    val c1 = cand(vd1)
    val cN = cand(vdN)
    assert(c1 > 0, "no candidates at tier 1 — planted dups missing")
    val e = exponent(c1, cN)
    assert(e <= 1.35,
      s"hi-threshold candidates superlinear: $c1 -> $cN (exponent $e)")
  }

  test("semantic dedup: pair work ~linear and planted recall holds when K grows with n") {
    // The SemDeDup production regime (r13 verdict #3), measured: K
    // scales with the corpus (here n/125 — tens of thousands of
    // clusters at web scale), the in-cluster pair work Σ n_c(n_c−1)/2
    // must then grow ~linearly in n (≈ n²/2K per balanced cluster
    // algebra), and the recall trade must not collapse — planted
    // near-dups (brute-force cos ≥ 0.9 ground truth, the same tiers
    // the LSH pins use) still co-cluster and are therefore emitted.
    // Runs under the K dispatch: K = n/125 stays exact (literal or
    // join) on these tiers.
    def kFor(d: String): Int =
      (Tables.embeddings(spark, d).count() / 125).toInt.max(2)
    def pairWork(d: String): Long =
      ops.Clustering.kmeansAssign(spark, d, kFor(d))
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .select(coalesce(sum((col("n") * (col("n") - 1) / 2)
          .cast("long")), lit(0L))).head().getLong(0)
    def recall(d: String): Double = {
      val truth = bruteTruth(d, 0.9)
      assert(truth.size >= 10, s"planted dups missing at $d: ${truth.size}")
      val cid = ops.Clustering.kmeansAssign(spark, d, kFor(d))
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // co-clustered ⟺ emitted: cos ≥ 0.9 ⇒ d² ≈ 0.2e12, far under
      // the 1.2e12 bar, so the only way to lose a planted pair is a
      // cluster split — exactly the trade this pin bounds.
      truth.count { case (a, b) => cid(a) == cid(b) }.toDouble / truth.size
    }
    val (w1, wN) = (pairWork(vd1), pairWork(vdN))
    val e = exponent(w1, wN)
    info(f"pair work $w1 -> $wN, exponent $e%.3f (K ${kFor(vd1)} -> ${kFor(vdN)})")
    assert(e <= 1.35,
      s"pair work superlinear with K ∝ n: $w1 -> $wN (exponent $e)")
    // and the screen is genuinely cluster-bounded, not all-pairs:
    val nN = Tables.embeddings(spark, vdN).count()
    assert(wN < nN * (nN - 1) / 2 / 4,
      s"pair work $wN not meaningfully below all-pairs at n=$nN")
    val (r1, rN) = (recall(vd1), recall(vdN))
    info(f"planted near-dup recall: x1 $r1%.3f, x$Mult $rN%.3f")
    // measured 1.000 / 0.990 on the seeded tiers (deterministic);
    // 0.9 leaves margin for profile drift if the fixtures regenerate
    assert(r1 >= 0.9 && rN >= 0.9,
      s"planted near-dup recall collapsed: x1=$r1, x$Mult=$rN")
  }

  test("routed E-step: work sub-quadratic and planted recall holds when K ∝ n") {
    // The r14 verdict #1 evidence, live: in the K∝n regime the flat
    // E-step does exactly n×K ≈ n² distance evaluations (exponent 2.0
    // by arithmetic); the two-level routed path must measure ~n^1.5
    // (n·(√K + P·K/√K) with K ∝ n) — AND the SemDeDup recall trade
    // must survive the extra approximation layer: planted cos ≥ 0.9
    // near-dups still co-cluster after routed TRAINING and routed
    // assignment. K here is n/8 (min 65 so the hierarchy actually
    // engages at both tiers) — finer than the n/125
    // production regime, i.e. HARDER for both exponent and recall.
    // The K dispatch would stay exact at these K, so training and
    // assignment take the routed path directly.
    def kFor(d: String): Int =
      math.max(65, (Tables.embeddings(spark, d).count() / 8).toInt)
    def measure(d: String): (Long, Long, Double) = {
      val k = kFor(d)
      val b = ops.Clustering.base(spark, d)
      val cents = ops.Clustering.trainHistory(b, k, ops.Clustering.Iters,
        ops.Clustering.assignRouted).last
      val evals = ops.Clustering.routedEstepEvals(b, cents)
      val flat = b.count() * k
      val truth = bruteTruth(d, 0.9)
      assert(truth.size >= 10, s"planted dups missing at $d: ${truth.size}")
      val cid = ops.Clustering.assignRouted(b, cents)
        .select("vec_id", "cid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rec = truth.count { case (a, b2) => cid(a) == cid(b2) }
        .toDouble / truth.size
      (evals, flat, rec)
    }
    val (e1, f1, r1) = measure(vd1)
    val (eN, fN, rN) = measure(vdN)
    val ex = exponent(e1, eN)
    info(f"routed evals $e1 -> $eN (exp $ex%.3f); flat $f1 -> $fN; " +
      f"recall x1 $r1%.3f, x$Mult $rN%.3f")
    assert(ex <= 1.7, s"routed E-step work superlinear^1.7: $e1 -> $eN")
    assert(e1 < f1 && eN < fN,
      s"routed work not below flat: $e1/$f1, $eN/$fN")
    assert(r1 >= 0.9 && rN >= 0.9,
      s"planted recall collapsed under routed training: $r1, $rN")
  }

  test("LSH pair candidates never exceed the all-pairs bound") {
    def cand(d: String): Long = {
      ops.Sketches.warmLshSigStage(spark, d)
      ops.Sketches.lshPairCandidates(spark, d).count()
    }
    val c1 = cand(tier1)
    val cN = cand(tierN)
    val n1 = Tables.embeddings(spark, tier1).count()
    val nN = Tables.embeddings(spark, tierN).count()
    assert(c1 <= n1 * (n1 - 1) / 2, "duplicate candidate emission")
    assert(cN <= nN * (nN - 1) / 2, "duplicate candidate emission")
    // quadratic BY DATA here (isotropic worst case — see scaladoc);
    // anything above all-pairs growth means emitted duplicates.
    assert(exponent(c1, cN) <= 2.02)
  }

  test("the operating-point report's work is sample-bounded at any tier") {
    // q_sim_lsh_points (r11 Wrong #1b fix): the report runs on the
    // LshSampleN vectors with the smallest xxhash64(vec_id), so its
    // candidate work is O(sample²) CONSTANT — the corpus grows 4x
    // between these tiers, the sample (and the in-sample pair bound)
    // does not.
    val cap = ops.Sketches.LshSampleN.toLong
    for (d <- Seq(tier1, tierN)) {
      val rows = Registry.byName("q_sim_lsh_points").df(spark, d).collect()
      assert(rows.length === 3, s"expected 3 operating-point rows at $d")
      rows.foreach { r =>
        val nSample = r.getAs[Long]("n_sample")
        val nCand = r.getAs[Long]("n_candidates")
        assert(nSample <= cap, s"sample exceeded the pin at $d")
        assert(nCand <= cap * (cap - 1) / 2,
          s"report materialized beyond the sample bound at $d")
      }
    }
    // and the sample genuinely saturates at the cap once n >= cap
    val nN = Tables.embeddings(spark, tierN).count()
    assert(nN >= cap, "tierN too small to exercise the cap")
    val satur = Registry.byName("q_sim_lsh_points").df(spark, tierN)
      .select(max("n_sample")).head().getLong(0)
    assert(satur === cap)
  }

  test("three-point campaign artifacts: exponents bounded on BOTH decade pairs") {
    // The committed x1/x10/x100 counts-only artifacts (bench/
    // scale_ov64_*_counts_r15.json — regenerate ALL THREE with
    // `Test/runMain graft.ScaleBench 100 <sf0.1 dir>
    // target/scale_r15 64 counts` (counts mode generates and measures
    // the 1/10/100 tiers in one run), then copy target/scale_r15/
    // scale_ov64_x{1,10,100}_counts.json over the bench/ copies; the
    // r14 refresh added the kmeans chain, the r15 refresh trains it
    // ROUTED and added the E-step work/agreement chain) are the
    // repo's measured scaling curve; this pin re-derives every chain's
    // exponent on EACH decade pair from the artifacts themselves, so
    // an artifact refresh that regresses a growth law fails CI even
    // though the x100 tier is too big to regenerate per test run. The
    // live-generation tests above cover the generator+operators end to
    // end at small tiers.
    def counts(tag: String): Map[String, Long] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"bench/scale_ov64_${tag}_counts_r16.json")))
      val body = txt.substring(txt.indexOf("\"counts\":"))
      "\"([a-z0-9_]+)\":(\\d+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
    val (c1, c10, c100) = (counts("x1"), counts("x10"), counts("x100"))
    def expOf(k: String, a: Map[String, Long], b: Map[String, Long]): Double =
      math.log(b(k).toDouble / a(k)) / math.log(10.0)
    // near-linear chains: both decades. kmeans_pair_work is the
    // SemDeDup production regime at its third decade (K = n/125 grows
    // with the corpus, so the in-cluster pair bound must stay ~linear
    // — the ×1/×4 live pin above, continued to ×100).
    for (k <- Seq("gram_pair_rows", "neardup_edges", "minhash_band_rows",
      "minhash_bucket_pairs", "kmeans_pair_work")) {
      val e1 = expOf(k, c1, c10)
      val e2 = expOf(k, c10, c100)
      assert(e1 <= 1.35 && e2 <= 1.35,
        f"$k superlinear: exp $e1%.2f / $e2%.2f")
    }
    // kmeans cell count tracks K = n/125 exactly: linear by design
    val k1 = expOf("kmeans_cells", c1, c10)
    val k2 = expOf("kmeans_cells", c10, c100)
    assert(k1 >= 0.9 && k1 <= 1.1 && k2 >= 0.9 && k2 <= 1.1,
      f"kmeans cell count not ~linear: $k1%.2f / $k2%.2f")
    // the designed n^1.5 IVF second moment, stable across both decades
    val s1 = expOf("ivf_cell_sumsq", c1, c10)
    val s2 = expOf("ivf_cell_sumsq", c10, c100)
    assert(s1 <= 1.6 && s2 <= 1.6, f"ivf sumsq drifted: $s1%.2f / $s2%.2f")
    // The r15 E-step work chain (r14 verdict #1): flat is n×K — with
    // K = n/125 that is EXACTLY quadratic (recorded arithmetically as
    // the baseline the routed path routes around)...
    val f1 = expOf("estep_evals_flat", c1, c10)
    val f2 = expOf("estep_evals_flat", c10, c100)
    assert(f1 >= 1.95 && f1 <= 2.05 && f2 >= 1.95 && f2 <= 2.05,
      f"flat E-step chain is no longer the n^2 baseline: $f1%.2f / $f2%.2f")
    // ...while the MEASURED routed work must hold the designed ~n^1.5
    // law (measured 1.50 / 1.50: ×1 is the literal fallback at K=16,
    // ×10 and ×100 route for real at K=160 / 1600)
    val r1 = expOf("estep_evals_routed", c1, c10)
    val r2 = expOf("estep_evals_routed", c10, c100)
    assert(r1 <= 1.6 && r2 <= 1.6,
      f"routed E-step work exponent regressed: $r1%.2f / $r2%.2f")
    // absolute savings where routing engages (3.1× at ×10, 10.0× at
    // ×100 — the gap widens with K by design)
    assert(c10("estep_evals_routed") * 2 <= c10("estep_evals_flat"))
    assert(c100("estep_evals_routed") * 5 <= c100("estep_evals_flat"))
    // routed-vs-flat agreement on the ISOTROPIC tiers — routing's
    // measured worst case (no similarity gap, every branch boundary
    // contested). The fixed-P3 chain exists for the COST law (the 1.50
    // exponent above); its agreement decays with K by construction
    // (P/√K coverage shrinks) and is now also measured against
    // AUTO-trained centroids (0.835 at ×10, 0.659 at ×100 — lower
    // than r15's self-consistent P3-trained 0.877/0.817, exactly the
    // silent degradation the adaptive default exists to close), so
    // the floor only catches a collapse. The ADAPTIVE default (r16,
    // rprobe=auto, P=⌈K^¼⌉) is the production knob and must HOLD
    // ≥ 0.85 at BOTH decades — the r15-verdict done bar: quality no
    // longer degrades when a user scales K up at unchanged settings
    // (measured 0.911 / 0.898).
    val a10 = c10("estep_routed_agree").toDouble / c10("n_vectors")
    val a100 = c100("estep_routed_agree").toDouble / c100("n_vectors")
    assert(a10 >= 0.70 && a100 >= 0.55,
      f"routed fixed-P3 agreement collapsed: $a10%.3f / $a100%.3f")
    val aa10 = c10("estep_routed_agree_auto").toDouble / c10("n_vectors")
    val aa100 = c100("estep_routed_agree_auto").toDouble / c100("n_vectors")
    assert(aa10 >= 0.85 && aa100 >= 0.85,
      f"adaptive-probe agreement fell below the scale-stability bar: " +
        f"$aa10%.3f / $aa100%.3f")
    // the adaptive default buys that quality at ~n^1.75 (designed
    // K^¾ per-vector work) — still decisively below the flat n²
    val ra1 = expOf("estep_evals_routed_auto", c1, c10)
    val ra2 = expOf("estep_evals_routed_auto", c10, c100)
    assert(ra1 <= 1.85 && ra2 <= 1.85,
      f"adaptive routed work exponent regressed: $ra1%.2f / $ra2%.2f")
    assert(c10("estep_evals_routed_auto") * 2 <= c10("estep_evals_flat"))
    assert(c100("estep_evals_routed_auto") * 4 <= c100("estep_evals_flat"))
    // and the artifact records which P the default resolved to
    assert(c10("estep_p_auto") === 4L && c100("estep_p_auto") === 7L,
      s"adaptive P drifted: ${c10("estep_p_auto")} / ${c100("estep_p_auto")}")
    // corpus-size sanity: the artifacts really span two decades
    assert(c10("n_docs") === 10 * c1("n_docs"))
    assert(c100("n_docs") === 10 * c10("n_docs"))
  }

  test("fourth decade (x1000) text-family artifacts: the laws hold, drift recorded") {
    // The r20 campaign (bench/scale_ov64_x{1,10,1000}_counts_r20.json;
    // regenerate with `Test/runMain graft.ScaleBench 1000 <sf0.1 dir>
    // target/scale_r20 64 counts` — ~90 min, build_ivf dominates)
    // extends the TEXT chains to n_docs = 5M / 270M tokens / 2M
    // vectors. The x100 point is spliced from the r16 artifact: the
    // generator is a pure function of (seed, id), which the first
    // assertions PROVE by matching the r20 x1/x10 text counts against
    // r16's byte-for-byte. NOTE the r20 campaign ran the pre-r20
    // xxhash minhash/LSH families (it launched before the md5-family
    // switch landed); the pinned constants are family-specific but the
    // exponent laws are collision-rate statistics of the same banding
    // geometry — the md5-family rerun (r20b artifacts, next test)
    // re-measured them and both constants held.
    def counts(tag: String, round: String): Map[String, Long] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"bench/scale_ov64_${tag}_counts_$round.json")))
      val body = txt.substring(txt.indexOf("\"counts\":"))
      "\"([a-z0-9_]+)\":(\\d+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
    val (d1, d10, d1000) =
      (counts("x1", "r20"), counts("x10", "r20"), counts("x1000", "r20"))
    val d100 = counts("x100", "r16")
    // cross-round generator determinism — the splice's justification
    for (k <- Seq("n_docs", "n_tokens", "n_vectors", "gram_pair_rows",
      "neardup_edges", "minhash_band_rows", "minhash_bucket_pairs")) {
      assert(d1(k) === counts("x1", "r16")(k), s"$k drifted at x1")
      assert(d10(k) === counts("x10", "r16")(k), s"$k drifted at x10")
    }
    assert(d1000("n_docs") === 1000 * d1("n_docs"))
    def e(k: String, a: Map[String, Long], b: Map[String, Long]): Double =
      math.log(b(k).toDouble / a(k)) / math.log(10.0)
    // the two LINEAR laws hold their fourth decade (measured 1.00 both)
    assert(e("neardup_edges", d100, d1000) <= 1.1,
      f"neardup edges left the planted-linear law: ${e("neardup_edges", d100, d1000)}%.2f")
    assert(e("minhash_bucket_pairs", d100, d1000) <= 1.1,
      f"minhash bucket pairs superlinear: ${e("minhash_bucket_pairs", d100, d1000)}%.2f")
    assert(d1000("minhash_band_rows") === 4 * d1000("n_docs"))
    // gram-pair drift CONFIRMED and bounded: the exponent accelerates
    // 1.04 -> 1.23 -> 1.70 across the decades (the r18/r19 open
    // question) — still well under the all-pairs 2.0, and the df cap
    // bounds pairs-per-gram, but the law is NOT settling; recorded
    // here so a regression past 1.8 or a silent flattening both fail.
    val g3 = e("gram_pair_rows", d100, d1000)
    assert(g3 >= 1.4 && g3 <= 1.8, f"gram-pair drift moved: $g3%.2f")
    // the 24x18 high-threshold point: background-quadratic with a
    // STABLE ~5.1e-6-of-pairs constant at both big decades
    def hiConst(c: Map[String, Long]): Double = {
      val n = c("n_vectors").toDouble
      c("lsh_pair_candidates_hi24x18") / (n * (n - 1) / 2)
    }
    assert(hiConst(d100) >= 3e-6 && hiConst(d100) <= 8e-6)
    assert(hiConst(d1000) >= 3e-6 && hiConst(d1000) <= 8e-6)
    // the designed n^1.5 IVF second moment, fourth decade (both points
    // post-spherical-Lloyd, same run: x10 -> x1000 is two decades)
    val s3 = e("ivf_cell_sumsq", d10, d1000) / 2
    assert(s3 >= 1.4 && s3 <= 1.6, f"ivf sumsq law broke at x1000: $s3%.2f")
    assert(d1000("ivf_cells") === 1415L) // ceil(sqrt(2e6))
  }

  test("x1000 md5-family rerun (r20b): text chains byte-stable, ivf bit-identical, constants hold") {
    // The same campaign re-run on the shipped md5 minhash/LSH families
    // + the LongL2Sq codegen kernel (bench/scale_ov64_x*_counts_r20b
    // .json) — closes SCALE.md's family caveat. Three distinct claims:
    def counts(tag: String, round: String): Map[String, Long] = {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"bench/scale_ov64_${tag}_counts_$round.json")))
      val body = txt.substring(txt.indexOf("\"counts\":"))
      "\"([a-z0-9_]+)\":(\\d+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toLong).toMap
    }
    for (tag <- Seq("x1", "x10", "x1000")) {
      val (a, b) = (counts(tag, "r20"), counts(tag, "r20b"))
      // 1. the TEXT chains are hash-family-independent — measured, not
      //    assumed: gram/postings/near-dup counts identical per tier;
      for (k <- Seq("n_docs", "n_tokens", "gram_pair_rows",
        "neardup_edges", "minhash_band_rows"))
        assert(a(k) === b(k), s"$k moved under the md5 family at $tag")
      // 2. the IVF chain is BIT-IDENTICAL under the codegen kernel —
      //    LongL2Sq replaced the interpreted zip_with HOF and every
      //    cell statistic reproduced exactly, four decades deep;
      for (k <- Seq("ivf_cells", "ivf_max_cell", "ivf_cell_sumsq"))
        assert(a(k) === b(k), s"$k drifted under the codegen kernel at $tag")
    }
    // 3. the md5-family constants obey the same laws: banded candidate
    //    growth linear across x10 -> x1000 (two decades), and the
    //    24x18 high-threshold background constant stays ~5e-6 of pairs.
    val (b10, b1000) = (counts("x10", "r20b"), counts("x1000", "r20b"))
    val mh = math.log(b1000("minhash_bucket_pairs").toDouble /
      b10("minhash_bucket_pairs")) / math.log(10.0) / 2
    assert(mh >= 0.95 && mh <= 1.1, f"md5 minhash family superlinear: $mh%.3f")
    val n = b1000("n_vectors").toDouble
    val hi = b1000("lsh_pair_candidates_hi24x18") / (n * (n - 1) / 2)
    assert(hi >= 3e-6 && hi <= 8e-6, f"md5 hi24x18 constant moved: $hi%.2e")
  }

  test("route-curve artifacts: agreement/work monotone in probes, clustered above isotropic") {
    // The committed agreement-vs-probes operating curves
    // (bench/route_curve_*_r15.jsonl; regenerate with `Test/runMain
    // graft.RouteCurve <dir|clustered:mult:c> <k> <join|routed>
    // <probes...>`) are the CAP-ESTEP-SCALE evidence — this pin
    // re-derives their structural claims so an artifact refresh that
    // breaks one fails CI: agreement and evals are monotone
    // non-decreasing in rprobe, evals always beat flat, the clustered
    // curve dominates the isotropic one pointwise, and the
    // production-decade default-P agreement stays above the 0.75
    // artifact floor.
    def pts(name: String): Seq[Map[String, Double]] = {
      val p = java.nio.file.Paths.get(s"bench/$name")
      new String(java.nio.file.Files.readAllBytes(p))
        .linesIterator.filter(_.nonEmpty).map { l =>
          "\"(rprobe|p_auto|agree|evals|evals_flat)\":([0-9.]+)".r
            .findAllMatchIn(l)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }.toSeq
    }
    val files = Seq("route_curve_iso_join_x10_r16.jsonl",
      "route_curve_iso_routed_x10_r16.jsonl",
      "route_curve_clustered16_x10_r16.jsonl",
      "route_curve_iso_routed_x100_r16.jsonl",
      // r18 (verdict #5): one more decade — n=2,000,000 (x1000,
      // embed-only tier) at the SAME K=1600, so the pair of artifacts
      // isolates pure corpus growth at fixed model size
      "route_curve_iso_routed_x1000_r18.jsonl")
    val curves = files.map(f => f -> pts(f)).toMap
    curves.foreach { case (f, c) =>
      assert(c.nonEmpty, s"$f is empty")
      c.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b("rprobe") > a("rprobe"), s"$f not probe-ordered")
          assert(b("agree") >= a("agree") - 1e-9,
            s"$f agreement not monotone in probes")
          assert(b("evals") >= a("evals"), s"$f evals not monotone")
        case _ => ()
      }
      c.foreach(p => assert(p("evals") < p("evals_flat"),
        s"$f routed evals not below flat"))
    }
    // clustered dominates isotropic at every shared probe count
    val iso = curves("route_curve_iso_routed_x10_r16.jsonl")
      .map(p => p("rprobe") -> p("agree")).toMap
    curves("route_curve_clustered16_x10_r16.jsonl").foreach { p =>
      iso.get(p("rprobe")).foreach(a =>
        assert(p("agree") >= a,
          f"clustered below isotropic at P=${p("rprobe")}%.0f"))
    }
    // THE r16 scale-stability bar: at both routed-trained isotropic
    // decades, the point the ADAPTIVE default lands on (rprobe ==
    // p_auto, P = ⌈K^¼⌉: 4 at K=160, 7 at K=1600) holds agreement ≥
    // 0.85 — a user scaling K up at unchanged settings no longer
    // silently loses approximation quality (fixed P=3 measured
    // 0.877 → 0.817 across the same decades at r15).
    for (f <- Seq("route_curve_iso_routed_x10_r16.jsonl",
        "route_curve_iso_routed_x100_r16.jsonl",
        "route_curve_iso_routed_x1000_r18.jsonl")) {
      val c = curves(f)
      val auto = c.find(p => p("rprobe") == p("p_auto")).getOrElse(
        fail(s"$f has no point at the adaptive default"))
      assert(auto("agree") >= 0.85,
        s"$f adaptive-default agreement ${auto("agree")} < 0.85")
    }
    // and the n-decade is real: x1000 measures 10x the x100 corpus at
    // the same K, with the routed evals still >= 4x below flat at the
    // adaptive default (agreement held: 0.898 -> 0.873 across the
    // decade — stable, not decaying with n)
    val x1000 = curves("route_curve_iso_routed_x1000_r18.jsonl")
    val x100 = curves("route_curve_iso_routed_x100_r16.jsonl")
    assert(x1000.head("evals_flat") === 10 * x100.head("evals_flat"))
    val a1000 = x1000.find(p => p("rprobe") == p("p_auto")).get
    assert(a1000("evals") * 4 <= a1000("evals_flat"))
  }

  test("frame-state artifacts: driver rows grow ~√K, decisively below the array path") {
    // The committed K=10⁴/10⁵ frame-training chain (bench/
    // state_frame_r17.jsonl; regenerate with `Test/runMain graft.StateBench
    // target/scale_r15/ov64_x100 10000,100000 1`) — the r15-verdict #2
    // evidence that no driver-side collection scales with K: the
    // measured frame_driver_rows must grow ~√10 across the decade
    // (only the ⌈√K⌉ coarse level is driver-held) and sit far below
    // the array path's K(1+dim) arithmetic row count at the far tier
    // (where trainHistory REFUSES outright — pinned in
    // ClusteringSpec). The live small-K twin of this pin (4×K → ~2×
    // rows) runs in ClusteringSpec on the fixtures. Since r17 the
    // artifact also records seed_max_bucket_rows (r16 verdict #2):
    // the largest kept md5-prefix bucket — the seed-rank stage's work
    // unit (~n/256 rows; a task hash-coalesces several, so per-task
    // rows are expected Θ(n/partitions)), never Θ(k): the last
    // K-proportional single-task structure in the frame path is
    // measured closed, not just re-spelled.
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench/state_frame_r17.jsonl")))
      .linesIterator.filter(_.nonEmpty).map { l =>
        ("\"(k|frame_driver_rows|array_driver_rows|cells|n|" +
          "seed_max_bucket_rows)\":(\\d+)").r
          .findAllMatchIn(l)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
      }.toSeq
    assert(lines.map(_("k")) === Seq(10000L, 100000L), lines.toString)
    val Seq(k4, k5) = lines
    val exp = math.log(k5("frame_driver_rows").toDouble /
      k4("frame_driver_rows")) / math.log(10.0)
    assert(exp <= 0.65,
      f"frame driver rows grew with exponent $exp%.2f (want ~0.5)")
    assert(k5("frame_driver_rows") * 20 <= k5("array_driver_rows"),
      s"frame rows ${k5("frame_driver_rows")} not decisively below " +
        s"array ${k5("array_driver_rows")}")
    // seed placement: the rank stage's work unit tracks the bucket
    // size (n/256, with headroom for hash unevenness), NOT k — at
    // K=10⁵ a Θ(k)-unit seed would show ~k here
    lines.foreach { m =>
      assert(m("seed_max_bucket_rows") > 0L, m.toString)
      assert(m("seed_max_bucket_rows") <= math.max(1L, m("n") / 64L),
        s"k=${m("k")}: seed bucket held ${m("seed_max_bucket_rows")} rows " +
          s"of n=${m("n")} — not bucket-bounded")
    }
    // structural sanity: the measured runs really trained/assigned
    lines.foreach { m =>
      assert(m("cells") >= m("k") / 2,
        s"k=${m("k")} produced only ${m("cells")} cells")
    }
    // r18 (verdict #5), the n-decade: the x1000 artifact (bench/
    // state_frame_x1000_r18.jsonl; regenerate with `Test/runMain
    // graft.StateBench target/scale_r18/iso_x1000 10000 1`) measures
    // the SAME K=10⁴ at n=2,000,000 — driver-held frame rows must be
    // INDEPENDENT of n (the K-side law above is the other axis), the
    // seed-rank work unit must keep tracking the ~n/256 bucket (so it
    // GROWS with n — Θ(n/256), never Θ(k)), and the run must still
    // populate every cell.
    val x1000 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("bench/state_frame_x1000_r18.jsonl")))
      .linesIterator.filter(_.nonEmpty).map { l =>
        ("\"(k|frame_driver_rows|array_driver_rows|cells|n|" +
          "seed_max_bucket_rows)\":(\\d+)").r
          .findAllMatchIn(l)
          .map(m => m.group(1) -> m.group(2).toLong).toMap
      }.toSeq
    val f1000 = x1000.find(_("k") == 10000L).getOrElse(
      fail("x1000 artifact missing the k=10^4 row"))
    assert(f1000("n") === 10 * k4("n"), "not a decade apart")
    assert(f1000("frame_driver_rows") === k4("frame_driver_rows"),
      s"frame driver rows moved with n: ${f1000("frame_driver_rows")} " +
        s"vs ${k4("frame_driver_rows")} at 10x the corpus")
    assert(f1000("seed_max_bucket_rows") <= f1000("n") / 64L &&
      f1000("seed_max_bucket_rows") >= k4("seed_max_bucket_rows"),
      s"seed bucket ${f1000("seed_max_bucket_rows")} not tracking n/256")
    assert(f1000("cells") >= f1000("k") / 2)
  }

  test("IVF recall/nprobe curve: clustered corpora saturate at narrow probes") {
    // The measured shape behind the 'clustered corpora run nprobe 2-8'
    // claim (r12 verdict task #6; full x10 curve in SCALE.md /
    // bench/ann_curve_*_r12.json). On a ScaleGen CLUSTERED tier the
    // IVF recall curve must (a) be monotone in nprobe, (b) saturate
    // high by nprobe 8 while (c) scanning a small corpus fraction —
    // the regime where the wide-open registry knob (70-80% of cells)
    // would be ~15-25x more scan for the same recall. The isotropic
    // contrast (wide probes needed for the recall TAIL) is measured in
    // the x10 artifact; at this tiny tier its curve is too noisy to
    // pin, so the CI pin is the clustered saturation itself.
    val cl = ScaleGen.generate(spark, base, tmpRoot("cl") + s"/x$Mult",
      Mult, clusters = 16)
    val (n, c, pts) = AnnCurve.curve(spark, cl, k = 10, nQ = 64,
      nprobes = Seq(1, 2, 4, 8))
    assert(n > 0 && c >= 8, s"tier too small: n=$n cells=$c")
    // monotone recall in nprobe
    pts.map(_.recallIvf).sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-9, s"recall not monotone: $pts")
      case _ => ()
    }
    val at8 = pts.find(_.nprobe == 8).get
    assert(at8.recallIvf >= 0.9,
      s"clustered recall did not saturate by nprobe 8: $pts")
    assert(at8.scanFrac <= 0.45,
      s"nprobe-8 scan fraction too high (cells too few?): $pts")
  }

  test("ANN x1000 artifacts: recall monotone, saturated at sub-1% scan") {
    // The committed x1000-decade curves (bench/ann_curve_*_x1000_r18
    // .json; regenerate with `Test/runMain graft.AnnCurve 1000 <src>
    // <outBase> 32`): at n=2,000,000 / 1415 cells BOTH regimes
    // saturate by nprobe 8 while scanning < 1% of the corpus — the
    // clustered tier by structure, and the ISOTROPIC tier by a real
    // concentration effect (the nearest neighbor's cosine grows like
    // sqrt(2 ln n / d), so at 2M points the true neighbors sit deep
    // inside the query's own Voronoi cell — the x10 artifact's
    // "isotropic needs wide probes" regime weakens with n, measured
    // not asserted). Pins are form-identical to the live x-tier test:
    // monotone recall, saturation bar, scan-fraction bound.
    for (f <- Seq("ann_curve_cl32_x1000_r18.json",
        "ann_curve_iso_x1000_r18.json")) {
      val line = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"bench/$f")))
      val n = "\"n\":(\\d+)".r.findFirstMatchIn(line).get.group(1).toLong
      assert(n === 2000000L, s"$f n=$n")
      val pts = ("\\{\"nprobe\":(\\d+),\"recall_ivf\":([0-9.]+)," +
        "\"recall_ivfpq\":([0-9.]+),\"scan_frac\":([0-9.]+)\\}").r
        .findAllMatchIn(line)
        .map(m => (m.group(1).toInt, m.group(2).toDouble,
          m.group(3).toDouble, m.group(4).toDouble)).toSeq
      assert(pts.nonEmpty, f)
      pts.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._1 > a._1 && b._2 >= a._2 - 1e-9 && b._4 >= a._4,
            s"$f not monotone: $a -> $b")
        case _ => ()
      }
      val at8 = pts.find(_._1 == 8).get
      assert(at8._2 >= 0.95, s"$f recall@8 ${at8._2}")
      assert(at8._4 <= 0.01, s"$f scan_frac@8 ${at8._4} not sub-1%")
    }
  }
}
