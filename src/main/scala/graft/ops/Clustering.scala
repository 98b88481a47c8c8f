package graft.ops

import graft.{QuerySpec, StageCache, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-space clustering: distributed Lloyd k-means and the
  * SemDeDup-style semantic near-duplicate screen built on it — the
  * "cluster the corpus, then look for duplicates only inside a
  * cluster" pattern large training-data pipelines use to turn the
  * quadratic all-pairs cosine problem into cluster-bounded work.
  *
  * DETERMINISM DESIGN (the whole point of this module): k-means over
  * doubles is not reproducible across engines or even across Spark
  * partitionings — float summation order changes centroid low bits,
  * near-ties flip assignments, and the drift COMPOUNDS per iteration.
  * So, exactly like the PageRank oracle (Graph.scala), every step of
  * Lloyd's loop here runs in FIXED-POINT INTEGER arithmetic:
  *
  *   - coordinates quantize ONCE: xi = trunc((x + 4.0) * 1e6) as LONG
  *     (`CAST(trunc(...) AS BIGINT)` in DuckDB mirrors Spark's
  *     truncating double→long cast; the +4 shift makes every value
  *     non-negative — see the guard below — so truncating and floor
  *     division coincide and Scala `/` == DuckDB `//`);
  *   - distances are Σ(xi−ci)² in LONG — integer addition is
  *     associative/commutative, so the sum is partitioning-invariant
  *     and bit-exact, not merely close;
  *   - argmin ties break by centroid id (only possible when two
  *     centroids coincide exactly);
  *   - the M-step centroid is the truncating integer mean
  *     Σxi `div` n, so the ROUND-TRIPPED STATE is integer-exact and
  *     per-iteration drift is structurally impossible;
  *   - seeds are the K vectors with the smallest
  *     (md5(vec_id), vec_id) — the same cross-engine-byte-identical
  *     hash order q_mix_source_cap pins.
  *
  * The oracle therefore unrolls the SAME recurrence in DuckDB CTEs and
  * matches bit-exact by construction — no validity precondition, no
  * tolerance. Quantization granularity (1e-6 of a coordinate) is far
  * below any cluster-structure scale, and identical in both engines.
  *
  * K IS A KNOB, NOT A CONSTANT (r13 verdict): the registry queries
  * read `spark.graft.kmeans.k` (default [[K]] = 8 — the value the
  * oracle text and sf0.001 goldens pin, exactly like
  * `spark.graft.bpe.merges`), and the public operators
  * [[kmeansAssign]] / [[semanticDedup]] take k explicitly. SemDeDup at
  * production scale runs K ~ n/1000, so the in-cluster pair work
  * Σ n_c² ≈ n²/K stays ~linear in n — measured, not asserted:
  * ScaleSpec grows K with n across two generated tiers and pins the
  * pair-work exponent and the planted-near-dup recall.
  *
  * TWO E-STEP PATHS:
  *   - `literal` (K ≤ [[RoutedMinK]], exact): the nearest centroid is
  *     a narrow per-row projection against the K×dim centroid array
  *     held in one kernel (graftnative.LongNearest) — no join, no
  *     shuffle, no driver round-trip per row. The kernel's generated
  *     code is one call, the same for every K and every centroid set,
  *     so neither K nor a Lloyd loop recompiles it. It is the module's
  *     (and the ANN family's) ONE exact argmin; its cost is n×K
  *     distance work, which is the r14-flagged quadratic in the K∝n
  *     SemDeDup regime, so:
  *   - `routed` (the K∝n scale path, r15): a TWO-LEVEL hierarchy. The
  *     K centroids are themselves clustered (driver-side, same integer
  *     arithmetic) into ⌈√K⌉ coarse ROUTING centroids; each vector
  *     finds its nearest coarse centroid (√K work), then the exact
  *     argmin over just that branch's member centroids (~√K more).
  *     Work per vector falls n×K → ~2n√K and the broadcast state falls
  *     K×dim → √K×dim (the member table joins by branch key — shuffled
  *     at scale, not broadcast). The trade: assignment is approximate
  *     WHERE ROUTING ERRS (the true nearest centroid lives in a
  *     different branch) — still fully deterministic and partitioning-
  *     invariant, with per-row dist2 ≥ the exact argmin by
  *     construction. Agreement vs the literal path is MEASURED like
  *     LSH recall (ClusteringSpec / ScaleSpec pins), not assumed.
  *   K alone picks the path: literal ≤ [[RoutedMinK]] < routed — exact
  *   through mid K, routed in the regime where exact flat assignment
  *   is the scale defect. Likewise the centroid state ([[frameState]])
  *   and the routing probe count ([[effProbes]]) are pure functions of
  *   K; there is no session knob for any of the three.
  *
  * 100 TB shape: per iteration the M-step is one LongVecSum hash
  * aggregate keyed by cid — map-side combinable, shuffle output
  * bounded by K vector sums regardless of corpus size — and the driver
  * collects at most K (cid, sums, count) rows — the same documented
  * bounded-collect class as the BPE vocabulary table. Long-sum bounds:
  * xi ≤ ~5e6, so Σxi per (cid, idx) stays exact up to ~1.8e12 members
  * per cluster; the readout's Σdist² (≤ ~1e14 per vector at dim 64) is
  * exact to ~9e4 × fewer members — at a scale beyond that, widen the
  * readout sum to a two-level aggregate. Both bounds are far past any
  * tested tier and documented here rather than silently assumed.
  *
  * ONE LLOYD LOOP FOR THE K SWEEP AND THE ANN CODEBOOKS: since r19
  * [[Sketches]]' IVF and PQ codebooks follow this module's arithmetic
  * contract — integer L2 on the (x+4)·1e6 quantization, ties to the
  * lower cid, truncating integer means with carry-forward, md5-order
  * seeds — and they train in the same driver-state loop,
  * [[trainSweep]]: a list of GROUPS, each with its own vector column
  * (all of `xq`, or a PQ subspace `slice` of it), seed rows and
  * per-centroid step after the mean (IVF re-projects onto the sphere).
  * Per round one E-step tags every row with each group's
  * LongNearest cid and one LongVecSum aggregate keyed by (group, cid)
  * carries the means to the driver. The K sweep is one group per K;
  * IVF is one group of ⌈√N⌉ cells; PQ is one group per subspace.
  */
object Clustering {

  private def q(name: String, oracle: String, reads: String*)(
      df: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec.sql(name, oracle, reads: _*)(df)

  /** Fixed-point scale: 1 coordinate unit == 1e6 integer units. */
  private val ScaleD = 1000000.0
  /** Coordinate shift making quantized values non-negative; valid for
    * any embedding-like data with coordinates > −4 (the fixtures and
    * ScaleGen vectors live in (−1, 1)). Guarded at train time. */
  private val ShiftD = 4.0
  /** The quantized value of a zero coordinate, ShiftD·ScaleD as a
    * long — subtracting it recovers UNSHIFTED integer coordinates for
    * dot products (the shift cancels in L2 distances but not in
    * dots); shared with the ANN family's fidelity probe. */
  private[graft] val ShiftQ: Long = (ShiftD * ScaleD).toLong
  /** Default cluster count and Lloyd iterations: the registry oracle
    * text and the sf0.001 goldens are generated from THESE values, so
    * the driver-checked contract cannot drift. A session overriding
    * `spark.graft.kmeans.k` gets the same bit-exact training at its
    * own K — and diverges from the pinned oracle, exactly like a
    * non-default `spark.graft.bpe.merges`. */
  private[ops] val K = 8
  private[graft] val Iters = 4
  /** Largest K the dispatch serves with the EXACT literal E-step
    * (and trains in the joint [[trainSweep]]); above it the two-level
    * routed path takes over. 1024 keeps every oracle/golden K (8–16)
    * and any plausible hand-picked K exact, while the K∝n SemDeDup
    * regime (K ~ n/125 — thousands to millions of clusters) lands on
    * the path whose work is ~n√K instead of the n×K ≈ n²/125 the r14
    * verdict flagged. The literal kernel's centroids ride in every
    * task's plan (1024×64 longs ≈ 0.5 MB here). Callers needing exact
    * assignment at larger K call [[assignLiteral]] directly and accept
    * both the quadratic and that per-task payload. */
  private[graft] val RoutedMinK = 1024

  private[graft] def kOf(s: SparkSession): Int = {
    val k = s.conf.get("spark.graft.kmeans.k", K.toString).toInt
    require(k >= 1, s"spark.graft.kmeans.k must be >= 1, got $k")
    k
  }

  /** The per-coordinate quantization map — exposed so the streaming
    * scoring twin applies the IDENTICAL constants. */
  private[graft] def quantize(x: Column): Column =
    ((x + lit(ShiftD)) * lit(ScaleD)).cast("long")

  /** The quantized-frame BUILD pipeline — factored out of [[base]] so
    * [[retrainCentroids]] can rebuild the stage from the live corpus.
    * Rows without a vector (NULL or empty embedding) are not part of
    * the corpus, as the oracles' `unnest` drops them: no path assigns
    * them a cluster and no seed is one. */
  private def baseFrame(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(size(col("embedding")) > 0)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), quantize _).as("xq"))

  /** Quantized training frame (vec_id, label, xq: array<long>),
    * materialized once per (session, dir) via the stage cache — shared
    * by q_embed_kmeans and q_dedup_semantic. */
  private[graft] def base(s: SparkSession, d: String): DataFrame =
    StageCache.memoized(s, d, "kmeans_base")(baseFrame(s, d))

  /** Quantized squared L2 between two array<long> columns — the
    * module's ONE distance expression (the bit-exactness contract
    * lives here; every path and query composes this). Native codegen
    * since r20 (graftnative.LongL2Sq) — same exact long arithmetic,
    * no per-element interpreted lambda on the N x K products. */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.longL2Sq(a, b)

  /** Squared integer distance from xq to the literal centroid `c`. */
  private def dist2(c: Array[Long]): Column =
    l2sq(col("xq"), typedLit(c.toSeq))

  /** struct(d, cid) of the centroid nearest to the array<long> column
    * `v`, ordered by (distance, cid), so ties (possible only for
    * coinciding centroids) break deterministically. One kernel whose
    * generated code is the same for every K and every centroid set: a
    * Lloyd loop or a K sweep compiles it once. A NULL, empty or ragged
    * `v` reads (NULL, 0), and so does every row against no centroids
    * (an ANN codebook of a corpus without vectors). */
  private[graft] def nearest(cents: Array[Array[Long]], v: Column = col("xq")): Column =
    if (cents.isEmpty) struct(lit(null).cast("long").as("d"), lit(0L).as("cid"))
    else graft.functions.VectorFunctions.longNearest(v, cents)

  /** The cid of a [[nearest]] struct, NULL where the distance is NULL
    * (a NULL, empty or ragged vector) — the ANN family's cell and code
    * over a collected codebook. */
  private[graft] def cidOrNull(n: Column): Column =
    when(n.getField("d").isNotNull, n.getField("cid"))

  /** Literal-path assignment: `b` plus (cid, dist2), one narrow
    * projection, no join, no shuffle. */
  private[graft] def assignLiteral(b: DataFrame,
      cents: Array[Array[Long]]): DataFrame =
    b.withColumn("_dc", nearest(cents))
      .withColumn("cid", col("_dc.cid"))
      .withColumn("dist2", col("_dc.d"))
      .drop("_dc")

  /** The grouped-argmin tail shared by the routed and frame paths:
    * `joined` carries one `_dc` = struct(d,
    * cid) candidate per (input row × candidate centroid), keyed by
    * `_rid`. Group ONLY on the _rid row key — never on payload
    * columns: a caller frame carrying a map-typed column would make a
    * group-by-everything fail (grouping on MapType is unsupported),
    * and a single long grouping key is the narrower shuffle anyway.
    * The payload rides as first() partial aggregates — every row in a
    * _rid group came from ONE input row, so first() is exact. */
  private def argminByRid(joined: DataFrame, keep: Seq[String]): DataFrame = {
    val aggs = keep.toIndexedSeq.map(c => first(col(c)).as(c)) :+
      min(col("_dc")).as("_dc")
    joined
      .groupBy(col("_rid"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("cid", col("_dc.cid"))
      .withColumn("dist2", col("_dc.d"))
      .drop("_dc", "_rid")
      .select((keep :+ "cid" :+ "dist2").map(col).toIndexedSeq: _*)
  }

  /** Coarse (routing) centroid count for the two-level E-step: ⌈√K⌉
    * balances the two stages (n√K routing + ~n√K in-branch argmin). */
  private[graft] def routeCount(k: Int): Int =
    math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Cluster the K centroids themselves into ≤ r coarse ROUTING
    * centroids — the top level of the two-level E-step. Driver-side
    * Lloyd in the SAME fixed-point integer arithmetic as the
    * distributed loop (integer L2, ties by branch id, truncating
    * integer mean, empty branches carry forward), over deterministic
    * even-stride seeds — so the hierarchy is a pure function of the
    * centroid set: partitioning-invariant and replayable. Branches no
    * centroid routed to are COMPACTED AWAY (a vector routed to an
    * empty branch would otherwise be dropped by the member join).
    *
    * Cost: O(K·r·iters·dim) = O(K^1.5) driver work — ~10⁸ long ops at
    * K = 10⁴, trivial next to one distributed E-step pass. At K beyond
    * ~10⁵ this coarsening is itself a k-means over K rows and would be
    * spelled as one more level of the distributed loop; documented
    * rather than built, like the module's other far-past-any-tier
    * bounds.
    *
    * @return (coarse centroids, memberOf: centroid id → branch id) */
  private[graft] def coarsen(cents: Array[Array[Long]], r0: Int,
      iters: Int = Iters): (Array[Array[Long]], Array[Int]) = {
    val k = cents.length
    require(k >= 1, "coarsen needs at least one centroid")
    val r = math.min(math.max(r0, 1), k)
    val dim = cents(0).length
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    var coarse =
      Array.tabulate(r)(j => cents((j.toLong * k / r).toInt).clone())
    val memberOf = new Array[Int](k)
    var it = 0
    while (it <= iters) {
      var c = 0
      while (c < k) { // E: nearest coarse, ties to the smaller branch id
        var bestJ = 0; var bd = Long.MaxValue
        var j = 0
        while (j < r) {
          val d = d2(cents(c), coarse(j))
          if (d < bd) { bd = d; bestJ = j }
          j += 1
        }
        memberOf(c) = bestJ
        c += 1
      }
      if (it < iters) { // M: truncating integer mean per branch
        val sums = Array.fill(r)(new Array[Long](dim))
        val n = new Array[Long](r)
        var c2 = 0
        while (c2 < k) {
          val j = memberOf(c2); n(j) += 1
          val v = cents(c2); val sm = sums(j)
          var i = 0
          while (i < dim) { sm(i) += v(i); i += 1 }
          c2 += 1
        }
        coarse = Array.tabulate(r) { j =>
          if (n(j) == 0L) coarse(j)
          else Array.tabulate(dim)(i => sums(j)(i) / n(j))
        }
      }
      it += 1
    }
    val used = memberOf.distinct.sorted
    val remap = used.zipWithIndex.toMap
    (used.map(coarse), memberOf.map(remap))
  }

  /** Floor on routing probes per vector (multi-probe, the IVF-nprobe
    * precedent): single-probe routing errs whenever the true nearest
    * centroid sits just across a branch boundary — on the isotropic
    * fixture that costs ~1/3 of assignments. Probing the P nearest
    * branches and taking the exact argmin across their members
    * recovers most of it at P× the in-branch work. The probe count
    * actually used is [[effProbes]], derived from K via
    * [[adaptiveProbes]] so approximation QUALITY is scale-stable. */
  private[graft] val RouteProbes = 3

  /** K-adaptive probe default: P(K) = max([[RouteProbes]], ⌈√r⌉)
    * where r = ⌈√K⌉ is the branch count. A FIXED P silently decays as
    * K grows — the committed operating curves measured isotropic
    * agreement 0.877 at K=160 falling to 0.817 at K=1600 at P=3,
    * because the probed fraction P/r shrinks. Holding P/r constant
    * (P ∝ √K) would restore the flat path's n·K cost; the measured
    * curve family says the REQUIRED P for ~0.9 agreement grows much
    * slower — ×10 in K needed only 3 → ~6 (route_curve_iso_routed
    * artifacts) — and P = ⌈√r⌉ = ⌈K^¼⌉ tracks exactly that: P(160)=4
    * (agreement 0.928 measured), P(1600)=7 (0.93–0.95 measured
    * bracket), so quality HOLDS across decades at per-vector work
    * √K·(1+√r) ≈ K^¾ — n^1.75 when K ∝ n, still K^¼-fold below the
    * flat n² (5× at K=1600, 30× at K=10⁶). */
  private[graft] def adaptiveProbes(k: Int): Int =
    math.max(RouteProbes,
      math.ceil(math.sqrt(routeCount(k).toDouble)).toInt)

  /** The probe count every routed and frame path uses at this k:
    * [[adaptiveProbes]] clamped at routeCount(k), since every P ≥
    * routeCount(k) probes all branches and trains identically. Also
    * the `_p<P>` component of the routed memo/store keys and the frame
    * stage names, so it stays a pure function of k — never of the
    * data (not the post-compaction branch count). */
  private[graft] def effProbes(k: Int): Int =
    math.min(adaptiveProbes(k), routeCount(k))

  /** Does the frame path route at this k? Only when [[effProbes]]
    * leaves some branch unprobed (K ≥ 10). At K ≤ 9 every branch is
    * probed, so routing is an identity on results and the frame path
    * collects the ≤ 9-row centroid frame and scores it with the
    * literal E-step instead: no distributed coarsening, no member
    * table, no join. */
  private[graft] def frameRoutes(k: Int): Boolean =
    effProbes(k) < routeCount(k)

  /** Largest coarse-branch count r that [[routeProbe]] ranks with an
    * array of r (d, branch) struct literals in one projection; a larger
    * r takes the broadcast top-k aggregate. That choice is all this
    * bounds: the struct array's expression tree grows with r. */
  private[graft] val LiteralProbeMaxR = 64

  /** Stage 1 of the routed E-step: each row of `keyed` exploded to its
    * `p` nearest coarse branches (`_rt` column, ≤ p rows per input).
    * r = ⌈√K⌉ ≤ [[LiteralProbeMaxR]] (⇔ K ≤ 4096) runs as one narrow
    * projection (array of r (d, rid) struct literals, sorted, sliced);
    * larger r goes through a broadcast cross join with the √K-row
    * coarse frame and the bounded-heap [[VectorFunctions.topKByScore]]
    * aggregate (O(p) state, map-side combinable — the shuffle carries
    * p rows per vector, never r). Probe ORDER is (distance asc, branch
    * id asc) in both spellings; the aggregate path compares the
    * distance as a negated double, whose 53-bit mantissa can merge
    * near-ties that the literal path's integer sort keeps distinct —
    * that can only reorder WHICH branches are probed, deterministically
    * either way, and routing is approximate by contract. `keyed` must
    * carry the `_rid` per-row key (both callers add it): the aggregate
    * path groups on it ALONE — payload columns (which may be
    * map-typed, ungroupable) ride as first() partial aggregates. */
  private[graft] def routeProbe(keyed: DataFrame,
      coarse: Array[Array[Long]], p: Int): DataFrame = {
    val r = coarse.length
    val pEff = math.min(p, r)
    if (r <= LiteralProbeMaxR) {
      val arr = array(coarse.zipWithIndex.toIndexedSeq.map { case (c, j) =>
        struct(dist2(c).as("d"), lit(j.toLong).as("rt"))
      }: _*)
      keyed.withColumn("_pr", explode(slice(array_sort(arr), 1, pEff)))
        .withColumn("_rt", col("_pr.rt")).drop("_pr")
    } else {
      import graft.functions.VectorFunctions.topKByScore
      val s = keyed.sparkSession
      import s.implicits._
      val cdf = coarse.zipWithIndex.toIndexedSeq
        .map { case (c, j) => (j.toLong, c.toIndexedSeq) }
        .toDF("_rtc", "_rcq")
      val keep = keyed.columns.filterNot(_ == "_rid")
      val aggs = keep.toIndexedSeq.map(c => first(col(c)).as(c)) :+
        topKByScore((-l2sq(col("xq"), col("_rcq"))).cast("double"),
          col("_rtc"), pEff).as("_tops")
      keyed.crossJoin(broadcast(cdf))
        .groupBy(col("_rid"))
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("_pr", explode(col("_tops")))
        .withColumn("_rt", col("_pr.id"))
        .drop("_tops", "_pr")
    }
  }

  /** The (branch id, centroid id, centroid) member table stage 2 joins
    * on `_rt`. No broadcast hint ON PURPOSE: at test K the planner
    * broadcasts the tiny frame anyway; at production K (millions of
    * centroids) it partitions by branch key and meets the
    * equally-partitioned vectors in a shuffle join — each shuffle
    * partition then holds ~√K member centroids, never the full K×dim
    * state the flat join broadcasts. */
  private def membersDf(s: SparkSession, cents: Array[Array[Long]],
      memberOf: Array[Int]): DataFrame = {
    import s.implicits._
    memberOf.toIndexedSeq.zipWithIndex
      .map { case (rid, cid) =>
        (rid.toLong, cid.toLong, cents(cid).toIndexedSeq) }
      .toDF("_rt", "_ccid", "_cq")
  }

  /** Two-level routed assignment — the K∝n scale path: same (cid,
    * dist2) columns as the exact paths, ~(1+P)·n√K distance work
    * instead of n×K. dist2 is exact FOR THE CHOSEN cid (it is that
    * centroid's true integer L2), and ≥ the flat argmin by
    * construction — the assignment differs from exact only where all
    * P probed branches miss the true nearest (measured:
    * ClusteringSpec agreement pin, ScaleSpec recall pin). Where the
    * probes would visit every branch (K ≤ 9, [[frameRoutes]] false)
    * routing cannot change a result, so the literal path serves. */
  private[graft] def assignRouted(b: DataFrame,
      cents: Array[Array[Long]]): DataFrame =
    assignRouted(b, cents, effProbes(cents.length))

  /** [[assignRouted]] at an explicit probe count `p` — the seam the
    * operating-curve measurements (RouteCurve, ScaleBench) vary P
    * through. */
  private[graft] def assignRouted(b: DataFrame,
      cents: Array[Array[Long]], p: Int): DataFrame = {
    if (!frameRoutes(cents.length)) return assignLiteral(b, cents)
    val s = b.sparkSession
    val (coarse, memberOf) = coarsen(cents, routeCount(cents.length))
    // A NULL xq row would be dropped SILENTLY by the top-k routing
    // branch (null distance -> aggregate-skips-nulls -> empty probe
    // list), diverging from the exact paths (r15 review #6) — fail
    // loudly instead ([[guardXq]]); every in-repo producer quantizes
    // through [[base]], so this fires only on malformed foreign
    // input. (The stream-guard trick: assert_true is NULL when the
    // row is fine, and wiring it through the kept column keeps it
    // un-prunable.)
    // a per-row grouping key: duplicates stay distinct through the
    // argmin, like the literal path (and the oracle's e CTE) weighs a
    // double-ingested vector twice; the id never reaches output
    val keyed = guardXq(b, "assignRouted")
      .withColumn("_rid", monotonically_increasing_id())
    val probed = routeProbe(keyed, coarse, p)
    argminOverMembers(probed, membersDf(s, cents, memberOf),
      b.columns.toIndexedSeq)
  }

  /** Stage 2 of the routed E-step, shared by the driver-array and
    * frame-state paths: exact argmin over each vector's probed
    * members. `probed` carries `_rid` + `_rt`; `members` is the
    * (branch, centroid id, centroid) table in EITHER spelling — a
    * √K-row local relation ([[membersDf]]) or a K-row distributed
    * frame (the frame-state path), the join is the same. Delegates to
    * [[argminByRid]] for the map-column-safe grouped argmin. */
  private def argminOverMembers(probed: DataFrame, members: DataFrame,
      keep: Seq[String]): DataFrame =
    argminByRid(probed.join(members, "_rt")
      .withColumn("_dc", struct(l2sq(col("xq"), col("_cq")).as("d"),
        col("_ccid").as("cid"))),
      keep)

  /** Distance-evaluation count of ONE E-step pass over `b` via the
    * routed path — n·r routing evaluations plus the sizes of each
    * vector's P probed branches. The ScaleBench/ScaleSpec evidence
    * chain: this count must grow ~n^1.5 when K ∝ n, vs the flat
    * paths' exact n·K ≈ n². MEASUREMENT TOOL, deliberately standalone:
    * it re-runs coarsen + the n·r probe pass rather than entangling
    * [[assignRouted]]'s API with count plumbing — one extra ~n√K
    * routing job per ARTIFACT REFRESH (seconds at the ×100 tier,
    * never on a query path). `p` is the probe count, as in
    * [[assignRouted]]. */
  private[graft] def routedEstepEvals(b: DataFrame,
      cents: Array[Array[Long]]): Long =
    routedEstepEvals(b, cents, effProbes(cents.length))

  private[graft] def routedEstepEvals(b: DataFrame,
      cents: Array[Array[Long]], p: Int): Long = {
    val n = b.count()
    val k = cents.length
    if (!frameRoutes(k)) return n * k
    val s = b.sparkSession
    import s.implicits._
    val (coarse, memberOf) = coarsen(cents, routeCount(k))
    val sizes = memberOf.groupBy(identity).toSeq
      .map { case (rid, a) => (rid.toLong, a.length.toLong) }
      .toDF("_rt", "_bs")
    val keyed = b.withColumn("_rid", monotonically_increasing_id())
    val branchSum = routeProbe(keyed, coarse, p)
      .join(broadcast(sizes), "_rt")
      .agg(coalesce(sum("_bs"), lit(0L))).head().getLong(0)
    n * coarse.length + branchSum
  }

  // -------------------------------------------------------------------
  // FRAME-STATE TRAINING (r16, verdict #2): past [[DriverStateMaxK]]
  // even HOLDING the K×dim centroid array on the driver is the scale
  // defect — the routed E-step's n^1.5 work law survives (measured),
  // but coarsen was O(K^1.5) driver compute and the M-step collected
  // K×dim rows. In this regime centroids live as a DataFrame
  // end-to-end: seeds are a distributed top-K frame, coarsening is
  // one more level of the distributed loop over the K-row centroid
  // frame, the member table is a K-row frame join (never a local
  // relation), and the M-step result never reaches the driver — the
  // only driver-held state is the √K-row COARSE level (⌈√K⌉×dim
  // longs: ~1.6 MB at K = 10⁷, the 100 TB K∝n design point). Bit
  // parity with the driver-array routed path is PINNED, not assumed
  // (ClusteringSpec: same seeds, same coarsening, same truncating
  // integer M-step ⇒ identical centroids at overlapping K). At K ≤ 9
  // ([[frameRoutes]] false) there is no coarse level at all: the
  // E-step scores the collected ≤ 9-row centroid frame with the
  // literal kernel, and the registry's centroid stage is written from
  // the driver-array history ([[frameCentroids]]).
  // -------------------------------------------------------------------

  /** Largest K the driver-array training paths accept: K×dim longs ≈
    * 50 MB at this bound — fine on a driver, and the cheapest spelling
    * at test/oracle K. Beyond it [[trainHistory]] REFUSES (fail-loud
    * discipline) and [[frameState]] serves the frame path. */
  private[graft] val DriverStateMaxK = 131072

  /** Does K put the centroid state in a frame (past
    * [[DriverStateMaxK]]) rather than a driver array? */
  private[graft] def frameState(k: Int): Boolean = k > DriverStateMaxK

  /** Driver-collected centroid-state rows this JVM (seeds + M-step
    * collects + coarse-level collects) — the frame path's scale claim
    * is about WORK PLACEMENT, so the evidence is a counter, like
    * [[trainCounter]] for persistence: the array path collects
    * Θ(K×dim) rows per training, the frame path Θ(√K×dim). */
  private[graft] val driverStateRows =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Distributed coarsening — [[coarsen]] spelled as Spark jobs over
    * the K-row centroid FRAME, bit-identical by construction (pinned):
    * same stride seeds over cid order, same integer L2 with ties to
    * the smaller branch id, same truncating integer mean with empty
    * branches carried forward, same used-branch compaction. The
    * driver holds only the r×dim coarse level (r = ⌈√K⌉); membership
    * stays a frame. The E-step here is the literal kernel over the
    * driver-held coarse level (one narrow projection of the centroid
    * frame) — O(K·r·iters) = O(K^1.5) DISTRIBUTED work, vs the same
    * arithmetic as driver loops in [[coarsen]].
    *
    * @return (coarse centroids — √K driver state by design, and the
    *         (cid, _rt) membership frame, localCheckpointed) */
  private[graft] def coarsenDf(cents: DataFrame, r0: Int,
      iters: Int = Iters): (Array[Array[Long]], DataFrame) = {
    val s = cents.sparkSession
    import s.implicits._
    val k = cents.count()
    require(k >= 1, "coarsenDf needs at least one centroid")
    val r = math.min(math.max(r0, 1), k).toInt
    // stride seeds: centroid rows at positions j·k/r in cid order
    val seedPos = Array.tabulate(r)(j => j.toLong * k / r)
    var coarse: Array[Array[Long]] = {
      val picked = cents.filter(col("cid").isInCollection(seedPos))
        .orderBy("cid").collect()
        .map(row => (row.getLong(0), row.getSeq[Long](1).toArray)).toMap
      driverStateRows.addAndGet(r.toLong)
      require(picked.size == seedPos.distinct.length,
        s"coarsenDf seeds: cids must be dense 0..k-1 (k=$k, found " +
          s"${picked.size} of ${seedPos.distinct.length} stride seeds)")
      seedPos.map(p => picked(p).clone())
    }
    def estep: DataFrame = // argmin over r branches; ties to smaller _rt
      cents.select(col("cid"), col("cq"),
        nearest(coarse, col("cq")).getField("cid").as("_rt"))
    var member: DataFrame = null
    var it = 0
    while (it <= iters) {
      member = estep.localCheckpoint(true)
      if (it < iters) { // M: truncating integer mean per branch — one
        // hash aggregate over unexploded centroids (LongVecSum, r22);
        // bit-identical to the old posexplode/groupBy(_rt, idx) shape
        // (element-wise long sums, per-position count == branch count)
        val m = member
          .groupBy("_rt")
          .agg(graft.functions.VectorFunctions.longVecSum(col("cq"))
            .as("sv"), count(lit(1)).as("n"))
          .collect() // bounded: ≤ r rows — the √K driver level
        driverStateRows.addAndGet(m.length.toLong)
        coarse = meanStep(coarse, // empty branches carry forward
          m.map(r => (r.getLong(0).toInt, r.getSeq[Long](1), r.getLong(2))))
      }
      it += 1
    }
    // compact away branches no centroid routed to (same remap as
    // coarsen: used branch ids in sorted order get dense new ids)
    val used = member.select("_rt").distinct()
      .collect().map(_.getLong(0)).sorted // ≤ r rows
    driverStateRows.addAndGet(used.length.toLong)
    val remap = used.zipWithIndex.map { case (u, i) => (u, i.toLong) }
      .toIndexedSeq.toDF("_rt", "_rtNew")
    val memberOf = member.join(broadcast(remap), "_rt")
      .select(col("cid"), col("_rtNew").as("_rt"))
    (used.map(u => coarse(u.toInt)), memberOf)
  }

  /** Assignment from FRAME centroids (a (cid, cq) frame). Where K
    * routes ([[frameRoutes]], K ≥ 10) this is the same two stages as
    * [[assignRouted]], but the member table is the K-row centroid
    * frame joined with the coarsening membership (shuffled at scale,
    * exactly the unhinted-join design the array path documents) and
    * nothing K-sized touches the driver; there is no literal fallback.
    * At K ≤ 9 the probes would visit every branch (e.g. K=8: r=3,
    * P=3), so routing cannot change a result: the ≤ 9 centroid rows
    * are collected and scored with [[assignLiteral]], which is what
    * [[assign]] does at that K, and [[coarsenDf]] never runs. Either
    * way the result at K ≤ 9 is the flat assignment bit-for-bit — the
    * property the oracle-checked frame query rides. */
  private[graft] def assignFrame(b: DataFrame, cents: DataFrame,
      k: Int): DataFrame = {
    val guarded = guardXq(b, "assignFrame")
    if (!frameRoutes(k)) assignLiteral(guarded, centroidRows(cents))
    else {
      val (coarse, memberOf) = coarsenDf(cents, routeCount(k))
      val members = cents.join(memberOf, "cid")
        .select(col("_rt"), col("cid").as("_ccid"), col("cq").as("_cq"))
      val keyed = guarded.withColumn("_rid", monotonically_increasing_id())
      argminOverMembers(routeProbe(keyed, coarse, effProbes(k)), members,
        b.columns.toIndexedSeq)
    }
  }

  /** A few-row (cid, cq) centroid frame as the driver array the
    * literal E-step takes, indexed by cid (seeds number 0 until k). */
  private[graft] def centroidRows(cents: DataFrame): Array[Array[Long]] =
    cents.select("cid", "cq").collect().sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)

  /** The NULL-xq entry guard shared by every routed/frame scorer (see
    * [[assignRouted]]'s rationale — the top-k routing branch would
    * drop a NULL row silently; fail loudly instead, naming the
    * caller). */
  private def guardXq(b: DataFrame, who: String): DataFrame =
    b.withColumn("xq",
      when(assert_true(col("xq").isNotNull,
        lit(s"$who: NULL xq row — quantize embeddings via " +
          "Clustering.base / Clustering.quantize")).isNull, col("xq")))

  /** The frame scorer's routing state, derived ONCE per (session,
    * dir, k) and re-served on every later scorer request (r17
    * review: a stream-verb re-invocation — the
    * nothing-new AvailableNow resume — must not re-pay the O(K^1.5)
    * distributed coarsening). Placement respects the SessionMemo
    * plain-data contract: the coarse level is a √K×dim long array in
    * the memo; the K-row member table is a [[StageCache]] parquet
    * materialization (never a DataFrame captured in a memo value,
    * which would pin the session against the weak key). Both are
    * dropped together by [[rebuildAndInvalidate]]. */
  private def frameRouting(s: SparkSession, d: String,
      k: Int): (Array[Array[Long]], DataFrame) = {
    val p = effProbes(k)
    val membersStage = s"kmeans_frame_members_k${k}_p$p"
    def buildMembers(memberOf: DataFrame): DataFrame =
      frameCentroids(s, d, k).join(memberOf, "cid")
        .select(col("_rt"), col("cid").as("_ccid"), col("cq").as("_cq"))
    val coarse = graft.SessionMemo.memo(s,
        s"kmeans_frame_coarse|$d|k$k|p$p") {
      val (c, memberOf) = coarsenDf(frameCentroids(s, d, k), routeCount(k))
      // materialize the member table while the membership frame is
      // in hand — the memo and the stage live and die together
      StageCache.memoized(s, d, membersStage)(buildMembers(memberOf))
        .count()
      c
    }
    val members = StageCache.memoized(s, d, membersStage)(
      sys.error(s"$membersStage vanished while its coarse memo " +
        "survived — the two are built and invalidated together"))
    (coarse, members)
  }

  /** Precomputed frame-state scorer — coarsen ONCE, score MANY: the
    * streaming twin's shape (r17). [[assignFrame]] derives the
    * two-level hierarchy per call, which is right inside the training
    * loop (the centroid frame changes every iteration) but would
    * re-pay the O(K^1.5) distributed coarsening per MICRO-BATCH in a
    * stream — and per VERB INVOCATION on a resume; where K routes this
    * factory serves the memoized routing state ([[frameRouting]]) and
    * returns the per-batch closure: route + exact argmin over probed
    * members. At K ≤ 9 there is no routing state: the centroid frame
    * is collected once and the closure scores it with the literal
    * E-step. Identical arithmetic to assignFrame either way (pinned:
    * stream ≡ batch row-for-row). */
  private[graft] def frameScorer(s: SparkSession, d: String,
      k: Int): DataFrame => DataFrame =
    if (!frameRoutes(k)) {
      val cents = centroidRows(frameCentroids(s, d, k))
      (b: DataFrame) => assignLiteral(guardXq(b, "frameScorer"), cents)
    } else {
      val (coarse, members) = frameRouting(s, d, k)
      val p = effProbes(k)
      (b: DataFrame) => {
        val keyed = guardXq(b, "frameScorer")
          .withColumn("_rid", monotonically_increasing_id())
        argminOverMembers(routeProbe(keyed, coarse, p), members,
          b.columns.toIndexedSeq)
      }
    }

  /** Largest kept md5-prefix BUCKET in the LAST [[seedFrame]] call
    * this JVM — the seed-stage work-placement observable (StateBench
    * records it next to the driver-row counters; ScaleSpec pins it
    * ≪ k). The window HASH-partitions bucket groups into
    * shuffle.partitions tasks, so a task holds several buckets
    * (expected ~256/partitions, more under hash unevenness) and
    * per-TASK rows are expected Θ(n / shuffle.partitions) —
    * independent of K either way — where the old sort-limit spelling
    * held all k seed rows in ONE task. */
  private[graft] val lastSeedMaxBucketRows =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Seed frame for [[trainFrame]]: the k smallest (md5(vec_id),
    * vec_id) rows as (cid, cq), cid = global rank − 1 — WITHOUT a
    * global sort-limit (r16 verdict #2: `orderBy.limit(k)` + a
    * partition-less window put all k seed rows through ONE task,
    * ~5 GB at the K≈10⁷ design point). Distributed spelling:
    * md5-PREFIX range partitioning + per-bucket rank + exclusive
    * prefix offsets. The first two hex chars of the md5 split the
    * sort order into 256 ranges — a PREFIX of the sort key, so bucket
    * order refines global order and per-bucket ranks stitch into the
    * global rank exactly. One bounded aggregate (≤ 256 rows) counts
    * each bucket; the driver computes exclusive prefix sums and keeps
    * only the buckets intersecting ranks 0..k−1; a window PARTITIONED
    * BY bucket ranks within each — the rank unit is a ~n/256-row
    * bucket (a task hash-coalesces several; see
    * [[lastSeedMaxBucketRows]]), never Θ(k) — and cid = bucket offset
    * + in-bucket rank − 1, filtered to < k. Bit-identical cids to the
    * sort-limit spelling (pinned), two narrow passes instead of one
    * single-task sort. */
  private[graft] def seedFrame(b: DataFrame, k: Int): DataFrame = {
    val s = b.sparkSession
    import s.implicits._
    val cand = b
      .select(col("xq"), md5(col("vec_id").cast("string")).as("_h"),
        col("vec_id"))
      .withColumn("_bk",
        conv(substring(col("_h"), 1, 2), 16, 10).cast("int"))
    // bounded collect: exactly one row per non-empty bucket (≤ 256)
    val counts = cand.groupBy("_bk").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    driverStateRows.addAndGet(counts.length.toLong)
    var off = 0L
    var maxBucket = 0L
    val kept = Seq.newBuilder[(Int, Long)]
    counts.foreach { case (bk, n) =>
      if (off < k) { kept += ((bk, off)); maxBucket = math.max(maxBucket, n) }
      off += n
    }
    lastSeedMaxBucketRows.set(maxBucket)
    val offDf = kept.result().toDF("_bk", "_off")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_bk")).orderBy(col("_h"), col("vec_id"))
    cand.join(broadcast(offDf), "_bk")
      .select((row_number().over(w).cast("long") - 1 + col("_off"))
        .as("cid"), col("xq").as("cq"))
      .filter(col("cid") < k)
  }

  /** Frame-native Lloyd training: the [[trainHistory]] recurrence with
    * centroids as a (cid, cq) DataFrame end-to-end — identical seeds
    * (k smallest (md5(vec_id), vec_id)), identical integer E/M
    * arithmetic, so the result is BIT-IDENTICAL to the driver-array
    * routed path at the same K (pinned at K=80), and at K ≤ 9, where
    * [[assignFrame]] does not route, to the exact [[trainHistory]]
    * (pinned at K=8). Each iteration localCheckpoints the K-row
    * centroid frame (the Graph.scala fixed-round discipline): lineage
    * stays flat across iterations and the frame's blocks live on
    * executors, never the driver. */
  private[graft] def trainFrame(b: DataFrame, k: Int,
      iters: Int): DataFrame = {
    require(k >= 1, s"kmeans k must be >= 1, got $k")
    trainCounter.incrementAndGet()
    requireSeedable(b, k)
    // Seeds as a DISTRIBUTED rank (r16 verdict #2: the previous
    // TakeOrdered + partition-less window funneled all k seed rows
    // through ONE task — ~5 GB at the K≈10⁷ design point), then
    // REPARTITIONED before the checkpoint: everything downstream
    // (coarsenDf's cross join, the member join, the M-step) inherits
    // the centroid frame's parallelism. cid is assigned BEFORE the
    // repartition, so the shuffle cannot perturb it — all later state
    // is partitioning-invariant by the module's integer-arithmetic
    // contract.
    var cents = seedFrame(b, k)
      .repartition(b.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    require(cents.count() == k, s"need >= $k vectors to seed kmeans")
    var it = 0
    while (it < iters) {
      // M-step as ONE hash aggregate over unexploded vectors (r22,
      // guide §2.3 — graftnative.LongVecSum): the old spelling
      // posexploded both the assignments (N×dim rows into the
      // exchange) and the centroid frame, joined on (cid, idx), and
      // regrouped through a sort-buffered collect_list. Element-wise
      // long sums are partitioning-invariant and every member carries
      // every position, so `transform(sv, x -> x div n)` reproduces
      // the old per-(cid, idx) `sm div n` bit-for-bit.
      val m = assignFrame(b, cents, k)
        .groupBy("cid")
        .agg(graft.functions.VectorFunctions.longVecSum(col("xq"))
          .as("sv"), count(lit(1)).as("n"))
        .select(col("cid"), expr("transform(sv, x -> x div n)").as("mv"))
      // next centroids as a frame: truncating integer mean where the
      // cluster is non-empty (div == Scala / on the guarded
      // non-negative domain), previous array where it is (empty
      // clusters carry forward, like the array path)
      cents = cents
        .join(m, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("mv"), col("cq")).as("cq"))
        .localCheckpoint(true)
      it += 1
    }
    cents
  }

  /** Session-memo key for a LOADED frame-centroid artifact's path —
    * seeded by [[persistentFrameCentroids]] so every in-session
    * consumer downstream of a warm load serves the artifact instead
    * of retraining (the array store's load-seeds-the-memo discipline
    * on the frame surface). */
  private def frameArtKey(d: String, k: Int, p: Int): String =
    s"kmeans_frame_art|$d|k$k|p$p"

  /** Frame-state centroids per (session, dir, k), materialized via
    * the stage cache — the frame analogue of [[centroidHistory]]'s
    * memo (and of the persistent store: the materialization IS a
    * parquet table a 100 TB pipeline would maintain). The stage name
    * carries [[effProbes]] because frame training routes at K ≥ 10
    * ([[frameRoutes]]), so its result depends on P. At K ≤ 9 the frame
    * trainer would run the exact recurrence (pinned equal to
    * [[trainHistory]]), so the stage is written from the memoized
    * [[centroidHistory]]'s last centroids instead: the frame and array
    * spellings share one training. A loaded store artifact (the
    * pointer memo) takes precedence — then nothing here trains at all.
    * The build anchors the corpus fingerprint AT TRAINING TIME, like
    * [[centroidHistory]] (which anchors it itself at K ≤ 9): a corpus
    * swapped after an in-session frame training can never pair the
    * stale stage with a fresh fingerprint and poison the frame store. */
  private[graft] def frameCentroids(s: SparkSession, d: String,
      k: Int): DataFrame = {
    graft.SessionMemo.peek[String](s, frameArtKey(d, k, effProbes(k))) match {
      case Some(path) => s.read.parquet(path)
      case None =>
        StageCache.memoized(s, d, s"kmeans_frame_k${k}_p${effProbes(k)}") {
          if (!frameRoutes(k)) centroidFrame(s, centroids(s, d, k))
          else {
            graft.SessionMemo.memo(s, s"kmeans_fp|$d")(
              java.lang.Long.valueOf(corpusFingerprint(s, d)))
            trainFrame(base(s, d), k, Iters)
          }
        }
    }
  }

  /** A driver centroid array as the (cid, cq) frame the frame path
    * reads, cid = array index. */
  private def centroidFrame(s: SparkSession,
      cents: Array[Array[Long]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.toIndexedSeq
      .map { case (c, j) => (j.toLong, c.toIndexedSeq) }
      .toDF("cid", "cq")
  }

  /** PUBLIC OPERATOR (frame state): per-vector assignment at k with
    * centroid state distributed end-to-end — the far-K twin of
    * [[kmeansAssign]]. At K ≤ 9 the result is bit-identical to the
    * exact paths (the literal E-step over the centroid frame — see
    * [[assignFrame]]), which is what the oracle checks; past
    * [[DriverStateMaxK]] this is the ONLY path that does not grow
    * driver state with K. */
  def kmeansAssignFrame(s: SparkSession, d: String, k: Int): DataFrame =
    frameScorer(s, d, k)(base(s, d)) // memoized state; ≡ assignFrame
      .select(col("vec_id"), col("label"), col("cid"), col("dist2"))

  /** Memoized non-negativity verdict per (session, dir): one scan of
    * the materialized narrow stage the FIRST time a training-free
    * consumer (q_embed_drift) needs the truncating-division
    * precondition; later polls reuse the verdict like training reuses
    * the centroid memo. Throws (and does not cache) on violation.
    * Weak-keyed on the session ([[graft.SessionMemo]], r14 advice). */
  private def checkDomain(s: SparkSession, d: String): Unit = {
    graft.SessionMemo.memo(s, s"kmeans_domain|$d") {
      val mnRow = base(s, d).agg(min(array_min(col("xq")))).head()
      require(mnRow.isNullAt(0) || mnRow.getLong(0) >= 0L,
        s"drift quantization saw coordinate <= -$ShiftD " +
          s"(min scaled ${if (mnRow.isNullAt(0)) "-" else mnRow.getLong(0)})")
      java.lang.Boolean.TRUE
    }
    ()
  }

  /** E-step dispatch by K — the exact literal path through
    * [[RoutedMinK]], the two-level routed path in the K∝n regime. */
  private[graft] def assign(b: DataFrame,
      cents: Array[Array[Long]]): DataFrame =
    if (cents.length <= RoutedMinK) assignLiteral(b, cents)
    else assignRouted(b, cents)

  /** The training-result class at this k — the memo/store key
    * component. "exact" is the literal path; store artifacts written
    * under it by the removed join E-step (bit-identical by pin) still
    * load. The routed class carries the probe count, because
    * routed-trained centroids depend on P. */
  private[graft] def modeKey(k: Int): String =
    if (k > RoutedMinK) s"routed_p${effProbes(k)}" else "exact"

  /** Per-iteration centroid history (seeds c0 .. final c_iters),
    * memoized per (session, dir, k): training runs ONCE even though
    * several registry queries ride it (final centroids for the
    * report/dedup, the full trace for the elbow readout). The key
    * spells [[modeKey]] like the store file name, under which a store
    * load seeds it. Weak-keyed on the session ([[graft.SessionMemo]],
    * r14 advice). */
  private[graft] def centroidHistory(s: SparkSession, d: String,
      k: Int): Seq[Array[Array[Long]]] =
    graft.SessionMemo.memo(s, centsKey(d, k)) {
      // Anchor the session's corpus fingerprint AT TRAINING TIME (one
      // narrow scan, once per session+dir): persistentCentroidHistory
      // compares against this anchor, so a corpus swapped AFTER an
      // in-session training can never pair the stale memoized history
      // with the fresh fingerprint and poison the cross-session store
      // (anchoring only at first store touch left that window open).
      graft.SessionMemo.memo(s, s"kmeans_fp|$d")(
        java.lang.Long.valueOf(corpusFingerprint(s, d)))
      trainHistory(base(s, d), k, Iters)
    }

  /** The [[centroidHistory]] memo key; a store load seeds it too. */
  private def centsKey(d: String, k: Int): String =
    s"kmeans_cents|$d|$k|${modeKey(k)}"

  private[graft] def centroids(s: SparkSession, d: String,
      k: Int): Array[Array[Long]] =
    centroidHistory(s, d, k).last

  /** Force-build the kmeans-family artifacts at the session's default
    * K: the quantized base stage, the driver-state centroid histories
    * of q_embed_kelbow's fixed K-sweep (2, 4, 8, 16) plus K
    * (q_embed_kmeans / elbow / medoid / semantic ride them), and the
    * frame-state scorer's state (q_embed_kmeans_frame): the centroid
    * stage, plus the routing memo and member stage where K routes.
    * Paid lazily, the frame state alone was 221 Spark jobs / ~16 s
    * inside the first timed run (r21). All are maintained tables at
    * 100 TB, the same family as the IVF codebook warm.
    *
    * Two serial steps: [[centroidHistories]] trains the sweep's
    * exact K's in one joint Lloyd loop, then the frame scorer
    * builds its state — at K ≤ 9 the centroid stage is written from
    * the sweep's history of K, so nothing trains twice. */
  def warmKmeansStages(s: SparkSession, d: String): Unit = {
    val k = kOf(s)
    centroidHistories(s, d, Seq(2, 4, 8, 16) :+ k)
    frameScorer(s, d, k)
  }

  /** [[centroidHistory]] for several K's at once: the exact K's
    * (≤ [[RoutedMinK]]) whose memo is still cold train together in
    * [[trainKs]], and each history seeds its K's memo; routed K's
    * train one at a time through [[centroidHistory]]. */
  private[graft] def centroidHistories(s: SparkSession, d: String,
      ks: Seq[Int]): Unit = {
    val (joint, single) = ks.distinct.partition(_ <= RoutedMinK)
    val cold = joint.filter(k =>
      graft.SessionMemo.peek[AnyRef](s, centsKey(d, k)).isEmpty)
    if (cold.nonEmpty) {
      graft.SessionMemo.memo(s, s"kmeans_fp|$d")(
        java.lang.Long.valueOf(corpusFingerprint(s, d)))
      val hists = trainKs(base(s, d), cold, Iters)
      cold.foreach(k => graft.SessionMemo.memo(s, centsKey(d, k))(hists(k)))
    }
    single.foreach(k => centroidHistory(s, d, k))
  }

  /** Training invocations this JVM — the persistence spec's observable
    * ("second session reads, doesn't retrain" is a claim about work,
    * not just results, so the counter is the evidence). */
  private[graft] val trainCounter =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Order-insensitive corpus fingerprint over the embeddings table —
    * the staleness key for [[persistentCentroidHistory]]: one narrow
    * scan, xor of per-row xxhash64 over every column the training
    * reads (id, label, raw embedding) MIXED WITH the row count.
    * Partitioning and row order cannot flip it (xor is commutative/
    * associative); the count term closes xor's even-multiplicity
    * blindness (r15 review #2: a batch double-appended verbatim xors
    * its own hashes away — the count still moves). A same-count
    * corpus edit flips the xor term. 0 on an empty corpus. */
  private[graft] def corpusFingerprint(s: SparkSession, d: String): Long = {
    val r = Tables.embeddings(s, d)
      .agg(expr("bit_xor(xxhash64(vec_id, label, embedding))"),
        count(lit(1))).head()
    if (r.isNullAt(0)) 0L
    else java.lang.Long.rotateLeft(r.getLong(0), 17) ^
      (r.getLong(1) * 0x9E3779B97F4A7C15L)
  }

  /** Session-immutability guard (r15 review #1), shared by both
    * stores: the in-session memos and StageCache stages assume the
    * corpus at `d` does not change WITHIN a session (StageCache's
    * documented contract — edits between sessions are the supported
    * case). Without this check, a mid-session corpus swap could pair
    * a STALE memoized history/stage with the FRESH fingerprint and
    * poison the store for every future session. The fingerprint
    * anchors at the session's FIRST training over `d` (inside
    * [[centroidHistory]] / [[frameCentroids]]' build) or, failing
    * that, at the first store touch here; a later mismatch fails
    * loudly. Returns the anchored fingerprint as the artifact-name
    * hex. */
  private def anchoredFingerprintHex(s: SparkSession, d: String): String = {
    val fpNow = corpusFingerprint(s, d)
    val fp0 = graft.SessionMemo.memo(s, s"kmeans_fp|$d")(
      java.lang.Long.valueOf(fpNow))
    require(fp0.longValue == fpNow,
      s"corpus at $d changed within this session (fingerprint " +
        s"${java.lang.Long.toHexString(fp0.longValue)} -> " +
        s"${java.lang.Long.toHexString(fpNow)}); session memos and " +
        "stage materializations are per-session-immutable — use a " +
        "fresh session for the regenerated corpus")
    java.lang.Long.toHexString(fpNow)
  }

  /** CROSS-SESSION training memo (r14 verdict #5): the centroid
    * history persisted to a caller-owned store directory, keyed by
    * (k, E-step mode, corpus fingerprint) — the [[graft.StageCache]]
    * idea carried past JVM exit, composing with CAP-INCREMENTAL the
    * way the Sketches "ivfcb" stage composes with index maintenance.
    * A second session over the SAME corpus loads the artifact and
    * never retrains (pinned via [[trainCounter]]); any corpus change
    * flips the fingerprint, so the stale artifact is simply never
    * addressed again and training reruns — q_embed_drift is the
    * operational alarm for when that SHOULD happen. The artifact is
    * (iters+1)×k×dim longs — driver-bounded like the training collect
    * itself — written atomically (temp file + move) so a crashed
    * writer can never serve a half-written history. Loads also seed
    * the in-session memo under the SAME key [[centroidHistory]] uses,
    * so every registry query downstream of a warm load skips training
    * too. */
  def persistentCentroidHistory(s: SparkSession, d: String, k: Int,
      storeDir: String): Seq[Array[Array[Long]]] = {
    val mode = modeKey(k)
    val fp = anchoredFingerprintHex(s, d)
    val file = java.nio.file.Paths.get(storeDir,
      s"kmeans_k${k}_${mode}_fp$fp.txt")
    if (java.nio.file.Files.isRegularFile(file)) {
      val lines = java.nio.file.Files.readAllLines(file)
      val hist: Seq[Array[Array[Long]]] = lines.get(0).split(" ") match {
        case Array(kk, dd, ii) =>
          val (k0, dim, iters) = (kk.toInt, dd.toInt, ii.toInt)
          require(k0 == k, s"artifact $file holds k=$k0, asked k=$k")
          (0 to iters).map { it =>
            Array.tabulate(k0) { c =>
              val row = lines.get(1 + it * k0 + c).split(" ")
              require(row.length == dim, s"artifact $file row length drift")
              row.map(_.toLong)
            }
          }
        case other => throw new IllegalStateException(
          s"artifact $file header malformed: ${other.mkString(" ")}")
      }
      // seed the session memo so registry queries reuse the load
      graft.SessionMemo.memo(s, centsKey(d, k))(hist)
    } else {
      val hist = centroidHistory(s, d, k)
      val dim = if (hist.head.isEmpty) 0 else hist.head.head.length
      val sb = new StringBuilder
      sb.append(s"$k $dim ${hist.length - 1}\n")
      hist.foreach(_.foreach(c => sb.append(c.mkString(" ")).append('\n')))
      java.nio.file.Files.createDirectories(file.getParent)
      val tmp = java.nio.file.Files.createTempFile(
        file.getParent, ".kmeans_", ".tmp")
      java.nio.file.Files.writeString(tmp, sb.toString)
      java.nio.file.Files.move(tmp, file,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      hist
    }
  }

  /** Retrain-and-swap for the persistent centroid store (r15 verdict
    * #4) — [[graft.ops.Sketches.retrainAnnIndex]]'s pattern on the
    * k-means surface. The store is content-addressed by corpus
    * fingerprint, so BETWEEN sessions a changed corpus retrains by
    * construction; what this verb owns is the LIVE-SESSION path a
    * tripped q_embed_drift alarm or an in-place corpus refresh
    * (CAP-INCREMENTAL appends) demands — where the plain store call
    * deliberately REFUSES on the moved fingerprint (an implicit swap
    * under a consumer's feet is the poison case the r15 guard closed;
    * an explicit retrain verb is the sanctioned one):
    *   1. rebuild the quantized base stage from the live corpus
    *      (StageCache.rewrite — the swap is atomic for readers),
    *   2. drop every kmeans session memo for `d` (histories of any k,
    *      fingerprint anchor, domain verdict) in one move, so nothing
    *      downstream can pair stale state with the fresh corpus,
    *   3. re-run the plain store call: it re-anchors the fingerprint,
    *      trains over the fresh base, and writes the new-fp artifact
    *      atomically. If the fingerprint did NOT move (an alarm on an
    *      unchanged corpus), training is a bit-exact no-op by
    *      determinism and the existing artifact simply reloads —
    *      "retrain" and "restore" agree by construction.
    * Old-fingerprint artifacts stay: content addressing makes them
    * valid for exactly the corpus that produced them (a rolled-back
    * corpus rightfully reloads its own history), and they are
    * (iters+1)×k×dim text files, not data-scale state. Not safe to
    * run CONCURRENTLY with consumers mid-query in the same session —
    * same contract as retrainAnnIndex's swap. */
  def retrainCentroids(s: SparkSession, d: String, k: Int,
      storeDir: String): Seq[Array[Array[Long]]] = {
    rebuildAndInvalidate(s, d)
    persistentCentroidHistory(s, d, k, storeDir)
  }

  /** The retrain verbs' shared first half: rebuild the quantized base
    * stage from the live corpus (atomic for readers), then drop EVERY
    * in-session kmeans derivation of `d` — array histories of any k,
    * frame-centroid stages (r16 review #1), loaded-artifact pointers,
    * the fingerprint anchor, the domain verdict — so nothing
    * downstream can pair stale state with the fresh corpus. */
  private def rebuildAndInvalidate(s: SparkSession, d: String): Unit = {
    StageCache.rewrite(s, d, "kmeans_base")(baseFrame(s, d))(
      _ => baseFrame(s, d))
    // covers the centroid stages AND the scorer's member-table stages
    StageCache.invalidatePrefix(s, d, "kmeans_frame_")
    graft.SessionMemo.dropByPrefix(s, s"kmeans_cents|$d|")
    graft.SessionMemo.dropByPrefix(s, s"kmeans_frame_art|$d|")
    graft.SessionMemo.dropByPrefix(s, s"kmeans_frame_coarse|$d|")
    graft.SessionMemo.dropByPrefix(s, s"kcenter|$d|")
    graft.SessionMemo.dropByPrefix(s, s"kcenter_sampled|$d|")
    graft.SessionMemo.drop(s, s"kmeans_fp|$d")
    graft.SessionMemo.drop(s, s"kmeans_domain|$d")
  }

  /** CROSS-SESSION store for the FRAME regime (r16 verdict #1): the
    * final frame centroids persisted as a content-addressed PARQUET
    * table `kmeans_frame_k<k>_p<P>_fp<fp>.parquet` under a
    * caller-owned store directory — [[persistentCentroidHistory]]'s
    * contract at exactly the K where that verb's driver-array history
    * refuses. Same lifecycle, by construction:
    *
    *  - a second session over the SAME corpus loads the artifact and
    *    never retrains (pinned via [[trainCounter]]); the load seeds
    *    the [[frameArtKey]] pointer, so every in-session consumer
    *    ([[kmeansAssignFrame]], the registry query) serves the
    *    artifact too;
    *  - any corpus change flips the fingerprint: the stale artifact
    *    is never addressed again and training reruns — and a
    *    MID-SESSION change trips the shared anchor guard
    *    ([[anchoredFingerprintHex]]) instead of poisoning the store;
    *  - the key carries the probe count ([[effProbes]]), like
    *    [[modeKey]]'s routed class: frame training routes, so its
    *    result depends on P.
    *
    * The artifact is K rows of (cid, cq) parquet — data-scale-free
    * state that never touches the driver on either side (written from
    * the centroid frame, loaded as a frame; contrast the array
    * store's (iters+1)×k×dim text file, which is driver state by
    * design and refused past [[DriverStateMaxK]]). Written atomically
    * (temp dir + move) with a `_graft_meta.txt` sidecar (k, dim,
    * iters, P — the store-listing verb reads it without a session);
    * a crashed writer can never serve a half-written table. */
  def persistentFrameCentroids(s: SparkSession, d: String, k: Int,
      storeDir: String): DataFrame = {
    val p = effProbes(k)
    val fp = anchoredFingerprintHex(s, d)
    val file = java.nio.file.Paths.get(storeDir,
      s"kmeans_frame_k${k}_p${p}_fp$fp.parquet")
    if (!java.nio.file.Files.isDirectory(file)) {
      val cents = frameCentroids(s, d, k)
      val dim = cents.select(size(col("cq"))).head().getInt(0)
      java.nio.file.Files.createDirectories(file.getParent)
      val tmp = java.nio.file.Files.createTempDirectory(
        file.getParent, ".kmeans_frame_")
      // any failure before the move must not leak the temp dir into
      // the caller-owned store (r17 advice #3)
      try {
        cents.write.mode("overwrite").parquet(tmp.toString)
        java.nio.file.Files.writeString(tmp.resolve("_graft_meta.txt"),
          s"$k $dim $Iters $p\n")
        try java.nio.file.Files.move(tmp, file,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch {
          // a concurrent writer landed the identical content-addressed
          // artifact first — serve theirs, drop ours
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.DirectoryNotEmptyException =>
            graft.Local.rmTree(tmp.toFile)
        }
      } catch {
        case e: Throwable =>
          graft.Local.rmTree(tmp.toFile); throw e
      }
    }
    graft.SessionMemo.memo(s, frameArtKey(d, k, p))(file.toString)
    s.read.parquet(file.toString)
  }

  /** Retrain-and-swap for the FRAME store — [[retrainCentroids]]'
    * semantics in the regime where the array verb's final store call
    * would refuse: rebuild the base stage, drop every in-session
    * kmeans derivation (including loaded-artifact pointers), then
    * re-run the plain store call, which re-anchors the fingerprint,
    * retrains the centroid FRAME over the fresh base, and writes the
    * new-fp artifact atomically. Old-fingerprint artifacts stay
    * (content addressing — a rolled-back corpus reloads its own
    * table). Same single-writer contract as every retrain verb. */
  def retrainFrameCentroids(s: SparkSession, d: String, k: Int,
      storeDir: String): DataFrame = {
    rebuildAndInvalidate(s, d)
    persistentFrameCentroids(s, d, k, storeDir)
  }

  /** Greedy k-center (Gonzalez farthest-point) selection trace — the
    * coreset/diversity-sampling primitive training-data pipelines use
    * when they want MAXIMAL COVERAGE from k examples (the complement
    * of q_embed_sample's cluster-balanced sampling: k-center picks the
    * points that minimize the corpus's distance to its nearest pick,
    * a 2-approximation of the optimal cover by the classic greedy
    * argument). Same fixed-point integer arithmetic and md5-order
    * seed as the kmeans family, so the DuckDB unroll replays it
    * bit-exact. Each of the k−1 steps is ONE narrow distributed pass
    * (min-dist to the chosen literals, argmax as min(struct(−d, id,
    * xq)) — ties to the smaller vec_id); the driver holds only the
    * k×dim chosen set. Inherently sequential in k BY DEFINITION
    * (greedy), so the EXACT operator is for benchmark-sized k — at
    * large k dispatch to [[kcenterSampled]], which runs the same
    * greedy over the cluster-balanced sample so each of the k−1
    * passes is sample-sized, not corpus-sized.
    *
    * @return (rank, vec_id, d2sel) — d2sel = the point's min distance
    *         to the previously-chosen set at selection (None for the
    *         seed): the classic trace, whose last value bounds the
    *         cover radius. */
  private[graft] def kcenterTrace(b: DataFrame,
      k: Int): Seq[(Long, Long, Option[Long])] = {
    require(k >= 1, s"kcenter k must be >= 1, got $k")
    val seed = b
      .select(col("xq"), md5(col("vec_id").cast("string")).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(1)
      .select("vec_id", "xq").collect()
    require(seed.nonEmpty, "kcenter needs a non-empty corpus")
    var chosen =
      Vector((seed(0).getLong(0), seed(0).getSeq[Long](1).toArray))
    val trace = Seq.newBuilder[(Long, Long, Option[Long])]
    trace += ((0L, chosen(0)._1, None))
    var i = 1
    while (i < k) {
      // each vector's min distance to the chosen set
      val mind = nearest(chosen.map(_._2).toArray).getField("d")
      val best = b
        .select(struct((-mind).as("nd"), col("vec_id").as("v"),
          col("xq").as("x")).as("s"))
        .agg(min(col("s"))).head().getStruct(0)
      // d2sel = 0 means every remaining vector coincides with a prior
      // pick: k exceeds the DISTINCT vector count, and the greedy
      // tie-break would silently re-pick the globally smallest vec_id
      // (the DuckDB unroll mirrors the degeneracy, so the oracle could
      // never catch it) — fail loudly instead (r16 advice).
      require(-best.getLong(0) > 0L,
        s"kcenter k=$k exceeds the number of distinct vectors: step " +
          s"$i's farthest point is at distance 0 (already covered) — " +
          "lower k")
      chosen :+= ((best.getLong(1), best.getSeq[Long](2).toArray))
      trace += ((i.toLong, best.getLong(1), Some(-best.getLong(0))))
      i += 1
    }
    trace.result()
  }

  /** The k-center greedy unrolled in DuckDB — m1 is the base case
    * (distance to the seed), then one (m_i, c_i) CTE pair per step:
    * m_i carries each vector's min distance to the chosen set, c_i
    * the argmax (ties to the smaller vec_id) — exactly the Spark
    * recurrence. The caller's outer SELECT unions c0..c_{k-1} with
    * their ranks. `sharedE` points the recurrence at an
    * externally-emitted quantization CTE (the sampled-kcenter oracle
    * restricts it to the drawn subset) instead of emitting its own;
    * the seed then comes from that CTE's distinct vec_ids. */
  private[ops] def kcenterCtes(k: Int,
      sharedE: Option[String] = None): String = {
    val eN = sharedE.getOrElse("e")
    val seedSrc =
      if (sharedE.isDefined) s"(SELECT DISTINCT vec_id FROM $eN)"
      else "embeddings WHERE len(embedding) > 0"
    // the pick side is PRE-FILTERED to its dim rows via an explicit
    // join with the 1-row pick CTE, never a correlated scalar in the
    // idx-join predicate: the correlated spelling let the planner
    // hash-join the two full unnests on idx FIRST (n²·dim pairs
    // before the filter — tens of GB at sf0.1, the r17 sweep's OOM)
    val dist = (ci: String) =>
      s"""(SELECT x.vec_id, CAST(sum((x.xi - c.xi) * (x.xi - c.xi))
        |        AS BIGINT) AS md
        |      FROM $eN x JOIN (
        |        SELECT e2.idx, e2.xi FROM $eN e2
        |        JOIN $ci ON e2.vec_id = $ci.vec_id) c
        |      ON x.idx = c.idx
        |      GROUP BY 1)"""
    val steps = (2 until k).map { i =>
      s"""m$i AS MATERIALIZED (
        |  SELECT m${i - 1}.vec_id, least(m${i - 1}.md, d.md) AS md
        |  FROM m${i - 1} JOIN ${dist(s"c${i - 1}")} d USING (vec_id)),
        |c$i AS MATERIALIZED (SELECT vec_id, md FROM m$i
        |  ORDER BY md DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val eCte = if (sharedE.isDefined) "" else quantCte(eN) + ",\n"
    s"""${eCte}c0 AS MATERIALIZED (SELECT vec_id FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      |    FROM $seedSrc) WHERE rn = 1),
      |m1 AS MATERIALIZED (SELECT * FROM ${dist("c0")} mm),
      |c1 AS MATERIALIZED (SELECT vec_id, md FROM m1
      |  ORDER BY md DESC, vec_id LIMIT 1)${if (k > 2) ",\n" + steps else ""}"""
  }

  /** Sample-then-greedy k-center — the LARGE-k spelling of
    * [[kcenterTrace]] (r16 verdict #4): the same Gonzalez greedy run
    * over the cluster-balanced hash-priority sample (q_embed_sample's
    * draw: ≤ cap members per k-means cluster, deterministic md5
    * priority) instead of the full corpus. kcenterTrace is sequential
    * in k BY DEFINITION — k−1 passes — so at pipeline-sized k the
    * per-step pass must shrink: the sample bounds it at
    * ≤ kClusters·cap rows while the cluster balance keeps the
    * candidate pool spread across the embedding space (a dominant
    * content cluster cannot crowd the pool — exactly the spread a
    * coverage pick needs; at the 100 TB design point kClusters grows
    * with the corpus, so the pool tracks the corpus's structure, not
    * its skew). Trace shape and integer arithmetic unchanged: the
    * greedy is still a 2-approximation of the optimal cover OF THE
    * SAMPLE, and the corpus cover radius exceeds the sample's by at
    * most the sampling dispersion — PINNED on fixtures against the
    * exact greedy (ClusteringSpec: radius ratio bound), not assumed.
    * With cap ≥ the largest cluster the sample IS the corpus and the
    * trace equals [[kcenterTrace]]'s bit-for-bit (pinned). */
  def kcenterSampled(s: SparkSession, d: String, k: Int,
      kClusters: Int, cap: Int): Seq[(Long, Long, Option[Long])] =
    graft.SessionMemo.memo(s,
        s"kcenter_sampled|$d|$k|$kClusters|$cap|${modeKey(kClusters)}") {
      val b = base(s, d)
      val sample = TextSim.cappedKeepByHashPriority(
          assign(b, centroids(s, d, kClusters)).select("vec_id", "cid"),
          keyCol = "cid", idCol = "vec_id", cap = cap)
        .filter(col("kept")).select("vec_id")
      // checkpoint the candidate pool ONCE: the greedy makes k−1
      // passes over it, and an uncheckpointed join lineage re-executes
      // the sample derivation per pass (measured 4.4 s → sub-second at
      // the bench tier). Executor-side blocks, ≤ kClusters·cap rows.
      kcenterTrace(b.join(sample, "vec_id").localCheckpoint(true), k)
    }

  /** The memoized exact trace per (session, dir, k) — q_embed_kcenter
    * and q_embed_kcenter_report share one greedy run, the
    * centroidHistory discipline (the trace is k−1 Spark jobs; a
    * second consumer must not pay them again). Plain data value;
    * invalidated by the retrain verbs like every corpus derivation. */
  private[graft] def kcenterOf(s: SparkSession, d: String,
      k: Int): Seq[(Long, Long, Option[Long])] =
    graft.SessionMemo.memo(s, s"kcenter|$d|$k")(
      kcenterTrace(base(s, d), k))

  /** Driver-array Lloyd training at one K. `estep` is the E-step,
    * [[assign]]'s dispatch by K unless a caller pins one path (the
    * tests and the operating-curve mains reach the routed path on
    * small corpora this way); the loop is [[trainSweep]]'s, with this
    * E-step in place of its nearest-centroid tags. */
  private[graft] def trainHistory(b: DataFrame, k: Int, iters: Int,
      estep: (DataFrame, Array[Array[Long]]) => DataFrame = assign)
      : Seq[Array[Array[Long]]] =
    sweepKs(b, Seq(k), iters) { _ => cur =>
      estep(b, cur(k)).select(lit(k).as("g"), col("cid"),
        col("xq").as("v"), col("dist2").as("d"))
    }(k)

  /** One group of a [[trainSweep]]: its `key`, the array<long> column
    * `vec` its centroids live in (all of `xq`, or a `slice` of it), its
    * seed centroids, and the `step` every centroid takes after the
    * truncating mean (empty clusters carry forward, then step too). */
  private[graft] final case class SweepGroup(key: Int, vec: Column,
      seeds: Array[Array[Long]],
      step: Array[Long] => Array[Long] = identity)

  /** The one driver-state Lloyd loop, for any set of independent
    * recurrences at once: the k-means K sweep ([[trainKs]]), the IVF
    * codebook and the PQ subspace codebooks (Sketches), and the routed
    * single-K training ([[trainHistory]]). `estep` maps each group's
    * current centroids to (g, cid, v, d) rows — the group key, the
    * chosen cid, the vector it adds to that cid's mean and its
    * distance: [[nearestTags]] everywhere but the routed trainer. Rows
    * with a NULL distance (a NULL, empty or ragged vector) add nothing
    * to a mean. Per round: that E-step, one [[LongVecSum]] aggregate keyed by
    * (g, cid), one bounded collect (≤ Σ centroids rows). Element-wise
    * long sums are partitioning-invariant and every member carries
    * every position, so sv(i) / n is the per-(cid, idx) truncating
    * mean bit for bit; recurrences sharing a round share its scans and
    * stay bit-identical to training each alone (pinned).
    *
    * @return each group's history (seeds .. round `iters`) and the
    *         M-step rows the driver collected */
  private[graft] def trainSweep(groups: Seq[SweepGroup], iters: Int)(
      estep: Map[Int, Array[Array[Long]]] => DataFrame)
      : (Map[Int, Vector[Array[Array[Long]]]], Long) = {
    require(groups.map(_.key).distinct.size == groups.size,
      s"trainSweep group keys repeat: ${groups.map(_.key).mkString(",")}")
    var hist = groups.map(g => g.key -> Vector(g.seeds)).toMap
    var collected = 0L
    var it = 0
    while (it < iters) {
      val m = estep(hist.map { case (g, h) => g -> h.last })
        .filter(col("d").isNotNull)
        .groupBy(col("g"), col("cid"))
        .agg(graft.functions.VectorFunctions.longVecSum(col("v"))
          .as("sv"), count(lit(1)).as("n"))
        .collect()
      collected += m.length
      val byG = m.groupBy(_.getInt(0))
      hist = groups.map { g =>
        val h = hist(g.key)
        g.key -> (h :+ meanStep(h.last,
          byG.getOrElse(g.key, Array.empty[org.apache.spark.sql.Row])
            .map(r => (r.getLong(1).toInt, r.getSeq[Long](2), r.getLong(3))))
          .map(g.step))
      }.toMap
      it += 1
    }
    (hist, collected)
  }

  /** [[trainSweep]]'s E-step over `rows`: one projection tagging every
    * row with each group's nearest centroid (LongNearest over the
    * group's `vec`), exploded to one (g, cid, v, d) row per group. The
    * kernel's struct rides whole through the explode, so each group's
    * argmin runs once per row. */
  private[graft] def nearestTags(rows: DataFrame, groups: Seq[SweepGroup])(
      cur: Map[Int, Array[Array[Long]]]): DataFrame = {
    val tags = array(groups.map(g => struct(lit(g.key).as("g"),
      nearest(cur(g.key), g.vec).as("n"), g.vec.as("v"))): _*)
    rows.select(explode(tags).as("_t"))
      .select(col("_t.g").as("g"), col("_t.n.cid").as("cid"),
        col("_t.v").as("v"), col("_t.n.d").as("d"))
  }

  /** [[trainHistory]] for several exact K's (each ≤ [[RoutedMinK]]) in
    * ONE [[trainSweep]], one group per K over the whole `xq` — the
    * sweep's recurrences are independent, so they share every scan and
    * stay bit-identical to one [[trainHistory]] per K (pinned). */
  private[graft] def trainKs(b: DataFrame, ks: Seq[Int],
      iters: Int): Map[Int, Vector[Array[Array[Long]]]] = {
    require(ks.forall(_ <= RoutedMinK),
      s"trainKs takes K's in 1..$RoutedMinK, got ${ks.mkString(",")}")
    sweepKs(b, ks, iters)(groups => nearestTags(b, groups))
  }

  /** The k-means side of [[trainSweep]], one group per K over the whole
    * `xq`: one non-negativity scan; one seed collect of the largest
    * K's rows, whose first k rows are K=k's seeds because the seed
    * order (md5(vec_id), vec_id) does not depend on k; then the loop
    * with the E-step `estep` builds for the groups. Counts one training
    * per K in [[trainCounter]] and the collected rows in
    * [[driverStateRows]]. */
  private def sweepKs(b: DataFrame, ks: Seq[Int], iters: Int)(
      estep: Seq[SweepGroup] => Map[Int, Array[Array[Long]]] => DataFrame)
      : Map[Int, Vector[Array[Array[Long]]]] = {
    val sweep = ks.distinct.sorted
    require(sweep.nonEmpty && sweep.head >= 1,
      s"kmeans k must be >= 1, got ${ks.mkString(",")}")
    // Hard bound (r15 verdict #2): past this K the driver-array
    // spelling IS the scale defect — K×dim seeds/M-step collects and
    // O(K^1.5) driver coarsening. Refuse loudly; the frame-state path
    // ([[trainFrame]] / [[kmeansAssignFrame]], dispatched by
    // [[frameState]]) is the supported spelling there.
    require(sweep.last <= DriverStateMaxK,
      s"k=${sweep.last} exceeds DriverStateMaxK=$DriverStateMaxK for " +
        "driver-array training: centroid state must not grow on the " +
        "driver at this scale — use the frame-state path (kmeansAssignFrame)")
    trainCounter.addAndGet(sweep.length.toLong)
    requireSeedable(b, sweep.head)
    val seeds = seedVectors(b, sweep.last)
    driverStateRows.addAndGet(seeds.length.toLong)
    sweep.foreach(k =>
      require(seeds.length >= k, s"need >= $k vectors to seed kmeans"))
    val groups = sweep.map(k =>
      SweepGroup(k, col("xq"), seeds.take(k).map(_.clone())))
    val (hists, collected) = trainSweep(groups, iters)(estep(groups))
    driverStateRows.addAndGet(collected)
    hists
  }

  /** Non-negativity guard for the truncating-division contract: one
    * scan of the materialized narrow stage. min() over zero rows is
    * NULL — read nullable so an empty corpus gets the clear seed-count
    * error instead of an NPE. */
  private def requireSeedable(b: DataFrame, k: Int): Unit = {
    val mnRow = b.agg(min(array_min(col("xq")))).head()
    require(!mnRow.isNullAt(0), s"need >= $k vectors to seed kmeans (got 0)")
    val mn = mnRow.getLong(0)
    require(mn >= 0L,
      s"kmeans quantization saw coordinate <= -$ShiftD (min scaled $mn)")
  }

  /** Seeds: the vectors of the k smallest (md5(vec_id), vec_id) rows
    * of a (vec_id, xq) frame that have a vector, in that order — one
    * TakeOrdered pass; fewer rows if the frame is smaller. Shared by
    * the k-means sweep and the ANN codebooks. */
  private[graft] def seedVectors(b: DataFrame, k: Int): Array[Array[Long]] =
    b.filter(size(col("xq")) > 0)
      .select(col("xq"), md5(col("vec_id").cast("string")).as("h"),
        col("vec_id"))
      .orderBy(col("h"), col("vec_id")).limit(k)
      .select("xq").collect()
      .map(_.getSeq[Long](0).toArray)

  /** The M-step's truncating integer means: each (id, Σx, n) row
    * replaces centroid `id` with Σx div n; a centroid with no row (an
    * empty cluster) carries forward. */
  private def meanStep(cents: Array[Array[Long]],
      sums: Array[(Int, Seq[Long], Long)]): Array[Array[Long]] = {
    val next = cents.map(_.clone())
    sums.foreach { case (id, sv, n) =>
      val row = next(id)
      var i = 0
      while (i < row.length) { row(i) = sv(i) / n; i += 1 }
    }
    next
  }

  /** PUBLIC OPERATOR: per-vector cluster assignment at an explicit k —
    * (vec_id, label, cid, dist2), dist2 in quantized squared-integer
    * units. Trains (memoized) at k, then assigns via the path fitting
    * k. Past [[DriverStateMaxK]] ([[frameState]]) the centroid state
    * is a DataFrame end-to-end — [[kmeansAssignFrame]]. */
  def kmeansAssign(s: SparkSession, d: String, k: Int): DataFrame =
    if (frameState(k)) kmeansAssignFrame(s, d, k)
    else assign(base(s, d), centroids(s, d, k))
      .select(col("vec_id"), col("label"), col("cid"), col("dist2"))

  /** The quantization CTE (vec_id, idx, xi) the recurrence reads —
    * emitted once per oracle; the K-sweep shares ONE across its four
    * recurrences instead of materializing the corpus unnest per K. */
  private def quantCte(name: String): String =
    s"""$name AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |    CAST(trunc((unnest(CAST(embedding AS DOUBLE[])) + 4.0)
      |      * 1000000.0) AS BIGINT) AS xi
      |  FROM embeddings)"""

  /** The k-means recurrence unrolled in DuckDB — same quantization,
    * same integer ops, same tie-breaks; bit-exact by construction.
    * `p` prefixes every CTE name so several recurrences (the
    * q_embed_kelbow K-sweep) can coexist in one WITH clause; the
    * default "" keeps every existing oracle text SEMANTICALLY
    * identical (the refactor added table aliases, so the emitted text
    * differs by aliases only — every touched oracle was re-verified
    * hash-equal at both tiers on landing). `sharedE` points the
    * recurrence at an externally-emitted [[quantCte]] instead of
    * emitting its own. */
  private[ops] def kmeansCtes(k: Int = K, iters: Int = Iters,
      p: String = "", sharedE: Option[String] = None): String = {
    val eN = sharedE.getOrElse(p + "e")
    val rounds = (1 to iters).map { i =>
      s"""${p}d$i AS (SELECT e.vec_id, c.cid,
        |    CAST(sum((e.xi - c.c) * (e.xi - c.c)) AS BIGINT) AS d
        |  FROM $eN e JOIN ${p}c${i - 1} c ON e.idx = c.idx GROUP BY 1, 2),
        |${p}a$i AS MATERIALIZED (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ${p}d$i)
        |  WHERE rn = 1),
        |${p}c$i AS MATERIALIZED (
        |  SELECT p.cid, p.idx, coalesce(m.c, p.c) AS c
        |  FROM ${p}c${i - 1} p LEFT JOIN (
        |    SELECT a.cid, e.idx,
        |      CAST(sum(e.xi) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
        |    FROM ${p}a$i a JOIN $eN e USING (vec_id) GROUP BY 1, 2) m
        |  ON p.cid = m.cid AND p.idx = m.idx)"""
    }.mkString(",\n")
    val eCte = if (sharedE.isDefined) "" else quantCte(eN) + ",\n"
    s"""$eCte${p}sd0 AS MATERIALIZED (SELECT vec_id, cid FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      |    FROM embeddings WHERE len(embedding) > 0) WHERE cid < $k),
      |${p}c0 AS MATERIALIZED (
      |  SELECT sd0.cid, e.idx, e.xi AS c
      |  FROM ${p}sd0 sd0 JOIN $eN e USING (vec_id)),
      |$rounds,
      |${p}dF AS (SELECT e.vec_id, c.cid,
      |    CAST(sum((e.xi - c.c) * (e.xi - c.c)) AS BIGINT) AS d
      |  FROM $eN e JOIN ${p}c$iters c ON e.idx = c.idx GROUP BY 1, 2),
      |${p}af AS MATERIALIZED (SELECT vec_id, cid, d FROM (
      |    SELECT vec_id, cid, d, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ${p}dF)
      |  WHERE rn = 1)"""
  }

  /** Near-duplicate threshold in quantized squared-Euclidean units:
    * the vectors are unit-norm (pinned by q_sim_norm), so
    * ‖a−b‖² = 2 − 2·cos(a,b) and d² ≤ 1.2 ⇔ cos ≥ 0.4 — the SAME
    * similarity bar as q_dedup_cosine, making the two queries a
    * brute-force/cluster-bounded pair. Scaled by (1e6)² = 1e12;
    * exactly representable, identical literal in both engines. */
  private val DupD2 = 1200000000000L

  /** Per-cluster cap for the diversity sample — binds at every fixture
    * tier (~60+ members per cluster at K=8). */
  private val SampleCap = 8

  /** PUBLIC OPERATOR: SemDeDup-style cluster-bounded semantic near-dup
    * screen at an explicit k — (vec_id, cid, keep_id, n_nbrs), same
    * shape and cos ≥ 0.4 bar as the brute-force q_dedup_cosine
    * witness. Pairwise distance is only ever computed INSIDE a
    * cluster, so total pair work is Σ n_c² — ~n²/k, which stays
    * ~linear in n when k grows with the corpus (SemDeDup runs
    * K ~ n/1000 at production scale; measured across generated tiers
    * in ScaleSpec). Cross-cluster pairs are deliberately unseen — that
    * recall trade IS the algorithm. */
  def semanticDedup(s: SparkSession, d: String, k: Int): DataFrame = {
    val v = assign(base(s, d), centroids(s, d, k))
      .select(col("vec_id"), col("xq"), col("cid"))
    val pd2 = l2sq(col("a.xq"), col("b.xq"))
    val nbrs = v.as("a").join(v.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(pd2 <= lit(DupD2))
      .select(col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
    v.select(col("vec_id"), col("cid"))
      .join(nbrs, col("vec_id") === col("ib"), "left")
      .groupBy("vec_id", "cid")
      .agg(coalesce(min("ia"), col("vec_id")).as("keep_id"),
        count(col("ia")).as("n_nbrs"))
      .select(col("vec_id"), col("cid"), col("keep_id"), col("n_nbrs"))
      .orderBy("vec_id")
  }

  val specs: Seq[QuerySpec] = Seq(

    // Distributed k-means cluster report: per cluster its size, the
    // rms member→centroid distance (cluster tightness), and the
    // dominant label with its share (does the unsupervised structure
    // recover the labels?). The readout every embedding-curation
    // pipeline prints before trusting cluster-bounded dedup.
    // K rides the session knob (oracle/golden pin the default 8).
    q("q_embed_kmeans",
      s"""WITH ${kmeansCtes()},
        |g AS (SELECT cid, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(d) AS BIGINT) AS sd2 FROM af GROUP BY 1),
        |lb AS (SELECT af.cid, em.label, CAST(count(*) AS BIGINT) AS c
        |  FROM af JOIN embeddings em USING (vec_id) GROUP BY 1, 2),
        |tp AS (SELECT cid, label, c FROM (
        |    SELECT cid, label, c, row_number() OVER (
        |      PARTITION BY cid ORDER BY c DESC, label) AS rn FROM lb)
        |  WHERE rn = 1)
        |SELECT CAST(g.cid AS BIGINT) AS cid, g.n,
        |  round(sqrt(CAST(g.sd2 AS DOUBLE) / g.n) / 1000000.0, 6)
        |    AS rms_dist,
        |  CAST(tp.label AS BIGINT) AS top_label,
        |  round(CAST(tp.c AS DOUBLE) / g.n, 6) AS top_share
        |FROM g JOIN tp USING (cid)
        |ORDER BY cid""", "kmeans") { (s, d) =>
      val a = assign(base(s, d), centroids(s, d, kOf(s)))
        .select(col("vec_id"), col("label"), col("cid"), col("dist2"))
      val g = a.groupBy("cid")
        .agg(count(lit(1)).as("n"), sum("dist2").as("sd2"))
      // Dominant label without a window: min(struct(-count, label))
      // picks (count desc, label asc) — the K×|labels| aggregate is
      // tiny, and the final join is K rows on each side.
      val top = a.groupBy("cid", "label").agg(count(lit(1)).as("c"))
        .groupBy("cid")
        .agg(min(struct((-col("c")).as("negc"),
          col("label").as("lab"))).as("t"))
        .select(col("cid"), col("t.lab").cast("long").as("top_label"),
          (-col("t.negc")).as("topc"))
      g.join(top, "cid")
        .select(col("cid"), col("n"),
          round(sqrt(col("sd2").cast("double") / col("n"))
            / lit(1000000.0), 6).as("rms_dist"),
          col("top_label"),
          round(col("topc").cast("double") / col("n"), 6).as("top_share"))
        .orderBy("cid")
    },

    // The frame-state path's oracle witness: the SAME bit-exact
    // recurrence, but trained and assigned with centroid state as a
    // DataFrame end-to-end (kmeansAssignFrame). At the default K the
    // frame path is EXACT — K ≤ 9 probes every branch, so it scores
    // the centroid frame with the literal E-step and never routes (see
    // assignFrame) — and the DuckDB CTE unroll of the flat recurrence
    // replays it bit-for-bit; cluster sizes, integer inertia, and the
    // min member id per cluster all hash-match. A different projection
    // than q_embed_kmeans on purpose: at K ≤ 9 this row certifies the
    // frame seeding, the frame M-step and the frame STATE spelling, not
    // the report shape. Routed frame state (K ≥ 10) is pinned against
    // the driver-array routed path at K=80 in ClusteringSpec.
    q("q_embed_kmeans_frame",
      s"""WITH ${kmeansCtes()}
        |SELECT CAST(cid AS BIGINT) AS cid,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(d) AS BIGINT) AS sum_d2,
        |  CAST(min(vec_id) AS BIGINT) AS min_vec
        |FROM af GROUP BY 1 ORDER BY 1""", "kmeans") { (s, d) =>
      kmeansAssignFrame(s, d, kOf(s))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"), sum("dist2").as("sum_d2"),
          min("vec_id").as("min_vec"))
        .select(col("cid"), col("n"), col("sum_d2"), col("min_vec"))
        .orderBy("cid")
    },

    // Greedy k-center coverage selection (see [[kcenterTrace]]) — the
    // diversity-coreset complement of q_embed_sample. Output is the
    // selection trace: rank, picked vector, and its min distance to
    // the previously-picked set (NULL for the seed; the last values
    // bound the corpus cover radius — the k-center objective).
    q("q_embed_kcenter",
      s"""WITH ${kcenterCtes(K)}
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS sel_rank,
        |    (SELECT vec_id FROM c0) AS vec_id,
        |    CAST(NULL AS BIGINT) AS d2sel
        |${(1 until K).map(i =>
             s"  UNION ALL SELECT CAST($i AS BIGINT), vec_id, md FROM c$i")
            .mkString("\n")})
        |ORDER BY sel_rank""", "kmeans") { (s, d) =>
      import s.implicits._
      kcenterOf(s, d, kOf(s))
        .toDF("sel_rank", "vec_id", "d2sel")
        .select(col("sel_rank"), col("vec_id"), col("d2sel"))
        .orderBy("sel_rank")
    },

    // The k-center COVERAGE REPORT — the operational readout of the
    // coreset q_embed_kcenter selects: assign every corpus vector to
    // its nearest pick (ties to the smaller rank) and report each
    // pick's member count and local cover radius (max member d²). The
    // numbers a curation pipeline reads before trusting the picks as
    // a coverage set: which exemplars carry how much of the corpus,
    // and how far the worst-covered member sits. One narrow pass (the
    // k picks in one nearest-centroid kernel, the assignLiteral shape —
    // no join, no shuffle before the k-row aggregate); the oracle
    // replays the same argmin from the trace CTEs' pick set.
    q("q_embed_kcenter_report", {
      // the per-pick distances come from ONE e×pickCoords join on
      // (idx), never K correlated e×e scalar-subquery joins — the
      // correlated spelling blocked DuckDB's pushdown (the c side
      // filtered AFTER the idx join) and OOM'd the oracle at sf0.1
      s"""WITH ${kcenterCtes(K)},
        |pk AS (SELECT CAST(0 AS BIGINT) AS sel_rank,
        |    (SELECT vec_id FROM c0) AS vec_id
        |  ${(1 until K).map(i =>
             s"UNION ALL SELECT CAST($i AS BIGINT), vec_id FROM c$i")
            .mkString("\n  ")}),
        |pc AS MATERIALIZED (SELECT pk.sel_rank AS r, e.idx, e.xi
        |  FROM pk JOIN e ON e.vec_id = pk.vec_id),
        |du AS (SELECT x.vec_id, pc.r,
        |    CAST(sum((x.xi - pc.xi) * (x.xi - pc.xi)) AS BIGINT) AS md
        |  FROM e x JOIN pc ON x.idx = pc.idx
        |  GROUP BY 1, 2),
        |nr AS (SELECT vec_id, md, r FROM (
        |    SELECT vec_id, md, r, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY md, r) AS rn FROM du)
        |  WHERE rn = 1)
        |SELECT pk.sel_rank, pk.vec_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(max(nr.md) AS BIGINT) AS max_d2
        |FROM nr JOIN pk ON pk.sel_rank = nr.r
        |GROUP BY 1, 2 ORDER BY 1"""
    }, "kmeans") { (s, d) =>
      import s.implicits._
      val b = base(s, d)
      val trace = kcenterOf(s, d, kOf(s))
      // pick vectors by id: a bounded k-row collect (the same k×dim
      // driver state the trace itself holds)
      val vecOf = b
        .filter(col("vec_id").isInCollection(trace.map(_._2)))
        .select("vec_id", "xq").collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
      // the trace lists ranks 0 until k in order, so a pick's index in
      // the centroid array is its rank
      val picks = trace.map { case (_, v, _) => vecOf(v) }.toArray
      val pickDf = trace.map { case (r, v, _) => (r, v) }
        .toDF("sel_rank", "vec_id")
      b.withColumn("_n", nearest(picks))
        .groupBy(col("_n.cid").as("sel_rank"))
        .agg(count(lit(1)).as("n_members"), max(col("_n.d")).as("max_d2"))
        .join(broadcast(pickDf), "sel_rank")
        .select(col("sel_rank"), col("vec_id"), col("n_members"),
          col("max_d2"))
        .orderBy("sel_rank")
    },

    // The sample-then-greedy k-center (see [[kcenterSampled]]) — the
    // LARGE-k dispatch of q_embed_kcenter, oracle-checked at tiny K:
    // the candidate pool is q_embed_sample's cluster-balanced draw
    // (kmeans at the session K, cap per cluster), and the greedy trace
    // runs over it with unchanged arithmetic, so DuckDB replays the
    // whole composition bit-exact (kmeans recurrence under the km_
    // prefix -> sample window -> kcenter unroll restricted to the
    // sampled subset). d2sel here bounds the SAMPLE's cover radius;
    // the corpus-radius relation to the exact greedy is the
    // ClusteringSpec property pin.
    q("q_embed_kcenter_sampled", {
      val m = SampleCap
      s"""WITH ${quantCte("e")},
        |${kmeansCtes(K, Iters, "km_", sharedE = Some("e"))},
        |sp AS (SELECT vec_id, cid,
        |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 13) AS pr
        |  FROM km_af),
        |sr AS (SELECT vec_id,
        |    row_number() OVER (PARTITION BY cid ORDER BY pr, vec_id)
        |      AS rn
        |  FROM sp),
        |smp AS MATERIALIZED (SELECT vec_id FROM sr WHERE rn <= $m),
        |es AS MATERIALIZED (SELECT e.* FROM e JOIN smp USING (vec_id)),
        |${kcenterCtes(K, sharedE = Some("es"))}
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS sel_rank,
        |    (SELECT vec_id FROM c0) AS vec_id,
        |    CAST(NULL AS BIGINT) AS d2sel
        |${(1 until K).map(i =>
             s"  UNION ALL SELECT CAST($i AS BIGINT), vec_id, md FROM c$i")
            .mkString("\n")})
        |ORDER BY sel_rank"""
    }, "kmeans") { (s, d) =>
      import s.implicits._
      kcenterSampled(s, d, kOf(s), kOf(s), SampleCap)
        .toDF("sel_rank", "vec_id", "d2sel")
        .select(col("sel_rank"), col("vec_id"), col("d2sel"))
        .orderBy("sel_rank")
    },

    // SemDeDup-style semantic near-dup screen: pairwise similarity is
    // only ever computed INSIDE a k-means cluster, turning the
    // quadratic all-pairs problem q_dedup_cosine solves by brute force
    // into cluster-bounded work — the standard embedding-dedup recipe
    // for web-scale corpora. Same output shape and similarity bar as
    // q_dedup_cosine (keep_id = smallest same-cluster neighbor at
    // cos >= 0.4, i.e. quantized d² <= 1.2e12 on these unit-norm
    // vectors); pairs split across clusters are deliberately unseen —
    // that recall trade IS the algorithm, and the brute-force query
    // stays in the registry as the oracle-witness upper bound.
    //
    // 100 TB shape: the only fact-scale shuffle is the self-join on
    // cid. The registry runs the knob default k=8 (what the oracle
    // replays); the PUBLIC [[semanticDedup]] takes k explicitly, and
    // ScaleSpec measures that with K grown alongside the corpus the
    // pair work scales ~linearly and planted near-dup recall holds —
    // the production regime (K ~ n/1000) by measurement, not comment.
    q("q_dedup_semantic",
      s"""WITH ${kmeansCtes()},
        |pr AS MATERIALIZED (
        |  SELECT a.vec_id AS ia, b.vec_id AS ib
        |  FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |    JOIN e ea ON ea.vec_id = a.vec_id
        |    JOIN e eb ON eb.vec_id = b.vec_id AND eb.idx = ea.idx
        |  GROUP BY 1, 2
        |  HAVING CAST(sum((ea.xi - eb.xi) * (ea.xi - eb.xi)) AS BIGINT)
        |    <= $DupD2)
        |SELECT v.vec_id, CAST(v.cid AS BIGINT) AS cid,
        |  coalesce(min(pr.ia), v.vec_id) AS keep_id,
        |  count(pr.ia) AS n_nbrs
        |FROM af v LEFT JOIN pr ON pr.ib = v.vec_id
        |GROUP BY v.vec_id, v.cid
        |ORDER BY v.vec_id""", "kmeans") { (s, d) =>
      semanticDedup(s, d, kOf(s))
    },

    // Per-cluster medoid: the REAL member vector minimizing the sum of
    // squared distances to its cluster — the representative a curation
    // pipeline keeps when it collapses a semantic cluster to one
    // exemplar (a centroid is a synthetic average; the medoid is an
    // actual document). Integer pair distances → bit-exact argmin,
    // ties by vec_id. Work is Σ n_c² in-cluster pairs — the same
    // cluster-bounded class as q_dedup_semantic, ~n²/K, linear when K
    // grows with the corpus. Long bound: per-member sums stay exact to
    // ~3.6e4 members/cluster at dim 64 (pair d² ≤ ~2.6e14); beyond
    // that, widen to a two-level aggregate — documented, far past any
    // tested tier.
    q("q_embed_medoid",
      s"""WITH ${kmeansCtes()},
        |p AS (SELECT a.cid, a.vec_id,
        |    CAST(sum((ea.xi - eb.xi) * (ea.xi - eb.xi)) AS BIGINT) AS sd
        |  FROM af a JOIN af b ON a.cid = b.cid
        |    JOIN e ea ON ea.vec_id = a.vec_id
        |    JOIN e eb ON eb.vec_id = b.vec_id AND eb.idx = ea.idx
        |  GROUP BY 1, 2),
        |m AS (SELECT cid, vec_id, sd, row_number() OVER (
        |    PARTITION BY cid ORDER BY sd, vec_id) AS rn FROM p),
        |g AS (SELECT cid, CAST(count(*) AS BIGINT) AS n FROM af GROUP BY 1)
        |SELECT CAST(m.cid AS BIGINT) AS cid, m.vec_id AS medoid_id, g.n,
        |  round(sqrt(CAST(m.sd AS DOUBLE) / g.n) / 1000000.0, 6)
        |    AS rms_medoid
        |FROM m JOIN g USING (cid) WHERE rn = 1
        |ORDER BY cid""", "kmeans") { (s, d) =>
      val v = assign(base(s, d), centroids(s, d, kOf(s)))
        .select(col("vec_id"), col("xq"), col("cid"))
      val pd2 = l2sq(col("a.xq"), col("b.xq"))
      // full in-cluster product INCLUDING the self pair (d² = 0 adds
      // nothing and keeps the join predicate one equality)
      val sums = v.as("a").join(v.as("b"), col("a.cid") === col("b.cid"))
        .select(col("a.cid").as("cid"), col("a.vec_id").as("vec_id"),
          pd2.as("pd2"))
        .groupBy("cid", "vec_id").agg(sum("pd2").as("sd"))
      // argmin (sd, vec_id) per cluster as an aggregate — no window
      val med = sums.groupBy("cid")
        .agg(min(struct(col("sd").as("sd"),
          col("vec_id").as("vec_id"))).as("m"))
        .select(col("cid"), col("m.vec_id").as("medoid_id"),
          col("m.sd").as("sd"))
      val g = v.groupBy("cid").agg(count(lit(1)).as("n"))
      med.join(g, "cid")
        .select(col("cid"), col("medoid_id"), col("n"),
          round(sqrt(col("sd").cast("double") / col("n"))
            / lit(1000000.0), 6).as("rms_medoid"))
        .orderBy("cid")
    },

    // Lloyd convergence trace (the elbow/It-converged readout): total
    // inertia Σ_v min_c d²(v, c) at the seeds and after every
    // iteration — the number a pipeline watches to pick K and iters.
    // Each point is one shuffle-free linear pass over the narrow
    // quantized stage (the E-step projection) + a 1-row aggregate; at
    // production scale the same sum falls out of the training pass
    // itself, here it replays against the memoized history so training
    // still runs once per session. The oracle reads the SAME recurrence
    // CTEs' distance tables (d1..dN = distance to the previous round's
    // centroids, dF = to the final), so the trace is bit-exact.
    q("q_embed_elbow", {
      val steps = (1 to Iters).map(i =>
        s"""SELECT CAST(${i - 1} AS BIGINT) AS iter,
          |  CAST(sum(md) AS BIGINT) AS inertia FROM (
          |  SELECT vec_id, min(d) AS md FROM d$i GROUP BY 1)""")
        .mkString("", "\n  UNION ALL\n  ", "")
      s"""WITH ${kmeansCtes()},
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
        |  WHERE len(embedding) > 0),
        |tr AS (
        |  $steps
        |  UNION ALL
        |  SELECT CAST($Iters AS BIGINT) AS iter,
        |    CAST(sum(md) AS BIGINT) AS inertia FROM (
        |    SELECT vec_id, min(d) AS md FROM dF GROUP BY 1))
        |SELECT iter, inertia,
        |  round(sqrt(CAST(inertia AS DOUBLE) / (SELECT n FROM nv))
        |    / 1000000.0, 6) AS rms
        |FROM tr ORDER BY iter"""
    }, "kmeans") { (s, d) =>
      val b = base(s, d)
      centroidHistory(s, d, kOf(s)).zipWithIndex.map { case (c, j) =>
        assign(b, c)
          .agg(sum("dist2").as("inertia"), count(lit(1)).as("nv"))
          .select(lit(j.toLong).as("iter"), col("inertia"),
            round(sqrt(col("inertia").cast("double") / col("nv"))
              / lit(1000000.0), 6).as("rms"))
      }.reduce(_ unionAll _).orderBy("iter")
    },

    // Cluster↔label agreement, information-theoretically: mutual
    // information between the unsupervised k-means assignment and the
    // ground-truth label, with both entropies and the normalized MI —
    // the single number a pipeline reads to decide whether semantic
    // clusters are trustworthy routing keys (top_share in the cluster
    // report is per-cluster; NMI is the corpus-level summary). All
    // counts integer and exact; the log2 readout follows the
    // q_agg_shannon discipline (round 6 absorbs engine ulp). Work is
    // one K×|labels| aggregate over the assignment projection — every
    // downstream term lives on ≤ K·|labels| rows.
    q("q_embed_nmi",
      s"""WITH ${kmeansCtes()},
        |cl AS (SELECT af.cid, em.label, CAST(count(*) AS BIGINT) AS n
        |  FROM af JOIN embeddings em USING (vec_id) GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS nn FROM cl),
        |mc AS (SELECT cid, CAST(sum(n) AS DOUBLE) AS nc FROM cl GROUP BY 1),
        |ml AS (SELECT label, CAST(sum(n) AS DOUBLE) AS nl FROM cl GROUP BY 1),
        |mi AS (SELECT sum(cl.n / t.nn
        |      * log2(t.nn * cl.n / (mc.nc * ml.nl))) AS mi
        |  FROM cl JOIN mc USING (cid) JOIN ml USING (label)
        |    CROSS JOIN tot t),
        |hc AS (SELECT -sum(nc / t.nn * log2(nc / t.nn)) AS h
        |  FROM mc CROSS JOIN tot t),
        |hl AS (SELECT -sum(nl / t.nn * log2(nl / t.nn)) AS h
        |  FROM ml CROSS JOIN tot t)
        |SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n_vecs,
        |  round(mi.mi, 6) AS mi,
        |  round(hc.h, 6) AS h_cluster,
        |  round(hl.h, 6) AS h_label,
        |  CASE WHEN hc.h > 0 AND hl.h > 0
        |    THEN round(mi.mi / sqrt(hc.h * hl.h), 6) END AS nmi
        |FROM mi CROSS JOIN hc CROSS JOIN hl""", "kmeans") { (s, d) =>
      // The K×|labels| contingency table is referenced by FIVE
      // downstream terms (tot/mc/ml/mi and the entropies) with no
      // cross-plan subtree sharing — un-anchored, the whole
      // assignment-aggregate subtree re-planned and re-ran per
      // reference (measured 18 parquet scans / 56 exchanges in the
      // executed plan, r21). It is ≤ K·|labels| rows by construction,
      // so the eager checkpoint is a one-job, few-hundred-byte anchor.
      val cl = assign(base(s, d), centroids(s, d, kOf(s)))
        .groupBy("cid", "label").agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val tot = cl.agg(sum("n").cast("double").as("nn"))
      val mc = cl.groupBy("cid").agg(sum("n").cast("double").as("nc"))
      val ml = cl.groupBy("label").agg(sum("n").cast("double").as("nl"))
      val mi = cl.join(mc, "cid").join(ml, "label")
        .crossJoin(broadcast(tot))
        .agg(sum(col("n") / col("nn")
          * log2(col("nn") * col("n") / (col("nc") * col("nl"))))
          .as("mi"))
      val hc = mc.crossJoin(broadcast(tot))
        .agg((-sum(col("nc") / col("nn") * log2(col("nc") / col("nn"))))
          .as("h_cluster"))
      val hl = ml.crossJoin(broadcast(tot))
        .agg((-sum(col("nl") / col("nn") * log2(col("nl") / col("nn"))))
          .as("h_label"))
      mi.crossJoin(hc).crossJoin(hl).crossJoin(tot)
        .select(col("nn").cast("long").as("n_vecs"),
          round(col("mi"), 6).as("mi"),
          round(col("h_cluster"), 6).as("h_cluster"),
          round(col("h_label"), 6).as("h_label"),
          // degenerate corpora (k=1 session knob, or one label) have a
          // zero entropy: NMI is undefined there — NULL in both
          // engines, never 0/sqrt(0) = NaN
          when(col("h_cluster") > 0 && col("h_label") > 0,
            round(col("mi") / sqrt(col("h_cluster") * col("h_label")), 6))
            .as("nmi"))
    },

    // The K-SELECTION elbow curve: final within-cluster inertia at
    // K ∈ {2, 4, 8, 16} — the sweep a pipeline actually reads to pick
    // K (q_embed_elbow is the per-iteration convergence trace at ONE
    // K; this is the across-K curve). Each K trains the same bit-exact
    // integer recurrence (memoized per (session, dir, k) — the K=8 run
    // is shared with the rest of the family), and the oracle unrolls
    // ALL FOUR recurrences in one WITH clause via the CTE prefix.
    // Work: 4 bounded trainings + 4 shuffle-free assignment passes.
    q("q_embed_kelbow", {
      val ks = Seq(2, 4, 8, 16)
      // ONE shared quantization CTE; each K contributes only its
      // prefixed recurrence (the corpus unnest materializes once)
      val ctes = quantCte("qe") + ",\n" + ks
        .map(k => kmeansCtes(k, Iters, s"k${k}_", sharedE = Some("qe")))
        .mkString(",\n")
      val rows = ks.map { k =>
        s"""SELECT CAST($k AS BIGINT) AS k,
          |  CAST(sum(md) AS BIGINT) AS inertia FROM (
          |  SELECT vec_id, min(d) AS md FROM k${k}_dF GROUP BY 1)"""
      }.mkString("", "\n  UNION ALL\n  ", "")
      s"""WITH $ctes,
        |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
        |  WHERE len(embedding) > 0),
        |tr AS (
        |  $rows)
        |SELECT k, inertia,
        |  round(sqrt(CAST(inertia AS DOUBLE) / (SELECT n FROM nv))
        |    / 1000000.0, 6) AS rms
        |FROM tr ORDER BY k"""
    }, "kmeans") { (s, d) =>
      val b = base(s, d)
      Seq(2, 4, 8, 16).map { k =>
        assign(b, centroids(s, d, k))
          .agg(sum("dist2").as("inertia"), count(lit(1)).as("nv"))
          .select(lit(k.toLong).as("k"), col("inertia"),
            round(sqrt(col("inertia").cast("double") / col("nv"))
              / lit(1000000.0), 6).as("rms"))
      }.reduce(_ unionAll _).orderBy("k")
    },

    // Embedding-distribution drift between two deterministic halves of
    // the corpus (md5-nibble split, the q_mix_split discipline — at
    // production scale the two sides are yesterday's index and today's
    // crawl batch): per-dimension TRUNCATING-INTEGER means of the
    // quantized coordinates (bit-exact, partitioning-invariant — the
    // same arithmetic contract as training), then the readout is the
    // L2 shift between the two mean vectors and the worst single
    // dimension. The number a pipeline alarms on before trusting a
    // frozen centroid set / ANN codebook on new data (the drift
    // trigger retrainAnnIndex responds to). Work: one fused
    // (split) aggregate over unexploded vectors (LongVecSum, r22) —
    // map-side combinable, output 2 rows exploded to 2×dim.
    q("q_embed_drift",
      s"""WITH v AS (SELECT vec_id, embedding,
        |    CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '7'
        |      THEN 'a' ELSE 'b' END AS half
        |  FROM embeddings),
        |e AS (SELECT vec_id, half,
        |    generate_subscripts(embedding, 1) AS idx,
        |    CAST(trunc((unnest(CAST(embedding AS DOUBLE[])) + 4.0)
        |      * 1000000.0) AS BIGINT) AS xi
        |  FROM v),
        |m AS (SELECT half, idx,
        |    CAST(sum(xi) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
        |  FROM e GROUP BY 1, 2),
        |n AS (SELECT
        |    CAST(count(CASE WHEN half = 'a' THEN 1 END) AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN half = 'b' THEN 1 END) AS BIGINT) AS n_b
        |  FROM v),
        |d AS (SELECT CAST(sum((a.mu - b.mu) * (a.mu - b.mu)) AS BIGINT)
        |      AS ss,
        |    CAST(max(abs(a.mu - b.mu)) AS BIGINT) AS mx
        |  FROM m a JOIN m b ON a.idx = b.idx
        |  WHERE a.half = 'a' AND b.half = 'b')
        |SELECT n.n_a, n.n_b,
        |  round(sqrt(CAST(d.ss AS DOUBLE)) / 1000000.0, 6) AS shift_l2,
        |  round(CAST(d.mx AS DOUBLE) / 1000000.0, 6) AS shift_max
        |FROM n CROSS JOIN d""", "kmeans") { (s, d) =>
      // Same non-negativity precondition as training (the truncating-
      // division contract): drift is the one base() consumer that can
      // run without ever training, so it must carry the guard itself —
      // out-of-domain coordinates fail loudly here exactly like they
      // do in trainHistory, never silently skew the alarm metric.
      // Memoized per (session, dir) — the training guard is amortized
      // behind centMemo, this one behind its own verdict memo — so
      // repeated drift polls don't re-scan the stage (empty corpus
      // passes: both engines then emit one (0, 0, NULL, NULL) row).
      checkDomain(s, d)
      val half = when(
        substring(md5(col("vec_id").cast("string")), 1, 1) <= "7", "a")
        .otherwise("b")
      // Fused per-half mean (r22, LongVecSum — same argument as the
      // Lloyd M-steps): ONE hash aggregate over unexploded vectors,
      // then the 2-row result explodes to (half, idx, mu). `base`
      // holds no empty vector, so per-idx counts equal the group count
      // on the fixed-dimension basis (mixed dimensions fail loudly in
      // the kernel rather than skewing the alarm).
      val m = base(s, d)
        .select(col("xq"), half.as("half"))
        .groupBy("half")
        .agg(graft.functions.VectorFunctions.longVecSum(col("xq"))
          .as("sv"), count(lit(1)).as("n"))
        .select(col("half"),
          posexplode(expr("transform(sv, x -> x div n)"))
            .as(Seq("idx", "mu")))
      // half counts from the table — one per STORED row (duplicates
      // count twice, rows without a vector count, in BOTH engines);
      // count() so an empty corpus reads 0, not NULL
      val n = Tables.embeddings(s, d).agg(
        count(when(half === "a", 1)).as("n_a"),
        count(when(half === "b", 1)).as("n_b"))
      val diff = m.filter(col("half") === "a").as("a")
        .join(m.filter(col("half") === "b").as("b"),
          col("a.idx") === col("b.idx"))
        .select((col("a.mu") - col("b.mu")).as("dm"))
        .agg(sum(col("dm") * col("dm")).as("ss"),
          max(abs(col("dm"))).as("mx"))
      n.crossJoin(diff)
        .select(col("n_a"), col("n_b"),
          round(sqrt(col("ss").cast("double")) / lit(1000000.0), 6)
            .as("shift_l2"),
          round(col("mx").cast("double") / lit(1000000.0), 6)
            .as("shift_max"))
    },

    // Cluster-balanced diversity sampling: keep at most M documents
    // PER SEMANTIC CLUSTER, chosen by a deterministic hash priority —
    // the "sample uniformly across the embedding space, not the raw
    // distribution" curation step (a dominant content cluster cannot
    // crowd the sample). Rides the SAME scale-safe capped-keep
    // mechanism as q_mix_source_cap ([[TextSim.cappedKeepByHashPriority]]:
    // bounded-heap top-k aggregate cut, broadcast-back, row-local keep
    // — never a row_number window over the fact scan). The DuckDB
    // oracle IS the naive per-cid window — same semantics, different
    // plan.
    q("q_embed_sample", {
      val m = SampleCap
      s"""WITH ${kmeansCtes()},
        |p AS (SELECT vec_id, cid,
        |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 13) AS pr
        |  FROM af),
        |r AS (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY cid ORDER BY pr, vec_id)
        |      AS rn
        |  FROM p)
        |SELECT vec_id, CAST(cid AS BIGINT) AS cid, rn <= $m AS kept
        |FROM r ORDER BY vec_id"""
    }, "kmeans") { (s, d) =>
      TextSim.cappedKeepByHashPriority(
          assign(base(s, d), centroids(s, d, kOf(s)))
            .select("vec_id", "cid"),
          keyCol = "cid", idCol = "vec_id", cap = SampleCap)
        .select("vec_id", "cid", "kept")
        .orderBy("vec_id")
    }
  )
}
