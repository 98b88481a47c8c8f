package graft.ops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sketch-based dedup / ANN — the sub-quadratic scale paths (SURVEY
  * Q-DEDUP-MINHASH + the LLM-pipeline extensions). Since r19 the
  * IVF/PQ family (q_sim_ann_ivf/pq/ivfpq) is DuckDB-oracle-checked —
  * exactly-normalized fixed-point integer basis, md5-order seeds,
  * integer Lloyd with carry-forward, integer L2/ADC ranks (see
  * [[quantized]]); since r20 the hyperplane-LSH trio (q_sim_ann_lsh /
  * q_sim_lsh_points / q_dedup_cosine_lsh) is too — md5-derived integer
  * planes over the same basis ([[planeSigCtes]]). The remainder
  * (xxhash MinHash band index for incremental dedup, DataSketches
  * binaries) stays no-oracle by declared engine-specificity; every
  * result is deterministic and property-tested against the exact
  * kernels in SketchesSpec (src/test/scala/graft/SketchesSpec.scala).
  *
  * At 100 TB these are the operators that replace the blocked/brute
  * kernels in TextSim: candidate generation is groupBy-on-signature —
  * shuffle-bounded by data size, never O(n²).
  *
  * The ANN entry points ([[lshCandidates]], [[ivfSearch]]) take a
  * CALLER-SUPPLIED query frame `(qid: long, qv: array<double>)` — a
  * real user brings their own query vectors; the registry queries are
  * thin wrappers that instantiate them with the fixture query set
  * ([[defaultQueries]]).
  */
object Sketches {

  private val NumHashes = 16
  private val Bands = 4 // 4 rows per band

  /** (vec_id, embedding, norm) — the indexed corpus. */
  private def embBase(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.l2norm(col("embedding")).as("norm"))

  /** The vector STORE of a named ANN index instance: the corpus
    * embeddings plus every batch [[upsertIntoAnnIndex]] admitted.
    * Name "" is the shared immutable registry instance and reads the
    * corpus parquet directly (no extra materialization); any other
    * name is an independent, appendable store seeded from the corpus —
    * the searches' exact-rerank stage reads it, so upserted vectors
    * are first-class search TARGETS, not just assignment rows. */
  private def embStore(s: SparkSession, d: String, name: String): DataFrame =
    liveView(s, d, VecTombs, name, embStoreRaw(s, d, name), "vec_id")

  /** The store WITHOUT the tombstone filter — what the physical files
    * hold. Upsert anti-joins against THIS so re-submitting a deleted
    * (tombstoned, not yet compacted) vec_id is a no-op instead of
    * appending a row the tombstone would silently hide. */
  private def embStoreRaw(s: SparkSession, d: String, name: String): DataFrame =
    if (name.isEmpty) embBase(s, d)
    else graft.StageCache.memoized(s, d, s"embstore@$name")(embBase(s, d))

  /** The fixture ANN query set: every 97th vector, as the (qid, qv)
    * frame the operator APIs contract on. Registry queries and goldens
    * are pinned on this instantiation; SketchesSpec additionally runs
    * the same operators on HELD-OUT query vectors. */
  def defaultQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 97 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))

  /** LSH-bucketed ANN candidates: 48 tables of 10-bit random-hyperplane
    * signatures (the native codegen
    * [[graft.functions.VectorFunctions.intPlaneSigs]] — md5-derived
    * integer planes over the quantized basis, r20), with 1-BIT MULTIPROBE
    * on the query side — each query probes its own bucket plus the b
    * one-bit-flip buckets per table, the standard trick that buys the
    * recall of many more tables for b extra probes of existing ones.
    * Scale shape: corpus signatures are one narrow (vec_id, t, sig)
    * shuffle; candidate generation is a hash join on (t, sig) — never
    * an all-pairs product. Because the signature is a pure function of
    * the vector (zero broadcast state), EXTERNAL query vectors sign
    * themselves identically — no re-indexing to serve a new query set.
    * On this measured-isotropic fixture the (bits, tables) point was
    * tuned to recall >= 0.8 at ~0.45 candidate fraction — better than
    * any cell partitioning achieves here (see the IVF note); clustered
    * real corpora get far sharper selectivity from the identical
    * pipeline. */
  val LshTables = 48
  val LshBits = 10

  /** Pinned sample size for the operating-point report
    * (q_sim_lsh_points): fixed regardless of corpus size, so the
    * report's candidate work is O(LshSampleN²) bounded — never the
    * corpus all-pairs set. 256 keeps the background-rate estimate's
    * relative error under ~18% for rates >= 1e-3 of pairs (it
    * saturates at every fixture tier, so the report is the same
    * bounded job at sf0.001 and at 100 TB); the sampled work for the
    * 24%-collision dedup point is ~C(256,2) x rate x tables rows —
    * measured at a quarter of the 512 sample's wall. */
  val LshSampleN = 256

  /** Per-table signatures of the indexed corpus: (vec_id, t, sig) —
    * STAGE-CACHED like the IVF artifacts: the 48 × N signature
    * computation is per-corpus work (at 100 TB, a maintained signature
    * index next to the embeddings; new vectors sign themselves on
    * ingest). Queries sign themselves fresh — signatures are pure
    * functions of the vector. Built from the shared stage-cached
    * quantized basis ([[storeQ]]) — since r20 the hyperplane family is
    * md5-derived INTEGER planes over that basis (graftnative
    * .IntPlaneSigs), which is what made the whole trio
    * (q_sim_ann_lsh / q_sim_lsh_points / q_dedup_cosine_lsh)
    * DuckDB-oracle-checkable; stage key bumped so no pre-r20
    * xxhash-family table is ever served. */
  private def sigTable(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "lshsigs_md5") {
      sigRowsOfQ(storeQ(s, d, ""), LshBits, LshTables, seedBase = 0)
    }

  /** The 1-bit-multiprobe fan-out of a narrow (…, t, sig0) signature
    * row: the exact bucket plus the LshBits one-bit-flip buckets —
    * 11 columns instead of the 528-struct wide form, which cut the
    * query's plan-compile time roughly in half at identical probe
    * sets. */
  private def multiprobe(sig0: Column): Column =
    explode(array(sig0 +: (0 until LshBits)
      .map(j => sig0.bitwiseXOR(lit(1L << j))): _*))

  /** Sizing count of a SHARED ("" name = immutable-per-session)
    * artifact, session-memoized (r21): the nprobe/rerank knobs are
    * functions of the corpus size, and the one-row stats pass was a
    * full Spark job on EVERY query construction (two per bench run per
    * ANN query). NAMED instances mutate via upserts/tombstones, so
    * they keep the live count — memoizing them would serve a stale
    * size after an ingest batch. */
  private def sizedCount(s: SparkSession, key: String, name: String)(
      df: => DataFrame): Long =
    if (name.isEmpty)
      graft.SessionMemo.memo(s, s"szcnt|$key")(
        java.lang.Long.valueOf(df.count())).longValue()
    else df.count()

  /** Narrow per-table signature rows (vec_id, t, sig) of an ARBITRARY
    * (vec_id, embedding) frame at an explicit operating point — the
    * shared kernel under every tuned candidate path AND the sampled
    * operating-point report (which signs a pinned vector SAMPLE, so it
    * cannot read a maintained full-corpus index). `seedBase` selects
    * the hyperplane family: 0 reproduces the registry ANN index's
    * planes, 7000 is the tuned-point family. Signing happens in the
    * quantized integer basis ([[quantized]]) with md5-derived integer
    * planes — bit-replayable cross-engine (r20). */
  private def sigRowsOf(vecs: DataFrame, bits: Int, tables: Int,
      seedBase: Int): DataFrame =
    sigRowsOfQ(quantized(vecs, "vec_id", "embedding"), bits, tables, seedBase)

  /** [[sigRowsOf]] over an ALREADY-QUANTIZED (vec_id, xq) frame — the
    * corpus paths reuse the shared stage-cached basis this way instead
    * of re-quantizing per signature family. */
  private def sigRowsOfQ(vecsQ: DataFrame, bits: Int, tables: Int,
      seedBase: Int): DataFrame = {
    import graft.functions.VectorFunctions.intPlaneSigs
    require(bits >= 1 && bits <= 63 && tables >= 1)
    vecsQ.select(col("vec_id"),
      posexplode(intPlaneSigs(col("xq"), bits, tables, seedBase,
        Clustering.ShiftQ)).as(Seq("t", "sig")))
  }

  /** The 1-bit-multiprobe fan-out of narrow signature rows at a given
    * width — [[multiprobe]] generalized to the tuned widths. */
  private def probeRowsOf(sigs: DataFrame, bits: Int): DataFrame =
    sigs.select(col("vec_id"), col("t"),
      explode(array(col("sig") +: (0 until bits)
        .map(j => col("sig").bitwiseXOR(lit(1L << j))): _*)).as("sig"))

  /** All-pairs LSH candidates (ida < idb) of an arbitrary
    * (vec_id, embedding) frame at an explicit operating point — one
    * (t, sig) hash-join exchange, never an all-pairs product. */
  def lshPairCandidatesOf(vecs: DataFrame, bits: Int, tables: Int,
      probe: Boolean = false, seedBase: Int = 7000): DataFrame = {
    val sigs = sigRowsOf(vecs, bits, tables, seedBase)
    val probes = if (!probe) sigs else probeRowsOf(sigs, bits)
    probes.toDF("ida", "t", "sig")
      .join(sigs.toDF("idb", "t", "sig"), Seq("t", "sig"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb")
      .distinct()
  }

  /** All-pairs LSH candidates of the corpus at an EXPLICIT operating
    * point — the selectivity/recall knob the fixed registry index (10
    * bits × 48 tables × 1-bit probe, recall-tuned for cos >= 0.4)
    * deliberately does not expose. For HIGH-threshold embedding dedup
    * (near-exact copies, cos >= ~0.9) the right point is a few WIDE
    * tables with no probe: a random cos-0 pair agrees on a b-bit
    * signature with probability 2^-b, so the background candidate rate
    * is ~tables/2^bits of all pairs (16 bits x 24 tables ≈ 4e-4 — five
    * orders below the registry point's ~0.42 on isotropic data), while
    * a cos 0.97 pair (theta ≈ 14°) collides in at least one of 24
    * tables with probability ~1. Measured + recall-pinned in ScaleSpec
    * on planted near-duplicate vectors; SCALE.md finding 2 carries the
    * 10x-tier numbers. Same one-exchange join shape as
    * [[lshPairCandidates]]; signatures are computed inline (callers
    * exploring operating points shouldn't pollute the maintained
    * signature index). */
  def lshPairCandidatesTuned(s: SparkSession, d: String, bits: Int,
      tables: Int, probe: Boolean = false): DataFrame =
    lshPairCandidatesOf(
      Tables.embeddings(s, d).select("vec_id", "embedding"),
      bits, tables, probe)

  /** The DEDUP-QUERY operating point, chosen by measurement at the
    * query's own cos >= 0.4 verify threshold (round-12 grid on the
    * real kernels, sf0.01 + sf0.1 fixtures):
    *
    *   point              cand (% of all pairs)   keep-id agreement
    *   registry 10x48xP        42.5 / 42.2          1.000 / 0.978
    *   12x96xP                 30.1 / 30.0          0.981 / 0.961
    *   13x128xP  <- chosen     24.0 / 23.8          0.981 / 0.955
    *   14x144xP                16.5 / 16.3          0.943 / 0.910
    *   16x24 (cos-0.9 point)   0.06 / 0.08          0.019 / 0.017
    *
    * The frontier at this LOW threshold is information-theoretic, not
    * an implementation artifact: hyperplane LSH separates cos 0.4
    * (per-bit agreement p1 ≈ 0.63) from isotropic background (p2 =
    * 0.5) at rho = ln(1/p1)/ln(1/p2) ≈ 0.66, so recall 0.95 costs
    * ~20-25% of all pairs NO MATTER the point — the measured exp-2.00
    * candidate growth (SCALE.md finding 2) is a property of asking for
    * cos 0.4 on isotropic data, and the honest fix is the ~1.8x
    * constant-factor dent this point buys plus the high-threshold
    * points (16x24, 24x18) where background genuinely vanishes and
    * candidates track the true-duplicate population (exponent ~1,
    * measured on planted tiers — ScaleSpec/ScaleBench). The cos-0.9
    * row above is WHY the dedup query cannot simply ride the 579x
    * point: the fixture's flagged pairs all sit in cos 0.40-0.60. */
  val DedupLshBits = 13
  val DedupLshTables = 128

  /** Stage-cached narrow signature table for the dedup point — like
    * [[sigTable]], a maintained per-corpus artifact (new vectors sign
    * themselves on ingest); 128 tables is the price of recall at the
    * cos-0.4 threshold (scaladoc above). */
  private def dedupSigTable(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d,
      s"lshsigs_dedup_md5_${DedupLshBits}x$DedupLshTables") {
      sigRowsOfQ(storeQ(s, d, ""), DedupLshBits, DedupLshTables, 7000)
    }

  /** All-pairs candidates at the measured dedup point, from the
    * maintained signature table — what q_dedup_cosine_lsh rides. */
  def dedupPairCandidates(s: SparkSession, d: String): DataFrame = {
    val tbl = dedupSigTable(s, d)
    probeRowsOf(tbl, DedupLshBits).toDF("ida", "t", "sig")
      .join(tbl.toDF("idb", "t", "sig"), Seq("t", "sig"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb")
      .distinct()
  }

  /** Candidate (qid, vec_id) pairs for an arbitrary query frame
    * `(qid, qv)`. A query whose qid equals a corpus vec_id is treated
    * as that vector querying the rest (self-match excluded). */
  def lshCandidates(s: SparkSession, d: String, queries: DataFrame): DataFrame = {
    val qnarrow = sigRowsOf(
      queries.select(col("qid").as("vec_id"), col("qv").as("embedding")),
      LshBits, LshTables, seedBase = 0)
      .toDF("qid", "t", "sig0")
    val qprobes = qnarrow
      .select(col("qid"), col("t"), multiprobe(col("sig0")).as("sig"))
    qprobes.join(sigTable(s, d), Seq("t", "sig"))
      .filter(col("qid") =!= col("vec_id"))
      .select("qid", "vec_id")
      .distinct()
  }

  /** Fixture-query instantiation (kept for the registry + the
    * selectivity property test). */
  def lshCandidates(s: SparkSession, d: String): DataFrame =
    lshCandidates(s, d, defaultQueries(s, d))

  /** ALL-PAIRS LSH candidates (ida < idb): postings list per (table,
    * signature) self-joined against the 1-bit-multiprobe probe list —
    * the symmetric variant of [[lshCandidates]] for dedup (every
    * vector is a query). Collision probability for a cos 0.4 pair
    * under 48 tables x 10 bits with 1-bit probing is ~0.97 vs ~0.38
    * without probing — the probe explosion is what makes the family
    * usable at dedup thresholds. */
  def lshPairCandidates(s: SparkSession, d: String): DataFrame = {
    // Both sides derive from the cached narrow signature table: the
    // probe list is each (vec, t) row fanned to its exact bucket plus
    // the LshBits one-bit flips — identical probe set to the wide
    // probeStructs form, without re-signing the corpus.
    val tbl = sigTable(s, d)
    val probes = tbl
      .select(col("vec_id").as("ida"), col("t"),
        multiprobe(col("sig")).as("sig"))
    probes.join(tbl, Seq("t", "sig"))
      .filter(col("ida") < col("vec_id"))
      .select(col("ida"), col("vec_id").as("idb"))
      .distinct()
  }

  // ---- IVF --------------------------------------------------------------

  /** Quantize an arbitrary (id, vec) frame into the ANN integer basis:
    * EXACTLY-NORMALIZED fixed-point coordinates
    *
    *   ri = trunc(x_i * 1e6)                 (exact long)
    *   n2 = Σ ri²                            (exact long)
    *   xi = trunc(ri * 1e6 / sqrt(n2)) + 4e6 (one correctly-rounded
    *                                          IEEE sqrt + divide)
    *
    * so since r19 the whole IVF/PQ family is DuckDB-replayable
    * bit-exact (the r18 verdict's flagship ask): every intermediate is
    * either an exact integer or a single correctly-rounded double op
    * (identical in the JVM and DuckDB), integer L2 sums are
    * associative/commutative (partitioning-invariant), truncating
    * integer means cannot drift, and md5-order seeding is
    * cross-engine-byte-identical. Because the basis is normalized,
    * squared-L2 ranking IS cosine ranking (d² = 2 − 2cos, scaled by
    * 1e12) for ANY input — unit-norm corpora, held-out queries, and
    * drifted stores alike — to 1e-6 quantization; recall vs the
    * brute-force cosine witnesses is re-measured in SketchesSpec. The
    * +4e6 shift (the same [[Clustering.ShiftQ]] constant) keeps values
    * non-negative so the M-step's truncating division equals DuckDB's
    * floor `//`. A zero vector fails loudly (ANSI cast of the
    * infinite quotient) rather than silently indexing garbage. */
  private[graft] def quantized(vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    vecs.select(col(idCol),
      transform(col(vecCol),
        x => (x.cast("double") * lit(1000000.0)).cast("long")).as("rq"))
      .withColumn("n2",
        aggregate(col("rq"), lit(0L), (a, v) => a + v * v))
      .select(col(idCol), transform(col("rq"), r =>
        ((r * lit(1000000L)).cast("double") /
          sqrt(col("n2").cast("double"))).cast("long") +
          lit(Clustering.ShiftQ)).as("xq"))

  /** Quantized squared L2 between two array<long> columns — the same
    * one-expression exactness contract as the kmeans module's l2sq.
    * private[graft] so AnnCurve and the specs grade with the SAME
    * expression instead of hand-copied spellings (r19 review). The
    * native codegen kernel graftnative.LongL2Sq (bit-identical long
    * arithmetic); cell assignment and PQ encoding use its argmin twin,
    * graftnative.LongNearest ([[cellsOf]], [[pqEncode]]). */
  private[graft] def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.longL2Sq(a, b)

  /** The quantized-basis view of a named instance's live store —
    * STAGE-CACHED for the shared registry instance (the searches'
    * candidate and rerank sides re-read it, and re-deriving the basis
    * per search re-ran transform + aggregate over every stored vector
    * — r19 review); named stores are mutable, so their view derives
    * per read through the tombstone filter. */
  private def storeQ(s: SparkSession, d: String, name: String): DataFrame =
    if (name.isEmpty)
      graft.StageCache.memoized(s, d, "annq")(
        quantized(embBase(s, d), "vec_id", "embedding"))
    else quantized(embStore(s, d, name), "vec_id", "embedding")

  /** Re-project a (shifted) integer centroid onto the unit sphere —
    * the SPHERICAL k-means step after each IVF mean, on the driver, in
    * the same one-correctly-rounded-sqrt exactness discipline as
    * [[quantized]] (n2 is an exact long; one IEEE sqrt and one divide
    * per coordinate, identical in the JVM and DuckDB). WHY this exists
    * (measured, the r19 x1000 campaign): a plain MEAN centroid has
    * norm < 1e6 that VARIES with cell tightness, and ranking cells by
    * L2 against varying-norm centroids diverges from directional
    * (cosine) ranking — on the clustered 2M-vector tier the
    * probe-top-1 recall collapsed 0.965 → 0.130. With every centroid
    * re-projected to the sphere, L2 ranking IS cosine ranking for
    * centroids exactly as it is for vectors. A zero mean (perfect
    * cancellation) keeps its unnormalized value rather than dividing
    * by zero — spelled identically in the oracle. */
  private def sphered(cv: Array[Long]): Array[Long] = {
    val S = Clustering.ShiftQ
    var n2 = 0L
    cv.foreach(x => n2 += (x - S) * (x - S))
    if (n2 == 0L) cv
    else {
      val norm = math.sqrt(n2.toDouble)
      cv.map(x => (((x - S) * 1000000L).toDouble / norm).toLong + S)
    }
  }

  /** The IVF codebook (cid, cv) of a quantized (vec_id, xq) corpus —
    * factored out of the stage closure so [[retrainAnnIndex]] can run
    * it over a drifted live store. Codebook size C = max(2, ⌈√N⌉) —
    * one count() sizes it (the same two-pass shape AQE uses: a cheap
    * stats pass, then the plan) — seeded by the C md5-first vectors,
    * then THREE spherical Lloyd rounds in [[Clustering.trainSweep]]:
    * one group over the whole `xq`, each round's truncating integer
    * mean re-projected onto the sphere ([[sphered]]). Cells that lose
    * every member CARRY FORWARD their previous centroid (re-projected
    * too — not a no-op at integer precision; the oracle applies the
    * identical step), so the codebook keeps its seeded row count and
    * the oracle's cell set matches by construction. The result is a
    * maintained table at 100 TB, exactly like the gram postings;
    * long-sum bound: xi ≤ 5e6, so Σxi per cell stays exact to ~1.8e12
    * members — documented, far past any tier. */
  private def trainIvf(q: DataFrame): DataFrame = {
    val c = math.ceil(math.sqrt(q.count().toDouble)).toInt.max(2)
    val g = Clustering.SweepGroup(0, col("xq"),
      Clustering.seedVectors(q, c), sphered)
    val cb = Clustering.trainSweep(Seq(g), 3)(
      Clustering.nearestTags(q, Seq(g)))._1(0).last
    import q.sparkSession.implicits._
    cb.toSeq.zipWithIndex.map { case (cv, j) => (j.toLong, cv.toSeq) }
      .toDF("cid", "cv").coalesce(1) // a few-KB table: one file
  }

  /** An IVF codebook frame (cid, cv) as the centroid array, in cid
    * order, that the encoders' LongNearest kernel takes. */
  private def codebookRows(cb: DataFrame): Array[Array[Long]] =
    Clustering.centroidRows(cb.select(col("cid"), col("cv").as("cq")))

  /** Nearest-cell assignment (vec_id, cell) of a quantized (vec_id, xq)
    * frame against a collected codebook: one narrow projection with
    * the LongNearest kernel (integer L2, ties to the lower cid), no
    * join, no shuffle. A row without a usable vector (NULL, empty or
    * ragged) gets a NULL cell. */
  private def cellsOf(q: DataFrame, cb: Array[Array[Long]]): DataFrame =
    q.select(col("vec_id"), Clustering.nearest(cb).as("n"))
      .select(col("vec_id"), Clustering.cidOrNull(col("n")).as("cell"))

  def ivfCodebook(s: SparkSession, d: String, name: String = ""): DataFrame =
    // A NAMED instance's codebook starts as a copy of the shared
    // corpus-trained one (upserts keep it frozen — append ≡ rebuild
    // depends on that) and is replaced wholesale by
    // [[retrainAnnIndex]] when drift warrants it.
    if (name.isEmpty)
      graft.StageCache.memoized(s, d, "ivfcb")(trainIvf(storeQ(s, d, "")))
    else
      graft.StageCache.memoized(s, d, s"ivfcb@$name")(ivfCodebook(s, d))

  /** Cell assignment of the indexed corpus (vec_id, cell) — also
    * stage-cached: the N x C nearest-cell pass is per-corpus work,
    * not per-query work (at 100 TB the cell id is a column of the
    * index table, maintained on ingest). */
  def ivfAssignments(s: SparkSession, d: String, name: String = ""): DataFrame =
    // The build closure reads the CORPUS (embBase), not the named
    // store: upserts append to store + assignments + codes in
    // lockstep, so a first-touch build must cover exactly the corpus —
    // seeding it from an already-appended store would double-count the
    // batch. Named instances read through the tombstone filter
    // ([[liveView]]) so deleted vectors never enter a cell scan.
    liveView(s, d, VecTombs, name,
      graft.StageCache.memoized(s, d,
        if (name.isEmpty) "ivfassign" else s"ivfassign@$name")(
        cellsOf(storeQ(s, d, ""), codebookRows(ivfCodebook(s, d, name)))),
      "vec_id")

  /** MULTI-PROBE IVF search for an arbitrary query frame `(qid, qv)`:
    * each query ranks the C centroids (broadcast product) by integer
    * squared L2, scans its `nprobe(C)` nearest cells, and exact
    * integer-L2 reranks candidates to top-k — on the unit-norm
    * contract this IS cosine top-k (see [[quantized]]); the output
    * carries the exact quantized distance `d2` (BIGINT), which is what
    * makes the registry instantiation DuckDB-hashable. Multi-probe is
    * what lifts recall over the cell-boundary losses a single-probe
    * IVF suffers; cost per query is nprobe * N/C candidate distances.
    *
    * `nprobe` is the caller's recall/cost knob, a FUNCTION of the
    * codebook size. Real clustered embedding corpora run nprobe 2–8 —
    * MEASURED since r12 (graft.AnnCurve, SCALE.md): on the ScaleGen
    * clustered regime recall hits 0.996 at nprobe 8 / 5.3% scan, 13×
    * less scan than this fixture point for the same recall. The
    * fixture call site supplies ceil(0.7 * C) because the fixture
    * vectors are measured-isotropic (same-label and cross-label
    * cosine both ~0.00) — there the measured recall TAIL is heavy
    * (0.876 at nprobe 1, but 1.000 only at ~70% scan), so the wide
    * point is the honest choice for recall ~1.0 on this data.
    *
    * Since the r19 carry-forward M-step the REALIZED codebook size
    * always equals the seeded ceil(sqrt(N)) (emptied cells keep their
    * previous centroid), so `nprobe(C)` expresses a fraction of the
    * seeded cells — and the oracle's cell set matches by
    * construction. */
  def ivfSearch(s: SparkSession, d: String, queries: DataFrame,
      nprobe: Int => Int, k: Int = 3, name: String = ""): DataFrame = {
    val cents = ivfCodebook(s, d, name)
    val np = math.max(1, nprobe(
      sizedCount(s, s"ivfcb|$d", name)(cents).toInt))
    val qq = quantized(queries, "qid", "qv")
    val wq0 = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cd"), col("cid"))
    val probes = qq.crossJoin(broadcast(cents))
      .withColumn("cd", l2sq(col("xq"), col("cv")))
      .withColumn("crn", row_number().over(wq0))
      .filter(col("crn") <= np)
      .select(col("qid"), col("xq").as("qxq"), col("cid").as("qcell"))
    val indexed = ivfAssignments(s, d, name).join(
      storeQ(s, d, name), "vec_id")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    probes.join(indexed, col("qcell") === col("cell")
      && col("qid") =!= col("vec_id"))
      .withColumn("d2", l2sq(col("qxq"), col("xq")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("d2"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Force-build the IVF stage-cached artifacts (codebook, then the
    * corpus cell assignment, which chains through it). See
    * [[TextSim.warmStages]] for why Bench calls this up front. */
  def warmIvfStage(s: SparkSession, d: String): Unit = {
    ivfAssignments(s, d)
    ()
  }

  /** Force-build the PQ artifacts: the quantized store `pqSearch`
    * reranks against, the per-subspace codebook trained over it, then
    * the compressed code table. Independent of the IVF chain — Bench
    * runs the two on separate threads. */
  def warmPqStage(s: SparkSession, d: String): Unit = {
    storeQ(s, d, "")
    pqCodes(s, d)
    ()
  }

  // ---- PQ (product quantization) ----------------------------------------

  /** PQ geometry: 64-dim vectors split into [[PqM]]=8 subvectors, each
    * quantized to one of [[PqK]]=32 learned centroids — a vector
    * compresses to 8 five-bit codes (5 bytes of index payload; stored
    * here as 8 ints). The compressed-domain scan then scores EVERY
    * corpus vector per query from the codes alone (ADC), and only a
    * small rerank pool ever touches the real embeddings. */
  val PqM = 8
  val PqK = 32

  /** Subspace `m` of the integer-basis `xq` column: its m-th of
    * [[PqM]] contiguous blocks (size(xq) div PqM coordinates each). The
    * corpus is unit-norm by contract ([[quantized]]), so per-subspace
    * L2 on these blocks sums to the full-vector squared distance — and
    * ADC (the sum of per-subspace distances to the assigned codewords)
    * approximates 2·(1 − cos)·1e12 additively, exactly the classic
    * L2-ADC form. */
  private def pqSlice(m: Int): Column =
    expr(s"slice(xq, $m * (size(xq) div $PqM) + 1, size(xq) div $PqM)")

  /** Quantized subvector rows (vec_id, m, sq) of a (vec_id, xq) frame:
    * one row per [[pqSlice]]. */
  private def pqSubQ(q: DataFrame): DataFrame =
    q.select(col("vec_id"), posexplode(array(
      (0 until PqM).map(pqSlice): _*)).as(Seq("m", "sq")))

  /** The PQ codebook (m, cid, cv) of a quantized (vec_id, xq) corpus —
    * factored like [[trainIvf]] for [[retrainAnnIndex]]. Same integer
    * discipline and the same loop ([[Clustering.trainSweep]]): [[PqM]]
    * groups, group m over [[pqSlice]] m, all seeded by the same
    * [[PqK]] md5-first vectors' m-th blocks, three Lloyd rounds of
    * integer-L2 argmin + truncating integer mean with carry-forward,
    * so the codebook is DuckDB-replayable bit-exact. All M subspaces
    * train in ONE E-step projection and ONE aggregate per round. */
  private def trainPq(q: DataFrame): DataFrame = {
    val seeds = Clustering.seedVectors(q, PqK)
    val sub = seeds.headOption.fold(0)(_.length) / PqM
    val groups = (0 until PqM).map(m => Clustering.SweepGroup(m,
      pqSlice(m), seeds.map(_.slice(m * sub, m * sub + sub))))
    val hists = Clustering.trainSweep(groups, 3)(
      Clustering.nearestTags(q, groups))._1
    import q.sparkSession.implicits._
    (0 until PqM).flatMap { m =>
      hists(m).last.toSeq.zipWithIndex.map { case (cv, j) =>
        (m, j.toLong, cv.toSeq) }
    }.toDF("m", "cid", "cv").coalesce(1) // a few-KB table: one file
  }

  /** A PQ codebook frame as one centroid array per subspace, in cid
    * order. */
  private def pqBooks(cb: DataFrame): Map[Int, Array[Array[Long]]] =
    cb.select("m", "cid", "cv").collect().groupBy(_.getInt(0)).map {
      case (m, rows) =>
        m -> rows.sortBy(_.getLong(1)).map(_.getSeq[Long](2).toArray)
    }

  /** PQ encoding (vec_id, m, cid) of a quantized (vec_id, xq) frame:
    * per subspace, the LongNearest argmin over that subspace's
    * codewords (integer L2, ties to the smallest cid) — one narrow
    * projection, [[PqM]] rows per vector. A row without a usable
    * vector keeps NULL codes. */
  private def pqEncode(q: DataFrame, books: Map[Int, Array[Array[Long]]]): DataFrame =
    q.select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
        Clustering.nearest(books.getOrElse(m, Array.empty), pqSlice(m))): _*))
      .as(Seq("m", "n")))
      .select(col("vec_id"), col("m"), Clustering.cidOrNull(col("n")).as("cid"))

  def pqCodebook(s: SparkSession, d: String, name: String = ""): DataFrame =
    // Named instances copy the shared codebook until a retrain swaps
    // it — see [[ivfCodebook]].
    if (name.isEmpty)
      graft.StageCache.memoized(s, d, "pqcb")(trainPq(storeQ(s, d, "")))
    else
      graft.StageCache.memoized(s, d, s"pqcb@$name")(pqCodebook(s, d))

  /** The compressed corpus (vec_id, m, cid) — 8 ints per vector,
    * stage-cached: at 100 TB this IS the ANN index's scan payload
    * (5 bytes a vector instead of 256), maintained on ingest. */
  def pqCodes(s: SparkSession, d: String, name: String = ""): DataFrame =
    // Corpus-seeded build closure for the same lockstep reason as
    // [[ivfAssignments]]; same tombstone-filtered read.
    liveView(s, d, VecTombs, name,
      graft.StageCache.memoized(s, d,
        if (name.isEmpty) "pqcodes" else s"pqcodes@$name")(
        pqEncode(storeQ(s, d, ""), pqBooks(pqCodebook(s, d, name)))),
      "vec_id")

  /** Close the ANN maintained-index loop (the embedding-side analogue
    * of [[upsertIntoBandIndex]]): admit a batch of NEW vectors
    * (vec_id, embedding) into a NAMED index instance by appending its
    * rows to all three per-vector artifacts — the vector store, the
    * IVF cell assignments, and the PQ codes. The codebooks are the
    * SHARED corpus-trained ones and stay FROZEN — standard IVF/PQ
    * maintenance: assignment and encoding are pure per-vector
    * functions of the frozen codebooks, so the appended rows are
    * bit-identical to a from-scratch rebuild over the grown corpus
    * (pinned in SketchesSpec), and centroid retraining remains a
    * deliberate offline rebuild, never an ingest side effect. O(batch)
    * work: one narrow nearest-centroid projection per artifact over
    * the batch only, each codebook riding in the kernel. At 100 TB
    * this is the daily embedding ingest: append to the cell-clustered
    * index partitions, searches see the new vectors immediately. */
  def upsertIntoAnnIndex(s: SparkSession, d: String, batch: DataFrame,
      name: String): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; upsert into a named instance")
    // True upsert semantics: vec_ids already in the store are dropped, so a
    // replayed batch (deleted streaming checkpoint, retried job) is a no-op
    // instead of appending duplicate rows to store/assignments/codes in
    // lockstep — duplicates would surface as double-counted search
    // candidates with no error. localCheckpoint pins the admitted set ONCE:
    // the first append below changes the store's file listing, and the
    // anti-join must not be re-evaluated against the grown store.
    val b = batch
      // Anti-join against the RAW store (tombstoned rows included): a
      // vec_id that is present-but-tombstoned must not be re-appended —
      // the tombstone would hide the new row until compaction anyway.
      .join(embStoreRaw(s, d, name).select("vec_id"), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.l2norm(col("embedding")).as("norm"))
      .localCheckpoint(true)
    graft.StageCache.appendTo(s, d, s"embstore@$name")(embBase(s, d))(b)
    graft.StageCache.appendTo(s, d, s"ivfassign@$name")(
      assignOf(s, d, embBase(s, d), name))(
      assignOf(s, d, b, name))
    graft.StageCache.appendTo(s, d, s"pqcodes@$name")(
      codesOf(s, d, embBase(s, d), name))(
      codesOf(s, d, b, name))
    // CAP-ANN-DRIFT: every ingest batch leaves a recall probe behind —
    // a deterministic sample of the admitted vectors graded against a
    // bounded reservoir of the live store (see [[recordAnnProbe]]), so
    // codebook drift is MEASURED continuously instead of discovered at
    // the next quality incident. A replayed (fully-deduped) batch
    // grades nothing and appends nothing.
    recordAnnProbe(s, d, name,
      b.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ProbeQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
  }

  /** Frozen-codebook IVF assignment / PQ encoding of an arbitrary
    * (vec_id, embedding) frame — test-visible so the upsert ≡ rebuild
    * equality can recompute the artifacts from scratch over a grown
    * corpus (the same role [[bandsOf]] plays for the MinHash index). */
  private[graft] def assignOf(s: SparkSession, d: String,
      vecs: DataFrame, name: String = ""): DataFrame =
    cellsOf(quantized(vecs, "vec_id", "embedding"),
      codebookRows(ivfCodebook(s, d, name)))

  private[graft] def codesOf(s: SparkSession, d: String,
      vecs: DataFrame, name: String = ""): DataFrame =
    pqEncode(quantized(vecs, "vec_id", "embedding"),
      pqBooks(pqCodebook(s, d, name)))

  /** Flat-PQ ANN for an arbitrary query frame `(qid, qv)`: the query
    * builds its per-subspace distance table (Q×M×K dots against the
    * broadcast codebook), the ADC scan scores every corpus vector by
    * joining the 8-int codes against the broadcast table and summing —
    * the embeddings themselves are never touched until the exact
    * rerank of the top-`rerank` pool. Scale shape: the scan's input is
    * the compressed codes (≤2% of the raw bytes), the only shuffle
    * carries (qid, vec_id, partial sums), and the rerank joins real
    * vectors for rerank·Q rows only. Like the other ANN entry points,
    * signatures are pure functions of the vector, so held-out queries
    * serve with zero re-indexing; `rerank` is the caller's recall/cost
    * knob, a FUNCTION of the corpus size — sized by one count() of the
    * base, the same cheap stats-pass shape as [[ivfSearch]]'s nprobe
    * (the fixture call site uses a ~17% pool — isotropic fixture
    * caveat, see [[ivfSearch]]). */
  def pqSearch(s: SparkSession, d: String, queries: DataFrame,
      rerank: Long => Int, k: Int = 3, name: String = ""): DataFrame = {
    val pool0 = math.max(k, rerank(
      sizedCount(s, s"embstore|$d", name)(embStore(s, d, name))))
    val qq = quantized(queries, "qid", "qv")
    val dtable = pqSubQ(qq.select(col("qid").as("vec_id"), col("xq")))
      .join(broadcast(pqCodebook(s, d, name)), "m")
      .select(col("vec_id").as("qid"), col("m"), col("cid"),
        l2sq(col("sq"), col("cv")).as("pd2"))
    val approx = pqCodes(s, d, name)
      .join(broadcast(dtable), Seq("m", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum("pd2").as("adc"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col("vec_id"))
    val pool = approx
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= pool0)
      .select("qid", "vec_id")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    pool.join(storeQ(s, d, name), "vec_id")
      .join(qq.select(col("qid"), col("xq").as("qxq")), "qid")
      .withColumn("d2", l2sq(col("qxq"), col("xq")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("d2"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** IVF+PQ composed ANN — the 100 TB architecture (coarse cells to
    * prune the corpus, compressed codes to score what survives): each
    * query ranks the broadcast centroids and probes its `nprobe(C)`
    * nearest cells ([[ivfCodebook]]/[[ivfAssignments]]); ONLY vectors
    * assigned to probed cells are ADC-scored from the 8-int
    * [[pqCodes]] against the query's broadcast distance table; the
    * top-`rerank` pool per query is exact-reranked to top-k. Against
    * flat PQ, the scan covers nprobe/C of the code table instead of
    * all of it; against plain IVF, the surviving candidates are
    * scored from ≤2% of the raw vector bytes. At 100 TB the code
    * table is clustered BY cell (cell = partition key), so the
    * candidate restriction is a partition prune, not a join — here
    * the (qid, vec_id) candidate join stands in for that prune.
    * All four artifacts are stage-cached maintained tables; queries
    * sign themselves, so held-out queries serve with zero
    * re-indexing. Both knobs keep their component meanings
    * ([[ivfSearch]]'s nprobe, [[pqSearch]]'s rerank); the fixture
    * call site opens both wide (isotropic-fixture caveat, see
    * [[ivfSearch]]) — clustered real corpora run nprobe 2–8 with
    * single-digit-percent pools. */
  def ivfpqSearch(s: SparkSession, d: String, queries: DataFrame,
      nprobe: Int => Int, rerank: Long => Int, k: Int = 3,
      name: String = ""): DataFrame = {
    val cents = ivfCodebook(s, d, name)
    val np = math.max(1, nprobe(
      sizedCount(s, s"ivfcb|$d", name)(cents).toInt))
    val pool0 = math.max(k, rerank(
      sizedCount(s, s"embstore|$d", name)(embStore(s, d, name))))
    val qq = quantized(queries, "qid", "qv")
    val wq0 = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cd"), col("cid"))
    val probes = qq.crossJoin(broadcast(cents))
      .withColumn("cd", l2sq(col("xq"), col("cv")))
      .withColumn("crn", row_number().over(wq0))
      .filter(col("crn") <= np)
      .select(col("qid"), col("cid").as("qcell"))
    val cand = probes.join(ivfAssignments(s, d, name),
        col("qcell") === col("cell") && col("qid") =!= col("vec_id"))
      .select("qid", "vec_id")
    val dtable = pqSubQ(qq.select(col("qid").as("vec_id"), col("xq")))
      .join(broadcast(pqCodebook(s, d, name)), "m")
      .select(col("vec_id").as("qid"), col("m"), col("cid"),
        l2sq(col("sq"), col("cv")).as("pd2"))
    val approx = cand
      .join(pqCodes(s, d, name), "vec_id")
      .join(broadcast(dtable), Seq("qid", "m", "cid"))
      .groupBy("qid", "vec_id")
      .agg(sum("pd2").as("adc"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col("vec_id"))
    val pool = approx
      .withColumn("arn", row_number().over(wA))
      .filter(col("arn") <= pool0)
      .select("qid", "vec_id")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    pool.join(storeQ(s, d, name), "vec_id")
      .join(qq.select(col("qid"), col("xq").as("qxq")), "qid")
      .withColumn("d2", l2sq(col("qxq"), col("xq")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("d2"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** Per-document 64-bit SimHash signatures (doc_id, simhash) —
    * stage-cached per corpus: the tokenize + 64-column majority-vote
    * aggregation is per-corpus work (a maintained signature table at
    * 100 TB, same argument as the hyperplane index). Since r19 the
    * per-word bits come from md5(word)'s first 16 hex chars (bit
    * j = bit (j%4) of hex nibble (j div 4), via the locate/strpos
    * hexval both engines share) instead of xxhash64 — which makes the
    * whole signature, band join, and Hamming verify DuckDB-replayable
    * (r18 verdict #3's family). */
  def simhashSigs(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "simhash") {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(graft.ops.TextSim.normTokens(col("text"))).as("word"))
        .select(col("doc_id"), md5(col("word")).as("h"))
      val bitSums = (0 until 64).map { j =>
        val p = j / 4 + 1
        val k = 1 << (j % 4)
        sum(when(expr(s"((locate(substring(h, $p, 1)," +
          s" '0123456789abcdef') - 1) div $k) % 2") === 1, 1)
          .otherwise(-1)).as(s"s$j")
      }
      val sums = tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      // Disjoint-bit SUM assembly (not OR) so the identical expression
      // unrolls in DuckDB, where 1::BIGINT << 63 is out of range: bit
      // 63's term is the Long.MinValue literal itself.
      val simhash = (0 until 64)
        .map(j => when(col(s"s$j") > 0,
          lit(if (j == 63) Long.MinValue else 1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      sums.select(col("doc_id"), simhash.as("simhash"))
    }

  /** Force-build the hyperplane-LSH signature index. Independent of
    * every other stage — its own Bench thread. */
  def warmLshSigStage(s: SparkSession, d: String): Unit = {
    sigTable(s, d)
    ()
  }

  /** Force-build the dedup-point signature index ([[dedupSigTable]]). */
  def warmDedupLshStage(s: SparkSession, d: String): Unit = {
    dedupSigTable(s, d)
    ()
  }

  /** Force-build the SimHash signature table. Independent of every
    * other stage — its own Bench thread. */
  def warmSimhashStage(s: SparkSession, d: String): Unit = {
    simhashSigs(s, d)
    ()
  }

  // ---- Incremental dedup against a maintained index ----------------------

  /** MinHash band signatures (id, band, bh) for ANY (`idCol`, text)
    * frame — a pure function of the text: UNCAPPED word-3-gram hashes
    * (the native one-pass [[graftnative.WordGramHashes]] kernel, no
    * gram strings materialized), [[NumHashes]] min-hashes, banded
    * [[Bands]] x 4. Pure-function signing is the whole design: a NEW
    * document computes its own bands with zero index state, so
    * incremental ingest never rebuilds anything. min() is
    * duplicate-insensitive, so the per-doc gram distinct is free —
    * the signature costs ONE map-side-combining shuffle on the id.
    * Docs under 3 words have no grams, hence no bands: they never
    * match (by construction they have no 3-gram Jaccard evidence).
    *
    * Uncapped on purpose, unlike the all-pairs path: the df cap
    * guards the k²-per-bucket pair blowup of SELF-joins, while index
    * probes cost k per batch row and aggregate straight to min/count
    * with map-side partials — so the index keeps full-fidelity
    * signatures. */
  private def minhashBands(docs: DataFrame, idCol: String): DataFrame = {
    val g = docs
      .select(col(idCol), graft.ops.TextSim.normTokens(col("text")).as("ws"))
      .select(col(idCol),
        explode(graft.ops.TextSim.wordGrams3("ws")).as("gram"))
    sigBands(g, idCol)
  }

  /** md5 MinHash signatures → band keys of a (id, gram) frame — the
    * ONE hash-family spelling every banded path shares since r20:
    * per-function minima over md5('i|'||gram) hex strings, band key =
    * md5 of the 4 joined minima. min over a multiset equals min over
    * its distinct set, so capped (distinct + df-capped) and uncapped
    * gram frames ride the same kernel. Replacing the xxhash kernel
    * here is what made q_dedup_incremental oracle-checkable — the
    * ~2x-cheaper-per-gram xxhash family was the r18/r19 trade, paid
    * back by moving ALL md5 work into maintained stages (queries now
    * hash nothing — see [[minhashBandTableCapped]]). */
  private def sigBands(g: DataFrame, idCol: String): DataFrame = {
    val mhCols = (0 until NumHashes)
      .map(i => min(md5(concat_ws("|", lit(i.toString), col("gram"))))
        .as(s"mh$i"))
    val sig = g.groupBy(idCol).agg(mhCols.head, mhCols.tail: _*)
    val bandCols = (0 until Bands).map { b =>
      md5(concat_ws("|", (b * 4 until b * 4 + 4).map(i => col(s"mh$i")): _*))
    }
    sig.select(col(idCol), posexplode(array(bandCols: _*))
      .as(Seq("band", "bh")))
  }

  /** [[minhashBands]] over a (doc_id, text) frame — test-visible so the
    * incremental ≡ full-recompute equality can rebuild signatures from
    * scratch over a grown corpus. */
  private[graft] def bandsOf(docs: DataFrame): DataFrame =
    minhashBands(docs, "doc_id")

  /** Stage key of a named band-index instance. Name "" is the shared
    * registry instance (q_dedup_incremental, warmMinhashStage); any
    * other name is an independent index seeded from the same corpus —
    * tests and multi-tenant pipelines upsert into their OWN instance so
    * mutation never leaks into the shared one. */
  private def bandStage(name: String): String =
    if (name.isEmpty) "mhbands_md5" else s"mhbands_md5@$name"

  /** The corpus's MinHash band table (doc_id, band, bh), STAGE-CACHED:
    * at 100 TB this IS the dedup index — a maintained (band, bh) →
    * doc_id table that each ingest batch probes, appending its own
    * rows after admission ([[upsertIntoBandIndex]]). Nothing about the
    * corpus text is ever touched at probe time. */
  def minhashBandTable(s: SparkSession, d: String, name: String = ""): DataFrame =
    // Named instances read minus their tombstone set ([[liveView]]):
    // a taken-down doc stops matching probes the moment
    // [[deleteFromBandIndex]] returns, before any compaction runs.
    liveView(s, d, DocTombs, name,
      graft.StageCache.memoized(s, d, bandStage(name))(
        minhashBands(Tables.documents(s, d).select("doc_id", "text"),
          "doc_id")),
      "doc_id")

  /** Force-build the MinHash band index — independent of every other
    * stage, its own Bench thread. */
  def warmMinhashStage(s: SparkSession, d: String): Unit = {
    minhashBandTable(s, d)
    ()
  }

  /** Candidate (doc_id, corpus_id) hits of a NEW batch (doc_id, text)
    * against the maintained band index: the batch signs itself
    * ([[minhashBands]]) and hash-joins the index on (band, bh) —
    * never a product, never a corpus rescan. Work is O(batch), not
    * O(corpus): the defining shape of daily-crawl dedup at 100 TB.
    * Re-submitting an already-indexed id does not match itself, so
    * re-ingesting an indexed partition is harmless. */
  def indexHitPairs(s: SparkSession, d: String, batch: DataFrame,
      name: String = ""): DataFrame =
    minhashBands(batch, "doc_id")
      .join(minhashBandTable(s, d, name)
        .select(col("doc_id").as("corpus_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .select("doc_id", "corpus_id")
      .distinct()

  /** Incremental near-dup admission for a NEW batch: each batch doc is
    * either flagged as a near-duplicate of an indexed doc (dup_of =
    * smallest matching corpus id; n_dups = how many indexed docs it
    * collided with) or admitted. Exact copies of indexed text are
    * flagged DETERMINISTICALLY (identical gram set ⇒ identical
    * signature ⇒ every band matches); near-dups probabilistically by
    * the MinHash collision curve; property-tested in SketchesSpec,
    * with incremental ≡ full-recompute equality pinned. */
  def dedupAgainstIndex(s: SparkSession, d: String, batch: DataFrame,
      name: String = ""): DataFrame = {
    val hits = indexHitPairs(s, d, batch, name)
      .groupBy("doc_id")
      .agg(min("corpus_id").as("dup_of"),
        count(lit(1)).cast("long").as("n_dups"))
    batch.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("dup_of").isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  /** Close the maintained-index loop (the other half of
    * [[dedupAgainstIndex]]): sign the ADMITTED (doc_id, text) rows —
    * a pure function of their text, so the appended rows are
    * bit-identical to what a from-scratch rebuild over the grown
    * corpus would produce — and APPEND them to the index
    * materialization. O(batch) work; day-2's probe then sees day-1's
    * admissions with no rebuild. At 100 TB this is a dynamic-partition
    * append to the maintained band table. */
  def upsertIntoBandIndex(s: SparkSession, d: String, admitted: DataFrame,
      name: String = ""): Unit = {
    // Tombstoned doc_ids are dead until compaction ([[deleteFromBandIndex]]
    // contract): drop them from the admission append rather than write
    // bands the tombstone filter would hide and compaction would discard.
    val live =
      if (name.isEmpty) admitted
      else admitted.join(
        broadcast(tombstones(s, d, DocTombs, name)
          .select(col("id").as("doc_id"))),
        Seq("doc_id"), "left_anti")
    graft.StageCache.appendTo(s, d, bandStage(name))(
      minhashBands(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id"))(
      minhashBands(live.select("doc_id", "text"), "doc_id"))
  }

  /** One daily-crawl step: dedup `batch` against the named index, then
    * upsert the admissions so the NEXT batch sees them. Returns the
    * batch's dedup verdicts (computed against the index as of batch
    * start — the probe's file listing is snapshotted before the
    * append, so a verdict re-evaluation cannot see the batch's own
    * rows). SketchesSpec pins the sequence ≡ rebuild equality. */
  def ingestBatch(s: SparkSession, d: String, batch: DataFrame,
      name: String = ""): DataFrame = {
    val verdicts = dedupAgainstIndex(s, d, batch, name)
    val admitted = batch.join(
      verdicts.filter(!col("is_dup")).select("doc_id"), Seq("doc_id"))
    upsertIntoBandIndex(s, d, admitted, name)
    verdicts
  }

  /** Fixture ingest batch for the registry query: every 7th corpus doc
    * re-submitted under a fresh id (+1e6) — even ids verbatim (the
    * deterministic-catch case), odd ids with their word order reversed
    * (reversal destroys almost every 3-gram: the novel case). */
  def defaultBatch(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        when(col("doc_id") % 2 === 0, col("text"))
          .otherwise(concat_ws(" ", reverse(split(col("text"), " "))))
          .as("text"))

  /** Mergeable distinct-count sketch table (CAP-SKETCH-HLL): one
    * DataSketches HLL sketch per language over hashed document text.
    * The at-scale shape for COUNT(DISTINCT) on 100 TB: each partition
    * or ingest batch persists a few-KB sketch row instead of its raw
    * ids, and any slice's cardinality is answered by `hll_union_agg`
    * over the relevant sketch rows — no rescan of history. Merging is
    * set-semantic: re-unioning data already absorbed never
    * double-counts, which is what lets maintenance absorb replayed
    * batches. It is NOT bit-exact across merge orders — DataSketches'
    * coupon/gadget promotion makes the estimate wobble by a hair with
    * arrival order, and a merged estimate can likewise differ a hair
    * from a monolithic rebuild's — so the pinned contract
    * (SketchTableSpec) is tolerance-based: ≤0.5% spread across merge
    * orders, ≤2% vs rebuild, ±5% vs exact counts.
    * lgK=12 → ~1.6% relative standard error at ≤4 KB each. */
  def hllSketchTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("lang")
      .agg(hll_sketch_agg(xxhash64(col("text")), 12).as("sketch"))

  /** CMS parameters shared by build, merge, and the spec: eps 0.001 ->
    * width 2000, confidence 0.99 -> depth 7 (~112 KB per sketch row —
    * fixed regardless of token count), seed 42. */
  val CmsEps = 0.001
  val CmsConf = 0.99
  val CmsSeed = 42

  /** The same sketch GEOMETRY as the Spark-native aggregate derives
    * from (eps, conf) — width = ceil(2/eps), depth =
    * ceil(-ln(1-conf)/ln 2) — spelled as constants because the r20
    * md5-family registry query and its DuckDB oracle build the counter
    * matrix from these directly. The requires pin the derivation so a
    * future eps/conf tweak cannot silently split the md5-CMS registry
    * family's geometry from the binary count_min_sketch family's
    * (r20 advice). */
  val CmsWidth = 2000
  val CmsDepth = 7
  require(CmsWidth == math.ceil(2.0 / CmsEps).toInt,
    s"CmsWidth $CmsWidth != ceil(2/CmsEps) ${math.ceil(2.0 / CmsEps).toInt}")
  require(CmsDepth == math.ceil(-math.log(1.0 - CmsConf) / math.log(2.0)).toInt,
    s"CmsDepth $CmsDepth != ceil(-ln(1-CmsConf)/ln2) " +
      s"${math.ceil(-math.log(1.0 - CmsConf) / math.log(2.0)).toInt}")

  /** Fixed probe vocabulary for the CMS lookups: frequent fixture
    * words + one never-present word (its estimate shows the pure
    * collision overcount, bounded by eps * total tokens). */
  val CmsProbes: Seq[String] =
    Seq("scan", "column", "window", "join", "spark", "zzz_absent")

  // ---- Maintained sketch tables (upsertable, name-scoped) ----------------
  // (the standalone per-corpus CMS table builder was folded into the
  // r20 md5-family registry query below; the binary-sketch CMS lives
  // on in [[sketchRowsOf]] — one ~112 KB count_min_sketch row per
  // language, merged by EXACT counter addition, the maintained-table
  // shape at 100 TB)

  /** Combined per-lang sketch row (lang, hll, cms) of ANY (lang, text)
    * frame — the unit every maintained sketch table appends: HLL over
    * hashed doc text (how many distinct), CMS over word tokens (how
    * often each word). Pure function of the batch, like every other
    * upsert unit. Test-visible for the upsert ≡ rebuild equality. */
  private[graft] def sketchRowsOf(docs: DataFrame): DataFrame = {
    val h = docs.groupBy("lang")
      .agg(hll_sketch_agg(xxhash64(col("text")), 12).as("hll"))
    val c = docs
      .select(col("lang"), explode(graft.ops.TextSim.normTokens(col("text"))).as("word"))
      .groupBy("lang")
      .agg(count_min_sketch(col("word"),
        lit(CmsEps), lit(CmsConf), lit(CmsSeed)).as("cms"))
    h.join(c, "lang")
  }

  /** The maintained per-lang sketch table of a named instance — the
    * THIRD maintained-index family (bands, ANN, sketches): an
    * appendable stage of (lang, hll, cms) rows, corpus-seeded, grown
    * one batch-sketch row-set at a time by [[upsertIntoSketchTable]].
    * Readers never rescan history: [[sketchTableRollup]] answers any
    * slice from the few-KB rows alone. */
  def sketchTable(s: SparkSession, d: String, name: String = ""): DataFrame =
    if (name.isEmpty) sketchRowsOf(Tables.documents(s, d))
    else graft.StageCache.memoized(s, d, s"sketchtab@$name")(
      sketchRowsOf(Tables.documents(s, d)))

  /** Append an ingest batch's OWN sketch rows to the named table —
    * O(batch) work, documents never rescanned. Replay semantics
    * differ by sketch and are the POINT of the pairing: HLL is
    * set-semantic (re-ingesting absorbed docs never double-counts
    * distincts), CMS is multiset-semantic (a replayed batch counts
    * again — dedupe upstream via [[ingestBatch]] when that is not
    * wanted). Pinned in SketchTableSpec. */
  def upsertIntoSketchTable(s: SparkSession, d: String, batch: DataFrame,
      name: String): Unit = {
    require(name.nonEmpty,
      "the shared sketch table is immutable; upsert into a named instance")
    graft.StageCache.appendTo(s, d, s"sketchtab@$name")(
      sketchRowsOf(Tables.documents(s, d)))(
      sketchRowsOf(batch.select("lang", "text")))
  }

  /** Roll the named table up to ONE row per lang: hll_union_agg for
    * distincts, exact counter addition ([[graftnative.CmsMergeAgg]])
    * for frequencies — the read path of the maintained table. */
  def sketchTableRollup(s: SparkSession, d: String, name: String = ""): DataFrame =
    sketchTable(s, d, name)
      .groupBy("lang")
      .agg(hll_union_agg(col("hll")).as("hll"),
        graft.functions.SketchFunctions
          .cmsMerge(col("cms"), CmsEps, CmsConf, CmsSeed).as("cms"))

  // ---- Index lifecycle: tombstone deletes + compaction -------------------
  //
  // The maintained families above only ever APPENDED. Real corpus
  // maintenance needs two more verbs: DELETE (a takedown/retraction must
  // remove a document from the index — the legal requirement for crawl
  // corpora) and COMPACT (a year of daily O(batch) appends is O(365)
  // parquet fragments; a periodic rewrite folds them back to a few
  // well-sized files). The design is merge-on-read + periodic compaction:
  //
  //   * deleteFrom*Index appends ids to a tiny per-instance TOMBSTONE
  //     stage — O(request) work, no index rewrite, the only delete shape
  //     that scales to 100 TB (a synchronous rewrite per takedown would
  //     be an O(index) job on every request).
  //   * Every named-instance read anti-joins the broadcast tombstone set,
  //     so deleted ids vanish from search/dedup results IMMEDIATELY.
  //     Shared registry instances (name = "") are immutable and skip the
  //     join entirely — registry queries pay nothing.
  //   * compact*Index physically rewrites the data stages (dropping
  //     tombstoned rows, coalescing fragments to a few files), then
  //     clears the tombstone set. Query results are IDENTICAL before and
  //     after (pinned in LifecycleSpec); only the file layout changes.
  //
  // Contract: a tombstoned id is DEAD until a compaction clears it —
  // upserts of that id are dropped (ANN anti-joins the RAW store;
  // [[upsertIntoBandIndex]] anti-joins the tombstone set) and reads hide
  // it. After compaction the id is insertable again, as a new document.
  // Like every maintenance verb here, mutation is single-writer per
  // instance.

  private val DocTombs = "doc"
  private val VecTombs = "vec"

  private def tombStage(kind: String, name: String): String =
    s"tombs_$kind@$name"

  /** The named instance's tombstone set (id: long), seeded EMPTY. */
  private def tombstones(s: SparkSession, d: String, kind: String,
      name: String): DataFrame =
    graft.StageCache.memoized(s, d, tombStage(kind, name))(
      s.range(0).select(col("id")))

  /** `df` minus tombstoned keys — the merge-on-read view. The
    * tombstone set is O(deletes-since-compaction): broadcast by
    * construction, so the anti-join adds no shuffle to any read. */
  private def liveView(s: SparkSession, d: String, kind: String,
      name: String, df: DataFrame, keyCol: String): DataFrame =
    if (name.isEmpty) df
    else df.join(
      broadcast(tombstones(s, d, kind, name).select(col("id").as(keyCol))),
      Seq(keyCol), "left_anti")

  /** Takedown verb, document side: every doc_id in `docIds` disappears
    * from the named band index's probe results as of the next read.
    * O(request) — appends to the tombstone set, touches no index file. */
  def deleteFromBandIndex(s: SparkSession, d: String, docIds: DataFrame,
      name: String): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; delete from a named instance")
    graft.StageCache.appendTo(s, d, tombStage(DocTombs, name))(
      s.range(0).select(col("id")))(
      docIds.select(col("doc_id").cast("long").as("id")).distinct())
  }

  /** Takedown verb, embedding side: `vecIds` vanish from the named ANN
    * index's store, assignments, and codes as of the next read. */
  def deleteFromAnnIndex(s: SparkSession, d: String, vecIds: DataFrame,
      name: String): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; delete from a named instance")
    graft.StageCache.appendTo(s, d, tombStage(VecTombs, name))(
      s.range(0).select(col("id")))(
      vecIds.select(col("vec_id").cast("long").as("id")).distinct())
  }

  /** Physically apply the band index's tombstones and fold its appended
    * fragments into `targetFiles` files, then clear the tombstone set.
    * Read results are unchanged; the file listing shrinks to O(1). At
    * 100 TB this is the nightly partition-wise compaction job
    * committing a new table version — here, a StageCache.rewrite swap. */
  def compactBandIndex(s: SparkSession, d: String, name: String,
      targetFiles: Int = 4): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; compact a named instance")
    // Snapshot the tombstone frame BEFORE clearing its stage: parquet
    // files are immutable and dirs live until the context stops, so
    // the rewrite below reads a stable set even as the stage swaps to
    // empty.
    val t = tombstones(s, d, DocTombs, name)
    graft.StageCache.rewrite(s, d, bandStage(name))(
      minhashBands(Tables.documents(s, d).select("doc_id", "text"),
        "doc_id")) { cur =>
      cur.join(broadcast(t.select(col("id").as("doc_id"))),
          Seq("doc_id"), "left_anti")
        .coalesce(targetFiles)
    }
    graft.StageCache.rewrite(s, d, tombStage(DocTombs, name))(
      s.range(0).select(col("id")))(_.limit(0).coalesce(1))
  }

  /** ANN compaction: all three per-vector stages (store, assignments,
    * codes) rewrite in lockstep minus the tombstoned vec_ids, then the
    * tombstone set clears. */
  def compactAnnIndex(s: SparkSession, d: String, name: String,
      targetFiles: Int = 4): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; compact a named instance")
    val t = tombstones(s, d, VecTombs, name)
    def drop(cur: DataFrame): DataFrame =
      cur.join(broadcast(t.select(col("id").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        .coalesce(targetFiles)
    graft.StageCache.rewrite(s, d, s"embstore@$name")(embBase(s, d))(drop)
    graft.StageCache.rewrite(s, d, s"ivfassign@$name")(
      assignOf(s, d, embBase(s, d), name))(drop)
    graft.StageCache.rewrite(s, d, s"pqcodes@$name")(
      codesOf(s, d, embBase(s, d), name))(drop)
    graft.StageCache.rewrite(s, d, tombStage(VecTombs, name))(
      s.range(0).select(col("id")))(_.limit(0).coalesce(1))
  }

  /** CODEBOOK REFRESH under drift — the verb frozen-codebook upserts
    * deliberately lack: months of distribution shift quietly decay
    * recall because new vectors quantize against centroids trained on
    * the old distribution. This retrains BOTH codebooks over the
    * instance's live store (corpus + upserts − tombstones), re-encodes
    * every stored vector against them, and swaps all five stages
    * atomically — the offline `retrain → re-encode → swap` job of a
    * production ANN service, deliberately separate from ingest.
    * Re-encoding subsumes compaction: assignments and codes rewrite
    * from the live store, so tombstones apply physically and the
    * tombstone set clears. O(store) work by design — this is the
    * periodic heavyweight job, vs the O(batch) upsert and O(request)
    * delete. After a retrain, [[upsertIntoAnnIndex]] freezes the NEW
    * codebooks (append ≡ rebuild still pinned, now against them).
    * LifecycleSpec pins the thresholded diversity metric recovering
    * after retrain, lockstep artifact swaps, and adequately-pooled
    * retrieval staying intact (tiny-pool intra-cone recall can
    * measurably DROP after a retrain — optimal quantization gives a
    * tight drifted cone few codewords; see the spec's calibration
    * comment). */
  def retrainAnnIndex(s: SparkSession, d: String, name: String,
      targetFiles: Int = 4): Unit = {
    require(name.nonEmpty,
      "the shared registry index is immutable; retrain a named instance")
    // Live-store snapshot: every artifact below derives from ONE frame,
    // not from stage reads that the swaps underneath would invalidate.
    val store = embStore(s, d, name).localCheckpoint(true)
    val storeXq = quantized(store, "vec_id", "embedding").localCheckpoint(true)
    val newIvf = trainIvf(storeXq).localCheckpoint(true)
    val newPq = trainPq(storeXq).localCheckpoint(true)
    graft.StageCache.rewrite(s, d, s"ivfcb@$name")(
      ivfCodebook(s, d))(_ => newIvf)
    graft.StageCache.rewrite(s, d, s"pqcb@$name")(
      pqCodebook(s, d))(_ => newPq)
    graft.StageCache.rewrite(s, d, s"embstore@$name")(embBase(s, d))(
      _ => store.coalesce(targetFiles))
    graft.StageCache.rewrite(s, d, s"ivfassign@$name")(
      assignOf(s, d, embBase(s, d), name))(
      _ => cellsOf(storeXq, codebookRows(newIvf)).coalesce(targetFiles))
    graft.StageCache.rewrite(s, d, s"pqcodes@$name")(
      codesOf(s, d, embBase(s, d), name))(
      _ => pqEncode(storeXq, pqBooks(newPq)).coalesce(targetFiles))
    graft.StageCache.rewrite(s, d, tombStage(VecTombs, name))(
      s.range(0).select(col("id")))(_.limit(0).coalesce(1))
    // Retraining is exactly the event the drift series must reflect:
    // record a fresh probe over the (re-encoded) store so the stored
    // metric recovers immediately, not at the next upsert.
    recordAnnProbe(s, d, name,
      embStore(s, d, name)
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(ProbeQueries)
        .select(col("vec_id").as("qid"), col("embedding").as("qv")))
  }

  // ---- ANN drift monitoring (CAP-ANN-DRIFT) -----------------------------

  private val ProbeQueries = 16
  private val ProbeReservoir = 512
  /** ADC pool size the probe grades: pool recall ("is the exact top-k
    * inside the ADC-ranked top-pool?") is the metric rerank-based
    * searches actually depend on — when it holds, the exact rerank
    * returns the true top-k. Sized TIGHT relative to the reservoir
    * (~1.6%, the single-digit-percent pool a production search runs,
    * not the fixture call sites' wide-open knobs): a healthy codebook
    * keeps the true top-k inside a small ADC pool; a drifted one only
    * looks healthy when the pool is so wide that rerank is doing all
    * the work. */
  private val ProbePool = 8

  private def probeStage(name: String) = s"annprobe@$name"

  private def emptyProbes(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("seq"), col("id").as("n_queries"),
      col("id").cast("double").as("recall"),
      col("id").cast("double").as("fidelity"),
      col("id").cast("double").as("diversity"))

  /** The stored drift series of a named ANN instance: one row
    * (seq, n_queries, recall, fidelity, diversity) per [[upsertIntoAnnIndex]]
    * batch and per [[retrainAnnIndex]] — the continuously-maintained
    * signal that tells an operator WHEN the deliberate retrain is due,
    * instead of leaving codebook drift to judgment. Empty until the
    * first mutation probes it. */
  def annDriftProbes(s: SparkSession, d: String, name: String): DataFrame = {
    require(name.nonEmpty, "drift probes attach to a named instance")
    graft.StageCache.memoized(s, d, probeStage(name))(emptyProbes(s))
  }

  /** Latest stored DIVERSITY (code-space health), None before any
    * mutation. The operator contract: below 0.8, schedule
    * [[retrainAnnIndex]]. Diversity = 1 − the mean per-subspace
    * Herfindahl index of the sample's code usage (Σ share² per
    * subspace, averaged over the PqM subspaces) — scale-free, and it
    * measures the failure mode drift actually causes in a compressed
    * index: new vectors CONCENTRATING onto a few codewords per
    * subspace, after which ADC cannot rank among them no matter how
    * wide the pool. The raw HHI has floor 1/sample, so the metric is
    * rescaled by the best spread the sample admits (1/min(n, PqK)) —
    * without that, a healthy 2-4-vector batch would falsely trip the
    * bar. Re-anchored in r19 when the family moved to the integer
    * basis, by MEASUREMENT (sf0.001): a healthy full-corpus batch
    * spreads over ~30 of 32 codewords per subspace (HHI 0.042), the
    * 16-query probe reads normalized diversity ~0.96, while the
    * LifecycleSpec drift cone lands on ~6 codewords (HHI 0.557;
    * normalized probe diversity 0.519) — wide margins on both sides
    * of the 0.8 bar. The old
    * thresholded metric, mean reconstruction cosine, was measured NOT
    * to separate this collapse mode at all (healthy ~0.743 vs
    * drifted-batch ~0.746); it is kept in the stored row as
    * corroborating context, alongside the reservoir pool recall
    * (whose absolute value bottoms out on a cone of near-identical
    * drifted vectors even for a perfect codebook). */
  def annDriftMetric(s: SparkSession, d: String, name: String): Option[Double] =
    annDriftProbes(s, d, name).orderBy(col("seq").desc).limit(1)
      .collect().headOption.map(_.getAs[Double]("diversity"))

  /** Measure + store one probe row. Two measurements over a
    * deterministic sample of `queries`:
    *  - RECALL: ADC-ranked top-[[ProbePool]] (frozen live codebooks,
    *    no rerank) against a DETERMINISTIC bounded reservoir of the
    *    live store, graded for containment of the exact-cosine top-k
    *    over the same reservoir (brute force over the reservoir only —
    *    O(|queries| × reservoir), never the full store, so the probe
    *    costs the same at any corpus size; at 100 TB: a held-out
    *    validation partition);
    *  - FIDELITY: mean cosine between each sampled vector and its PQ
    *    reconstruction, from UNSHIFTED integers — exact long partials,
    *    one double sqrt + divide per vector;
    *  - DIVERSITY (the thresholded metric — see [[annDriftMetric]]):
    *    1 − mean per-subspace Herfindahl of the sample's code usage.
    * Skips silently when there is nothing to grade (empty batch —
    * replayed upserts stay no-ops). */
  private def recordAnnProbe(s: SparkSession, d: String, name: String,
      queries: DataFrame, k: Int = 3): Unit = {
    val res = embStore(s, d, name)
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(ProbeReservoir)
      .localCheckpoint(true)
    val resQ = quantized(res, "vec_id", "embedding").localCheckpoint(true)
    val qq = quantized(queries, "qid", "qv").localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    val exact = qq.select(col("qid"), col("xq").as("qxq")).crossJoin(resQ)
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("d2", l2sq(col("qxq"), col("xq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.isEmpty) return
    val qsv = pqSubQ(qq.select(col("qid").as("vec_id"), col("xq")))
    val dtable = qsv
      .join(broadcast(pqCodebook(s, d, name)), "m")
      .select(col("vec_id").as("qid"), col("m"), col("cid"),
        l2sq(col("sq"), col("cv")).as("pd2"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adc"), col("vec_id"))
    val pool = pqCodes(s, d, name)
      .join(broadcast(res.select("vec_id")), Seq("vec_id"))
      .join(broadcast(dtable), Seq("m", "cid"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id")
      .agg(sum("pd2").as("adc"))
      .withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= ProbePool)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(pool).size.toDouble / exact.size
    val cb = pqCodebook(s, d, name)
    // Reconstruction cosine from UNSHIFTED integers (xi − ShiftQ): the
    // +4 shift cancels in L2 but not in dot products, so the partial
    // per-m dot/norm sums subtract it first — exact longs, order-free;
    // one double sqrt + divide per query vector at the end.
    def udot(a: Column, b: Column): Column =
      graft.functions.VectorFunctions.longShiftedDot(a, b, Clustering.ShiftQ)
    val codes = pqEncode(qq.select(col("qid").as("vec_id"), col("xq")),
      pqBooks(cb))
    val fidelity = codes
      .join(qsv, Seq("vec_id", "m"))
      .join(broadcast(cb), Seq("m", "cid"))
      .groupBy("vec_id")
      .agg(sum(udot(col("sq"), col("cv"))).as("dq"),
        sum(udot(col("sq"), col("sq"))).as("nx"),
        sum(udot(col("cv"), col("cv"))).as("nr"))
      .select((col("dq") / (sqrt(col("nx")) * sqrt(col("nr")))).as("rc"))
      .agg(avg("rc")).collect()(0).getDouble(0)
    val divRow = codes
      .groupBy("m", "cid").agg(count(lit(1)).as("cnt"))
      .groupBy("m")
      .agg((sum(col("cnt") * col("cnt")) /
        (sum(col("cnt")) * sum(col("cnt")))).as("hhi"),
        sum("cnt").as("nq"))
      .agg(avg("hhi"), first("nq")).collect()(0)
    val meanHhi = divRow.getDouble(0)
    val nProbe = divRow.getLong(1)
    // Small-sample normalization (r19 review): raw HHI has floor
    // 1/sample, so a healthy 2-4 vector batch would falsely trip the
    // 0.8 retrain bar; rescale by the best spread the sample size
    // admits (hhiMin = 1/min(n, PqK)), degenerate 1-vector samples
    // reading as healthy.
    val hhiMin = 1.0 / math.max(1L, math.min(nProbe, PqK.toLong))
    val diversity =
      if (nProbe <= 1L || hhiMin >= 1.0) 1.0
      else math.max(0.0, math.min(1.0, (1.0 - meanHhi) / (1.0 - hhiMin)))
    val nq = exact.map(_._1).size.toLong
    val seq = annDriftProbes(s, d, name).count() + 1
    graft.StageCache.appendTo(s, d, probeStage(name))(emptyProbes(s))(
      s.range(1).select(lit(seq).as("seq"), lit(nq).as("n_queries"),
        lit(recall).as("recall"), lit(fidelity).as("fidelity"),
        lit(diversity).as("diversity")))
  }

  /** Sketch-table compaction: fold the appended per-batch rows down to
    * ONE row per lang — hll_union_agg (set-semantic) + exact CMS
    * counter addition — and swap. [[sketchTableRollup]] answers
    * identically before and after (CMS bit-for-bit; HLL estimates are
    * preserved exactly here because union absorbs the same sketches).
    * Per-row DELETE on sketches is IMPOSSIBLE by construction (HLL and
    * CMS are not invertible); the takedown path for sketch tables is
    * [[rebuildSketchTable]] from the retained corpus. */
  def compactSketchTable(s: SparkSession, d: String, name: String): Unit = {
    require(name.nonEmpty,
      "the shared sketch table is immutable; compact a named instance")
    graft.StageCache.rewrite(s, d, s"sketchtab@$name")(
      sketchRowsOf(Tables.documents(s, d))) { cur =>
      cur.groupBy("lang")
        .agg(hll_union_agg(col("hll")).as("hll"),
          graft.functions.SketchFunctions
            .cmsMerge(col("cms"), CmsEps, CmsConf, CmsSeed).as("cms"))
        .coalesce(1)
    }
  }

  /** The sketch-table takedown path: sketches cannot forget a row, so
    * a retraction rebuilds the named table from the RETAINED (lang,
    * text) corpus — one aggregation job, swapped in atomically. */
  def rebuildSketchTable(s: SparkSession, d: String, retained: DataFrame,
      name: String): Unit = {
    require(name.nonEmpty,
      "the shared sketch table is immutable; rebuild a named instance")
    graft.StageCache.rewrite(s, d, s"sketchtab@$name")(
      sketchRowsOf(Tables.documents(s, d)))(
      _ => sketchRowsOf(retained.select("lang", "text")))
  }

  // ---- DuckDB oracle builders for the ANN family (r19) -------------------
  // q_sim_ann_ivf / _pq / _ivfpq are hash-checked because every step is
  // integer arithmetic on the shared (x+4)*1e6 quantization: the CTEs
  // below unroll the SAME recurrences as Clustering.kmeansCtes —
  // md5-order seeds, integer-L2 assignment with the (d, cid) tie-break,
  // truncating integer mean with carry-forward — then replay the
  // probe / ADC / rerank ranks exactly.
  // The oracle SQL strings below hard-spell the quantization shift
  // 4000000 (= Clustering.ShiftQ) and scale 1000000; this require makes
  // a future ShiftD/ScaleD change fail LOUDLY at class init instead of
  // silently desynchronizing every ANN/LSH oracle (r20 advice).
  require(graft.ops.Clustering.ShiftQ == 4000000L,
    s"ANN oracle SQL hard-codes shift 4000000 but Clustering.ShiftQ = " +
      s"${graft.ops.Clustering.ShiftQ}; update the oracle CTE literals")

  /** Quantization CTE (vec_id, idx, xi) — the exactly-normalized
    * integer basis of [[quantized]], emitted locally so the ANN
    * oracles are self-contained — plus the fixture query set. */
  private def annEqCte: String =
    """rq AS (SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |    CAST(trunc(unnest(CAST(embedding AS DOUBLE[])) * 1000000.0)
      |      AS BIGINT) AS ri
      |  FROM embeddings),
      |n2 AS (SELECT vec_id, CAST(sum(ri * ri) AS BIGINT) AS n2
      |  FROM rq GROUP BY 1),
      |eq AS MATERIALIZED (SELECT r.vec_id, r.idx,
      |    CAST(trunc(CAST(r.ri * 1000000 AS DOUBLE)
      |      / sqrt(CAST(n.n2 AS DOUBLE))) AS BIGINT) + 4000000 AS xi
      |  FROM rq r JOIN n2 n USING (vec_id)),
      |qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id % 97 = 0)"""

  /** The IVF training recurrence + final corpus cell assignment —
    * [[trainIvf]] / [[cellsOf]] unrolled. Seeds rank only rows with a
    * vector, as [[Clustering.seedVectors]] does; N counts every row on
    * both sides. The realized cell count always equals the seeded
    * greatest(2, ceil(sqrt(N))) (given that many vectors) because the
    * carry-forward M-step never drops a cid, on BOTH sides. */
  private def ivfCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""ivd$i AS (SELECT e.vec_id, c.cid,
        |    CAST(sum((e.xi - c.c) * (e.xi - c.c)) AS BIGINT) AS d
        |  FROM eq e JOIN ivc${i - 1} c ON e.idx = c.idx GROUP BY 1, 2),
        |iva$i AS MATERIALIZED (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ivd$i)
        |  WHERE rn = 1),
        |ivm$i AS MATERIALIZED (
        |  SELECT p.cid, p.idx, coalesce(m.c, p.c) AS c
        |  FROM ivc${i - 1} p LEFT JOIN (
        |    SELECT a.cid, e.idx,
        |      CAST(sum(e.xi) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
        |    FROM iva$i a JOIN eq e USING (vec_id) GROUP BY 1, 2) m
        |  ON p.cid = m.cid AND p.idx = m.idx),
        |ivc$i AS MATERIALIZED (
        |  SELECT v.cid, v.idx, CASE WHEN t.n2 = 0 THEN v.c
        |      ELSE CAST(trunc(CAST((v.c - 4000000) * 1000000 AS DOUBLE)
        |        / sqrt(CAST(t.n2 AS DOUBLE))) AS BIGINT) + 4000000
        |    END AS c
        |  FROM ivm$i v JOIN (
        |    SELECT cid, CAST(sum((c - 4000000) * (c - 4000000))
        |        AS BIGINT) AS n2
        |    FROM ivm$i GROUP BY 1) t USING (cid))"""
    }.mkString(",\n")
    s"""cn AS (SELECT greatest(2, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))
      |    AS BIGINT)) AS c FROM embeddings),
      |ivsd AS MATERIALIZED (SELECT vec_id, cid FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      |    FROM embeddings WHERE len(embedding) > 0), cn WHERE cid < cn.c),
      |ivc0 AS MATERIALIZED (
      |  SELECT sd.cid, e.idx, e.xi AS c
      |  FROM ivsd sd JOIN eq e USING (vec_id)),
      |$rounds,
      |ivdf AS (SELECT e.vec_id, c.cid,
      |    CAST(sum((e.xi - c.c) * (e.xi - c.c)) AS BIGINT) AS d
      |  FROM eq e JOIN ivc3 c ON e.idx = c.idx GROUP BY 1, 2),
      |ivasg AS MATERIALIZED (SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ivdf)
      |  WHERE rn = 1)"""
  }

  /** Each query ranks the trained centroids by integer L2 and keeps
    * its greatest(2, ceil(frac·C)) nearest cells — [[ivfSearch]]'s
    * probe stage at the registry's fixture knob. */
  private def ivfProbeCtes(frac: Double): String =
    s"""qd AS (SELECT q.qid, c.cid,
      |    CAST(sum((e.xi - c.c) * (e.xi - c.c)) AS BIGINT) AS d
      |  FROM qs q JOIN eq e ON e.vec_id = q.qid
      |  JOIN ivc3 c ON c.idx = e.idx GROUP BY 1, 2),
      |probes AS (SELECT qid, cid FROM (
      |    SELECT qid, cid, row_number() OVER (
      |      PARTITION BY qid ORDER BY d, cid) AS crn FROM qd), cn
      |  WHERE crn <= greatest(2, CAST(ceil($frac * cn.c) AS BIGINT)))""" +
      ",\ncand AS (SELECT p.qid, a.vec_id FROM probes p" +
      "\n  JOIN ivasg a ON a.cell = p.cid AND a.vec_id <> p.qid)"

  /** The PQ training recurrence + the corpus code table — [[trainPq]] /
    * [[pqEncode]] unrolled; all M subspaces ride one CTE chain via the
    * m grouping column, as they ride one sweep in the Spark plan. */
  private def pqCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""pqd$i AS (SELECT q.vec_id, q.m, c.cid,
        |    CAST(sum((q.xi - c.c) * (q.xi - c.c)) AS BIGINT) AS d
        |  FROM sq q JOIN pqc${i - 1} c ON q.m = c.m AND q.j = c.j
        |  GROUP BY 1, 2, 3),
        |pqa$i AS MATERIALIZED (SELECT vec_id, m, cid FROM (
        |    SELECT vec_id, m, cid, row_number() OVER (
        |      PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM pqd$i)
        |  WHERE rn = 1),
        |pqc$i AS MATERIALIZED (
        |  SELECT p.m, p.cid, p.j, coalesce(n.c, p.c) AS c
        |  FROM pqc${i - 1} p LEFT JOIN (
        |    SELECT a.m, a.cid, q.j,
        |      CAST(sum(q.xi) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
        |    FROM pqa$i a JOIN sq q ON q.vec_id = a.vec_id AND q.m = a.m
        |    GROUP BY 1, 2, 3) n
        |  ON p.m = n.m AND p.cid = n.cid AND p.j = n.j)"""
    }.mkString(",\n")
    s"""dims AS (SELECT max(idx) // $PqM AS sub FROM eq),
      |sq AS MATERIALIZED (SELECT vec_id, (idx - 1) // dims.sub AS m,
      |    (idx - 1) % dims.sub AS j, xi FROM eq, dims
      |  WHERE (idx - 1) // dims.sub < $PqM),
      |pqsd AS MATERIALIZED (SELECT vec_id, cid FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      |    FROM embeddings WHERE len(embedding) > 0) WHERE cid < $PqK),
      |pqc0 AS MATERIALIZED (
      |  SELECT q.m, sd.cid, q.j, q.xi AS c
      |  FROM pqsd sd JOIN sq q USING (vec_id)),
      |$rounds,
      |pqdf AS (SELECT q.vec_id, q.m, c.cid,
      |    CAST(sum((q.xi - c.c) * (q.xi - c.c)) AS BIGINT) AS d
      |  FROM sq q JOIN pqc3 c ON q.m = c.m AND q.j = c.j GROUP BY 1, 2, 3),
      |codes AS MATERIALIZED (SELECT vec_id, m, cid FROM (
      |    SELECT vec_id, m, cid, row_number() OVER (
      |      PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM pqdf)
      |  WHERE rn = 1)"""
  }

  /** The ADC scan + pool cut — [[pqSearch]]'s compressed-domain stage.
    * `candRestrict` optionally limits the scored pairs to the IVF
    * candidate set (the IVFPQ composition); `poolExpr` is the rerank
    * pool bound over `nt.n` (the corpus count). */
  private def pqAdcCtes(candRestrict: Boolean, poolExpr: String): String = {
    val cand = if (candRestrict)
      "\n    JOIN cand cd ON cd.qid = t.qid AND cd.vec_id = k.vec_id" else ""
    s"""qdt AS (SELECT q.qid, s.m, c.cid,
      |    CAST(sum((s.xi - c.c) * (s.xi - c.c)) AS BIGINT) AS pd2
      |  FROM qs q JOIN sq s ON s.vec_id = q.qid
      |  JOIN pqc3 c ON c.m = s.m AND c.j = s.j GROUP BY 1, 2, 3),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
      |adc AS (SELECT t.qid, k.vec_id, CAST(sum(t.pd2) AS BIGINT) AS adc
      |  FROM codes k JOIN qdt t ON t.m = k.m AND t.cid = k.cid
      |    AND k.vec_id <> t.qid$cand
      |  GROUP BY 1, 2),
      |pool AS (SELECT qid, vec_id FROM (
      |    SELECT qid, vec_id, row_number() OVER (
      |      PARTITION BY qid ORDER BY adc, vec_id) AS arn FROM adc), nt
      |  WHERE arn <= $poolExpr)"""
  }

  /** Capped distinct STRING word-3-grams (doc_id, gram) — the md5
    * MinHash signatures hash the gram TEXT, so both engines hash
    * identical bytes (the hashed-long gram kernel is engine-native,
    * which is exactly what kept q_dedup_minhash no-oracle through
    * r18). Stage-cached: the corpus tokenize + gram fan-out is
    * per-corpus work, like the hashed postings. Same stop-gram df cap
    * as every near-dup query, spelled identically in the oracle. */
  private def stringGrams(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "mhsgrams") {
      val g0 = Tables.documents(s, d)
        .select(col("doc_id"), TextSim.normTokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(TextSim.wordGrams3("ws")).as("gram"))
        .distinct()
      val ok = g0.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") <= TextSim.DfCap).select("gram")
      g0.join(ok, "gram").select("doc_id", "gram")
    }

  /** The df-CAPPED md5 band table q_dedup_minhash rides — STAGE-CACHED
    * (r20, the r19 double-hash fix): the registry query used to
    * re-derive signatures from [[stringGrams]] on every run, paying
    * the md5 family a second time next to the maintained index build;
    * now both the capped (all-pairs query) and uncapped (incremental
    * index) band tables are one-time maintained stages and the query
    * path hashes NOTHING — it is a pure (band, bh) self-join. */
  private def minhashBandTableCapped(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "mhbands_md5c") {
      sigBands(stringGrams(s, d), "doc_id")
    }

  /** Force-build the df-capped band table (and the stringGrams stage it
    * chains through) — q_dedup_minhash's artifacts. Without this the
    * query's FIRST bench run paid the build lazily (r20 What's-wrong
    * #2: a 2.57 s first-run spread), while every sibling family had its
    * stages pre-built; now it is one more pre-timed chain. */
  def warmMinhashCappedStage(s: SparkSession, d: String): Unit = {
    minhashBandTableCapped(s, d)
    ()
  }

  /** q_dedup_minhash's DuckDB unroll: the same tokenize → 3-gram →
    * df-cap chain as the q_dedup_ngram oracle, then the md5 hash
    * family — per-function minima as hex strings, band keys as md5 of
    * the joined minima — and the band-bucket self-join. */
  private def minhashOracle: String = {
    val mhs = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || gram)) AS mh$i").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val parts = (b * 4 until b * 4 + 4).map(i => s"mh$i")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, ${TextSim.TokSql()} AS ws FROM documents),
      |g0 AS (SELECT DISTINCT doc_id,
      |    unnest([array_to_string(ws[i:i+2], ' ')
      |      for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
      |  FROM w),
      |ok AS (SELECT gram FROM g0
      |  GROUP BY gram HAVING count(*) <= ${TextSim.DfCap}),
      |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
      |sig AS (SELECT doc_id,
      |    $mhs
      |  FROM g GROUP BY doc_id),
      |bands AS ($bandRows)
      |SELECT a.doc_id AS ida, b.doc_id AS idb,
      |  CAST(count(*) AS BIGINT) AS n_bands
      |FROM bands a JOIN bands b
      |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 ORDER BY ida, idb"""
  }

  /** UNCAPPED md5 MinHash band CTEs over a (doc_id, text) source CTE —
    * [[minhashBands]]/[[sigBands]] unrolled (no distinct, no df cap:
    * min over a multiset equals min over its set, and the index keeps
    * full-fidelity signatures — see the [[minhashBands]] scaladoc).
    * Emits `${p}b` (doc_id, band, bh); shared by the corpus and batch
    * sides of the q_dedup_incremental oracle. */
  private def mhBandsCte(p: String, src: String): String = {
    val mhs = (0 until NumHashes)
      .map(i => s"min(md5('$i|' || gram)) AS mh$i").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val parts = (b * 4 until b * 4 + 4).map(i => s"mh$i")
        .mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM ${p}sig"
    }.mkString("\n  UNION ALL ")
    s"""${p}w AS (SELECT doc_id, ${TextSim.TokSql()} AS ws FROM $src),
      |${p}g AS (SELECT doc_id,
      |    unnest([array_to_string(ws[i:i+2], ' ')
      |      for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
      |  FROM ${p}w),
      |${p}sig AS (SELECT doc_id, $mhs FROM ${p}g GROUP BY doc_id),
      |${p}b AS MATERIALIZED ($bandRows)"""
  }

  /** q_dedup_incremental's DuckDB unroll (r20): the registry row probes
    * the maintained index WITHOUT upserting, so it is a pure function
    * of the corpus — corpus bands, the deterministic fixture batch
    * (every 7th doc re-submitted under id+1e6, even ids verbatim, odd
    * ids word-reversed), batch bands, the (band, bh) hash join, and
    * the min/count admission verdicts. The STATEFUL upsert sequence
    * (ingestBatch day-2 probes seeing day-1 admissions) remains
    * pinned by SketchesSpec's incremental ≡ full-recompute equality —
    * cross-run state is the one part DuckDB cannot replay. */
  private def incrementalOracle: String =
    s"""WITH ${mhBandsCte("c", "documents")},
      |batch AS (SELECT doc_id + 1000000 AS doc_id,
      |    CASE WHEN doc_id % 2 = 0 THEN text
      |      ELSE array_to_string(list_reverse(str_split(text, ' ')), ' ')
      |    END AS text
      |  FROM documents WHERE doc_id % 7 = 0),
      |${mhBandsCte("q", "batch")},
      |ihits AS (SELECT DISTINCT b.doc_id, c.doc_id AS corpus_id
      |  FROM qb b JOIN cb c ON c.band = b.band AND c.bh = b.bh
      |    AND b.doc_id <> c.doc_id),
      |iagg AS (SELECT doc_id, min(corpus_id) AS dup_of,
      |    CAST(count(*) AS BIGINT) AS n_dups
      |  FROM ihits GROUP BY 1)
      |SELECT b.doc_id, a.dup_of, coalesce(a.n_dups, 0) AS n_dups,
      |  a.dup_of IS NOT NULL AS is_dup
      |FROM batch b LEFT JOIN iagg a USING (doc_id)
      |ORDER BY b.doc_id"""

  /** q_dedup_simhash's DuckDB unroll: the same tokenizer, the same
    * md5-derived 64 bits per word (locate/strpos hexval — see
    * [[simhashSigs]]), the same disjoint-bit sum assembly (bit 63 is
    * the Long.MinValue literal, spelled arithmetically because the
    * positional literal would overflow DuckDB's parser), the same
    * 4 x 16-bit band join and Hamming <= 12 verify. Shift-then-mask
    * band extraction is sign-safe in both engines (the & 65535 keeps
    * only the 16 shifted-down bits either way). */
  private def simhashOracle: String = {
    val sums = (0 until 64).map { j =>
      val p = j / 4 + 1
      val k = 1 << (j % 4)
      s"sum(CASE WHEN ((strpos('0123456789abcdef', substr(h, $p, 1))" +
        s" - 1) // $k) % 2 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n    ")
    val sigExpr = (0 until 64).map { j =>
      val term =
        if (j == 63) "(CAST(-9223372036854775807 AS BIGINT) - 1)"
        else s"CAST(${1L << j} AS BIGINT)"
      s"CASE WHEN s$j > 0 THEN $term ELSE CAST(0 AS BIGINT) END"
    }.mkString("\n    + ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band," +
        s" (simhash >> ${b * 16}) & 65535 AS bh FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, ${TextSim.TokSql()} AS ws FROM documents),
      |tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
      |hx AS (SELECT doc_id, md5(word) AS h FROM tok),
      |bits AS (SELECT doc_id,
      |    $sums
      |  FROM hx GROUP BY doc_id),
      |sig AS (SELECT doc_id, $sigExpr AS simhash FROM bits),
      |bands AS ($bandRows)
      |SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
      |  bit_count(xor(a.simhash, b.simhash)) AS hamming
      |FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
      |  AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
      |ORDER BY ida, idb"""
  }

  /** Exact integer-L2 rerank of `candCte`'s (qid, vec_id) pairs to
    * top-3 — the searches' final stage and output shape. */
  private def annRerankSql(candCte: String): String =
    s"""rr AS (SELECT c.qid, c.vec_id,
      |    CAST(sum((qe.xi - e.xi) * (qe.xi - e.xi)) AS BIGINT) AS d2
      |  FROM $candCte c
      |  JOIN eq qe ON qe.vec_id = c.qid
      |  JOIN eq e ON e.vec_id = c.vec_id AND e.idx = qe.idx
      |  GROUP BY 1, 2)
      |SELECT qid, vec_id AS nid, d2, rn FROM (
      |  SELECT qid, vec_id, d2, row_number() OVER (
      |    PARTITION BY qid ORDER BY d2, vec_id) AS rn FROM rr)
      |WHERE rn <= 3 ORDER BY qid, rn"""

  /** Integer-plane hyperplane CTEs for ONE md5 family (r20 — the
    * discipline that flipped the LSH trio): plane table `$f`
    * (t, b, idx, p) with p = 2·byte0(md5('seedBase|t|b|idx')) − 255,
    * per-vector per-table signatures `${f}s` (vec_id, t, sig) over a
    * source CTE shaped (vec_id, idx, xi), and — when `probe` — the
    * 1-bit multiprobe fan-out `${f}pr`. [[sigRowsOfQ]] +
    * [[probeRowsOf]] unrolled; byte 0 of md5 is its first two
    * lowercase-hex chars on both engines. */
  private def planeSigCtes(f: String, src: String, bits: Int, tables: Int,
      seedBase: Int, probe: Boolean): String = {
    val base =
      s"""$f AS MATERIALIZED (
        |  SELECT t, b, idx,
        |    2 * ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) - 255 AS p
        |  FROM (
        |    SELECT tt.range AS t, bb.range AS b, ii.idx,
        |      md5('$seedBase|' || CAST(tt.range AS VARCHAR) || '|'
        |        || CAST(bb.range AS VARCHAR) || '|'
        |        || CAST(ii.idx AS VARCHAR)) AS h
        |    FROM range(0, $tables) tt, range(0, $bits) bb,
        |      (SELECT DISTINCT idx FROM $src) ii)),
        |${f}d AS (SELECT e.vec_id, p.t, p.b,
        |    CAST(sum((e.xi - 4000000) * p.p) AS BIGINT) AS dot
        |  FROM $src e JOIN $f p USING (idx) GROUP BY 1, 2, 3),
        |${f}s AS MATERIALIZED (SELECT vec_id, t,
        |    CAST(sum(CASE WHEN dot > 0 THEN (CAST(1 AS BIGINT) << b)
        |      ELSE 0 END) AS BIGINT) AS sig
        |  FROM ${f}d GROUP BY 1, 2)"""
    if (!probe) base
    else base + s""",
      |${f}pr AS (SELECT vec_id, t, sig FROM ${f}s
      |  UNION ALL
      |  SELECT vec_id, t, xor(sig, (CAST(1 AS BIGINT) << jj.range)) AS sig
      |  FROM ${f}s, range(0, $bits) jj)"""
  }

  /** The quantized-basis pair dot: Σ (xa−S)(xb−S) over matched idx —
    * cosine × 1e12 to quantization precision, exact and identical on
    * both engines; the verify thresholds below compare against
    * `cos_bar × 1e12` directly. */
  private def pairDotCte(name: String, pairs: String, src: String): String =
    s"""$name AS (SELECT p.ida, p.idb,
      |    CAST(sum((ea.xi - 4000000) * (eb.xi - 4000000)) AS BIGINT) AS dot
      |  FROM $pairs p JOIN $src ea ON ea.vec_id = p.ida
      |  JOIN $src eb ON eb.vec_id = p.idb AND eb.idx = ea.idx
      |  GROUP BY 1, 2)"""

  /** q_sim_lsh_points' DuckDB unroll (r20): md5-order sample of
    * [[LshSampleN]] vectors, the three operating-point families as
    * [[planeSigCtes]] instances over the sample's quantized rows,
    * bucket self-joins per family, the integer-dot cos-0.9 verify, and
    * the integer-division ppb — every stage exact on both engines. */
  private def lshPointsOracle: String = {
    def candOf(f: String, probed: Boolean): String = {
      val left = if (probed) s"${f}pr" else s"${f}s"
      s"""${f}c AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
        |  FROM $left a JOIN ${f}s b ON b.t = a.t AND b.sig = a.sig
        |    AND a.vec_id < b.vec_id)"""
    }
    s"""WITH $annEqCte,
      |smp AS MATERIALIZED (SELECT vec_id FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      |    FROM embeddings) WHERE rn <= $LshSampleN),
      |seq AS MATERIALIZED (
      |  SELECT e.vec_id, e.idx, e.xi FROM eq e JOIN smp USING (vec_id)),
      |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM smp),
      |${planeSigCtes("f1", "seq", LshBits, LshTables, 0, probe = true)},
      |${candOf("f1", probed = true)},
      |${planeSigCtes("f2", "seq", DedupLshBits, DedupLshTables, 7000,
        probe = true)},
      |${candOf("f2", probed = true)},
      |${planeSigCtes("f3", "seq", 16, 24, 7000, probe = false)},
      |${candOf("f3", probed = false)},
      |allc AS (
      |  SELECT 'registry_${LshBits}x${LshTables}_probe' AS point, ida, idb
      |    FROM f1c
      |  UNION ALL SELECT 'dedup_${DedupLshBits}x$DedupLshTables', ida, idb
      |    FROM f2c
      |  UNION ALL SELECT 'tuned_16x24', ida, idb FROM f3c),
      |vd AS (SELECT c.point, c.ida, c.idb,
      |    CAST(sum((ea.xi - 4000000) * (eb.xi - 4000000)) AS BIGINT) AS dot
      |  FROM allc c JOIN seq ea ON ea.vec_id = c.ida
      |  JOIN seq eb ON eb.vec_id = c.idb AND eb.idx = ea.idx
      |  GROUP BY 1, 2, 3),
      |st AS (SELECT point, CAST(count(*) AS BIGINT) AS n_candidates,
      |    CAST(sum(CASE WHEN dot >= 900000000000 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_verified
      |  FROM vd GROUP BY 1)
      |SELECT p.point, nv.n_vec AS n_sample,
      |  CAST(coalesce(st.n_candidates, 0) AS BIGINT) AS n_candidates,
      |  CAST(coalesce(st.n_verified, 0) AS BIGINT) AS n_verified,
      |  CAST(coalesce(st.n_candidates, 0) * 2000000000
      |    // (nv.n_vec * (nv.n_vec - 1)) AS BIGINT) AS cand_ppb
      |FROM (VALUES ('registry_${LshBits}x${LshTables}_probe'),
      |    ('dedup_${DedupLshBits}x$DedupLshTables'), ('tuned_16x24'))
      |  p(point)
      |LEFT JOIN st USING (point) CROSS JOIN nv
      |ORDER BY point"""
  }

  val specs: Seq[QuerySpec] = Seq(

    // Embedding-cosine near-dup, LSH SCALE PATH: the same keep-id
    // canonicalization as the exact q_dedup_cosine, but neighbor pairs
    // come from the hyperplane-signature buckets instead of the n²
    // cross join — the formulation that replaces the brute baseline at
    // 100 TB. The candidate stage runs at the MEASURED operating point
    // for this query's own cos >= 0.4 verify threshold (13 bits x 128
    // tables x 1-bit probe — see the [[DedupLshBits]] scaladoc for the
    // grid: ~1.8x fewer candidates than the registry ANN point at
    // keep-id agreement 0.98/0.955, and why the 579x-selective cos-0.9
    // point is NOT usable here). Since r20 the verify threshold lives
    // in the quantized integer basis (dot >= 0.4e12 ≡ cos >= 0.4 to
    // 1e-6 quantization — exact, identical on both engines), and the
    // md5 plane family makes the whole pipeline DuckDB-hash-checked.
    // Property-tested against the exact output (SketchesSpec):
    // candidate recall makes the keep-id map agree on >= 90% of
    // flagged duplicates on the fixtures.
    QuerySpec.sql("q_dedup_cosine_lsh",
      s"""WITH $annEqCte,
        |${planeSigCtes("dp", "eq", DedupLshBits, DedupLshTables, 7000,
          probe = true)},
        |dpair AS (SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
        |  FROM dppr a JOIN dps b ON b.t = a.t AND b.sig = a.sig
        |    AND a.vec_id < b.vec_id),
        |${pairDotCte("vdot", "dpair", "eq")},
        |nbrs AS (SELECT ida, idb FROM vdot WHERE dot >= 400000000000)
        |SELECT e.vec_id, coalesce(min(n.ida), e.vec_id) AS keep_id,
        |  count(n.ida) AS n_nbrs
        |FROM (SELECT vec_id FROM embeddings) e
        |LEFT JOIN nbrs n ON n.idb = e.vec_id
        |GROUP BY e.vec_id ORDER BY vec_id""", "dedup_lsh_sigs") { (s, d) =>
      val eq = storeQ(s, d, "")
      val nbrs = dedupPairCandidates(s, d)
        .join(eq.toDF("ida", "xa"), "ida")
        .join(eq.toDF("idb", "xb"), "idb")
        .withColumn("dot", graft.functions.VectorFunctions
          .longShiftedDot(col("xa"), col("xb"), Clustering.ShiftQ))
        .filter(col("dot") >= 400000000000L)
        .select("ida", "idb")
      eq.select(col("vec_id"))
        .join(nbrs, col("vec_id") === col("idb"), "left")
        .groupBy("vec_id")
        .agg(coalesce(min("ida"), col("vec_id")).as("keep_id"),
          count(col("ida")).as("n_nbrs"))
        .orderBy("vec_id")
    },

    // LSH OPERATING-POINT report — the selectivity/recall tradeoff as
    // a driver-visible table (SCALE.md finding 2, driver-facing), on a
    // PINNED DETERMINISTIC VECTOR SAMPLE so the report's own work is
    // BOUNDED: the r11 spelling materialized + double-joined the
    // registry point's all-pairs candidate set — the exact exp-2.00
    // quantity SCALE.md measured — just to count it. Candidate RATES
    // are pairwise statistics, so the sample estimate (ppm of sample
    // pairs) is unbiased and scale-free; the sample is the LshSampleN
    // vectors with the smallest xxhash64(vec_id) — deterministic, one
    // linear TakeOrdered scan at any corpus size, then O(sample²)
    // bounded work per point. Reported per operating point: in-sample
    // candidate count, verified cos >= 0.9 pairs among them, and
    // cand_ppb. Points: the registry ANN index (10x48x1-bit probe,
    // seed family 0), the measured cos-0.4 dedup point (13x128xprobe),
    // and the cos-0.9 tuned point (16x24). Since r20 fully
    // SQL-expressible: md5-order sample selection, md5 integer planes,
    // integer-dot verify (>= 0.9e12), integer-division ppb — the whole
    // report is DuckDB-hash-checked; boundedness stays pinned in
    // ScaleSpec (sample size constant across tiers).
    QuerySpec.sql("q_sim_lsh_points", lshPointsOracle, "lsh_sample") { (s, d) =>
      val sample = lshSample(s, d)
      val sq = quantized(sample, "vec_id", "embedding")
      val tot = sample.agg(count(lit(1)).as("n_vec"))
      // All three points run through ONE join → distinct → verify →
      // aggregate pipeline keyed by `point`: the per-point spelling was
      // 3 x ~6 stages of pure scheduling floor on sample-sized data —
      // measured at ~3x the fused form's wall on identical results.
      val fams = Seq(
        ("registry_10x48_probe", LshBits, LshTables, true, 0),
        (s"dedup_${DedupLshBits}x$DedupLshTables",
          DedupLshBits, DedupLshTables, true, 7000),
        ("tuned_16x24", 16, 24, false, 7000))
      def labeled(df: DataFrame, label: String): DataFrame =
        df.select(lit(label).as("point"),
          col("vec_id"), col("t"), col("sig"))
      // one signature frame per family, shared by BOTH unions — the
      // signing kernel subtree appears once per family in the plan,
      // not once per union branch
      val famSigs = fams.map { case (l, b, t, p, sb) =>
        (l, b, p, sigRowsOfQ(sq, b, t, sb)) }
      val sigs = famSigs.map { case (l, _, _, sg) =>
        labeled(sg, l) }.reduce(_ unionByName _)
      val probes = famSigs.map { case (l, b, p, sg) =>
        labeled(if (p) probeRowsOf(sg, b) else sg, l)
      }.reduce(_ unionByName _)
      val cand = probes.toDF("point", "ida", "t", "sig")
        .join(sigs.toDF("point", "idb", "t", "sig"), Seq("point", "t", "sig"))
        .filter(col("ida") < col("idb"))
        .select("point", "ida", "idb")
        .distinct()
      val stats = cand
        .join(broadcast(sq.toDF("ida", "xa")), "ida")
        .join(broadcast(sq.toDF("idb", "xb")), "idb")
        .withColumn("dot", graft.functions.VectorFunctions
          .longShiftedDot(col("xa"), col("xb"), Clustering.ShiftQ))
        .groupBy("point")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("dot") >= 900000000000L, 1L).otherwise(0L))
            .as("n_verified"))
      // left-join from the literal point list so a zero-candidate
      // point still reports a row (with zeros) instead of vanishing
      s.range(1)
        .select(explode(array(fams.map(f => lit(f._1)): _*)).as("point"))
        .join(broadcast(stats), Seq("point"), "left")
        .crossJoin(broadcast(tot))
        .select(col("point"),
          col("n_vec").as("n_sample"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          coalesce(col("n_verified"), lit(0L)).as("n_verified"),
          expr("coalesce(n_candidates, 0L) * 2000000000L" +
            " div (n_vec * (n_vec - 1))").as("cand_ppb"))
        .orderBy("point")
    },

    // LSH ANN: hyperplane-signature buckets + multiprobe generate the
    // candidates (see lshCandidates), then the exact integer-L2 rerank
    // in the quantized basis (== cosine ranking — see [[quantized]])
    // cuts candidates to top-3 per query — the second scale path for
    // similarity search next to IVF, and the better one on unclustered
    // data. Thin wrapper: fixture query set over the general (qid, qv)
    // API. Since r20 DuckDB-hash-checked end to end: md5 integer
    // planes, integer signatures, integer rerank — same output shape
    // as the IVF/PQ family (qid, nid, d2, rn).
    QuerySpec.sql("q_sim_ann_lsh",
      s"""WITH $annEqCte,
        |${planeSigCtes("hp", "eq", LshBits, LshTables, 0, probe = true)},
        |lcand AS (SELECT DISTINCT q.qid, c.vec_id
        |  FROM qs q JOIN hppr p ON p.vec_id = q.qid
        |  JOIN hps c ON c.t = p.t AND c.sig = p.sig
        |    AND c.vec_id <> q.qid),
        |${annRerankSql("lcand")}""", "lsh_sigs") { (s, d) =>
      val eq = storeQ(s, d, "")
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
      lshCandidates(s, d, defaultQueries(s, d))
        .join(eq.toDF("qid", "qx"), "qid")
        .join(eq.toDF("vec_id", "vx"), "vec_id")
        .withColumn("d2", l2sq(col("qx"), col("vx")))
        .withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("vec_id").as("nid"), col("d2"), col("rn"))
        .orderBy("qid", "rn")
    },

    // MinHash-LSH candidate pairs: 16 hash functions, 4 bands x 4 rows.
    // Candidates = pairs sharing >= 1 band bucket. Recall vs exact
    // 3-gram Jaccard (q_dedup_ngram) is property-tested. Since r19 the
    // hash family is md5 over the gram TEXT ('i|gram' per function,
    // min as a STRING — lowercase-hex ordering is byte-identical in
    // both engines, the q_mix_source_cap pin) and the band key is md5
    // over the joined per-band minima — so the whole candidate
    // generation is DuckDB-hash-checked (r18 verdict #3). Since r20
    // the signatures live in the stage-cached capped band table
    // ([[minhashBandTableCapped]]) — the query itself hashes nothing
    // (the r19 clean-bench regression was this query re-paying the md5
    // family the stage had already paid), and the maintained
    // incremental index rides the SAME md5 kernel (uncapped), which is
    // what flipped q_dedup_incremental to oracle-checked.
    QuerySpec.sql("q_dedup_minhash", minhashOracle,
        "minhash_capped") { (s, d) =>
      val bands = minhashBandTableCapped(s, d)
      bands.toDF("ida", "band_a", "bh_a")
        .join(bands.toDF("idb", "band_b", "bh_b"),
          col("band_a") === col("band_b") && col("bh_a") === col("bh_b")
            && col("ida") < col("idb"))
        .groupBy("ida", "idb")
        .agg(count(lit(1)).as("n_bands"))
        .orderBy("ida", "idb")
    },

    // Incremental dedup against the maintained band index (see
    // dedupAgainstIndex): the fixture re-submits every 7th corpus doc
    // under a fresh id — verbatim copies are deterministically flagged,
    // word-reversed ones admitted. The daily-crawl shape: O(batch)
    // probe work against a stage-cached index, no corpus rescan. Since
    // r20 the index rides the md5 kernel, and this probe-only registry
    // row (no upsert → a pure corpus function) is DuckDB-hash-checked;
    // the genuinely stateful part (day-2 probes seeing day-1
    // admissions) stays pinned by SketchesSpec's incremental ≡
    // full-recompute equality.
    QuerySpec.sql("q_dedup_incremental", incrementalOracle,
        "minhash_sigs") { (s, d) =>
      dedupAgainstIndex(s, d, defaultBatch(s, d))
    },

    // SimHash near-dup: 64-bit signature from token hashes (majority
    // vote per bit), 4 x 16-bit bands for candidate generation, exact
    // Hamming distance <= 12 as the verify step. The signature table
    // is stage-cached ([[simhashSigs]]); the warm query is just the
    // band join + Hamming verify. Since r19 the bit family is
    // md5-derived, so the whole pipeline is DuckDB-hash-checked.
    QuerySpec.sql("q_dedup_simhash", simhashOracle, "simhash_sigs") { (s, d) =>
      val sig = simhashSigs(s, d)
      val bands = sig.select(col("doc_id"), col("simhash"), posexplode(
        array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bh")))
      bands.select(col("doc_id").as("ida"), col("simhash").as("sim_a"),
        col("band").as("band_a"), col("bh").as("bh_a"))
        .join(bands.select(col("doc_id").as("idb"), col("simhash").as("sim_b"),
          col("band").as("band_b"), col("bh").as("bh_b")),
          col("band_a") === col("band_b") && col("bh_a") === col("bh_b")
            && col("ida") < col("idb"))
        .select(col("ida"), col("idb"),
          expr("bit_count(sim_a ^ sim_b)").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 12)
        .orderBy("ida", "idb")
    },

    // IVF ANN over the stage-cached codebook + assignment (see
    // ivfCodebook / ivfSearch). Thin wrapper: fixture query set, with
    // the fixture-tuned nprobe = ceil(0.7 * C) supplied HERE (not as an
    // operator default) — the isotropic fixture needs a ~70% scan
    // fraction to hit the 0.8 recall bar, while the operator's real
    // knob on clustered corpora is 2–8 (see the ivfSearch scaladoc).
    // Recall >= 0.8 vs brute-force top-3 is property-tested at two
    // tiers (SketchesSpec), for this wrapper AND for held-out queries —
    // and since r19 the whole pipeline (integer Lloyd training, probe
    // ranks, exact rerank) is hash-checked against the DuckDB unroll.
    QuerySpec.sql("q_sim_ann_ivf",
      s"""WITH $annEqCte,
        |$ivfCtes,
        |${ivfProbeCtes(0.7)},
        |${annRerankSql("cand")}""", "ivf") { (s, d) =>
      ivfSearch(s, d, defaultQueries(s, d),
        nprobe = c => math.ceil(0.7 * c).toInt.max(2))
    },

    // Flat-PQ ANN over the stage-cached per-subspace codebook and the
    // 8-int compressed codes (see pqSearch): ADC-score everything from
    // codes, exact-rerank a ~17%-of-corpus pool (the isotropic-fixture
    // caveat — clustered corpora run 1-2% pools). Recall >= 0.8 vs
    // brute-force top-3 is property-tested at two tiers (SketchesSpec),
    // for the fixture query set and for held-out queries — and since
    // r19 the pipeline (per-subspace integer Lloyd, ADC ranks, exact
    // rerank) is hash-checked against the DuckDB unroll.
    QuerySpec.sql("q_sim_ann_pq",
      s"""WITH $annEqCte,
        |$pqCtes,
        |${pqAdcCtes(candRestrict = false, "greatest(32, nt.n // 6)")},
        |${annRerankSql("pool")}""", "pq") { (s, d) =>
      pqSearch(s, d, defaultQueries(s, d),
        rerank = n => math.max(32, (n / 6).toInt))
    },

    // IVF+PQ composed (see ivfpqSearch): probe cells, ADC-score only
    // the probed cells' codes, exact-rerank the pool. Both fixture
    // knobs open wide — the two pruning stages' misses COMPOUND on
    // isotropic data (measured since r12: with a bounded pool, wider
    // probes DEGRADE isotropic recall 0.941→0.893 as ADC near-ties
    // flood truth out of the pool — SCALE.md finding 3), so each must
    // run looser than it would alone; on the MEASURED clustered
    // regime IVFPQ tracks plain IVF exactly at nprobe 2-8 with
    // single-digit-percent scan (graft.AnnCurve, SCALE.md).
    QuerySpec.sql("q_sim_ann_ivfpq",
      s"""WITH $annEqCte,
        |$ivfCtes,
        |${ivfProbeCtes(0.8)},
        |$pqCtes,
        |${pqAdcCtes(candRestrict = true, "greatest(32, nt.n // 3)")},
        |${annRerankSql("pool")}""", "ivf", "pq") { (s, d) =>
      ivfpqSearch(s, d, defaultQueries(s, d),
        nprobe = c => math.ceil(0.8 * c).toInt.max(2),
        rerank = n => math.max(32, (n / 3).toInt))
    },

    // Distinct-document estimates served from the per-lang HLL sketch
    // table: one row per language plus the '*all*' row obtained purely
    // by MERGING the per-lang sketches — the documents table is never
    // re-touched for the rollup, which is the whole point of a
    // maintained sketch table at 100 TB. No DuckDB oracle (DataSketches
    // register state is engine-specific); SketchTableSpec pins the
    // tolerance-based merge contract (≤0.5% spread across merge orders,
    // replay safety, ≤2% vs rebuild) and ±5% accuracy vs exact.
    QuerySpec.noOracle("q_sketch_hll") { (s, d) =>
      val per = hllSketchTable(s, d)
      per.select(col("lang"),
          hll_sketch_estimate(col("sketch")).as("est_distinct"))
        .unionAll(per.agg(hll_union_agg(col("sketch")).as("u"))
          .select(lit("*all*").as("lang"),
            hll_sketch_estimate(col("u")).as("est_distinct")))
        .orderBy("lang")
    },

    // Word-frequency estimates from a Count-Min counter table: per-lang
    // rows plus the *all* rollup merged by exact counter addition —
    // documents are never re-touched for probes OR rollup. Since r20
    // the REGISTRY query builds the counters with md5-derived row
    // hashes (bucket = hexval8(md5('r|word')) mod width, estimate =
    // min over the depth rows) — pure integer counting, so the whole
    // sketch (build, rollup, probe) is DuckDB-hash-checked; the
    // MAINTAINED sketch-table family ([[sketchTable]], [[CmsSeed]])
    // keeps Spark's native count_min_sketch binary — the ~112 KB
    // fixed-size row the 100 TB maintenance story needs — declared
    // engine-specific, exactly the q_dedup_minhash precedent.
    // SketchTableSpec pins estimate >= exact for every probe,
    // overcount <= eps * tokens, and the absent word's estimate within
    // the same envelope, for THIS query; the binary table keeps its
    // merge == rebuild bit-for-bit pins.
    QuerySpec.sql("q_sketch_cms", cmsOracle, "cms") { (s, d) =>
      val counters = cmsRows(s, d)
      val langs = counters.select("lang").distinct()
      val probes = s.range(1)
        .select(explode(array(CmsProbes.map(lit): _*)).as("word"))
        .select(col("word"),
          explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
        .withColumn("j", cmsBucket(col("r"), col("word")))
      // |langs| x (|probes| x depth) product of two singleton-ish
      // frames (declared in PlanShapeSpec), then one narrow left join
      // against the counter table; a missing counter row is a zero
      // bucket.
      langs.crossJoin(broadcast(probes))
        .join(counters, Seq("lang", "r", "j"), "left")
        .groupBy("lang", "word")
        .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))
        .orderBy("lang", "word")
    }
  )

  /** q_sim_lsh_points' pinned sample (the `lsh_sample` chain): the
    * [[LshSampleN]] vectors first in (md5(vec_id), vec_id) order. A
    * stage, because it appears on ~16 plan leaves across the three
    * points (both candidate sides + both verify sides + the count
    * singleton), and re-running the TakeOrdered scan per leaf cost more
    * wall than all the sampled candidate work combined. A parquet leaf
    * also gives the optimizer real size stats, so every verify join
    * broadcasts. */
  private[graft] def lshSample(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, s"lsh_sample_md5_$LshSampleN") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(LshSampleN)
        // limit() lands on ONE partition; spread the sample so the
        // signature fan-out parallelizes instead of running one task
        .repartition(8)
    }

  /** q_sketch_cms' counter matrix (the `cms` chain), per lang plus the
    * `*all*` rollup: the maintained sketch artifact (at 100 TB: sketch
    * new partitions, add counters) — a stage, so the probe query pays
    * a 42-row join, not 7x the corpus tokens of md5 (the first r20
    * spelling re-counted per run: 0.26 -> 1.57 s; cached it probes in
    * ~0.2 s). */
  private[graft] def cmsRows(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "cmsrows_md5") {
      val toks = Tables.documents(s, d)
        .select(col("lang"),
          explode(graft.ops.TextSim.normTokens(col("text"))).as("word"))
      val perLang = toks.select(col("lang"), col("word"),
          explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
        .withColumn("j", cmsBucket(col("r"), col("word")))
        .groupBy("lang", "r", "j").agg(count(lit(1)).as("c"))
      val all = perLang.groupBy("r", "j").agg(sum("c").as("c"))
        .select(lit("*all*").as("lang"), col("r"), col("j"), col("c"))
      perLang.unionByName(all)
    }

  /** md5-family CMS bucket: hexval8(md5('r|word')) mod width — the
    * Spark spelling of the oracle's strpos polynomial. */
  private def cmsBucket(r: Column, word: Column): Column =
    conv(substring(md5(concat_ws("|", r, word)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  /** Hex value of the first 8 lowercase-hex chars of column/expr `x` —
    * the shared bucket-hash spelling of the md5 CMS family, emitted as
    * a strpos polynomial (DuckDB-portable). */
  private def hexVal8(x: String): String =
    (1 to 8).map(k =>
      s"(strpos('0123456789abcdef', substr($x, $k, 1)) - 1) * " +
        s"${1L << (4 * (8 - k))}")
      .mkString("(", " + ", ")")

  /** q_sketch_cms's DuckDB unroll: the same tokenizer, the same
    * md5-row-hash counter matrix, exact-addition *all* rollup, and the
    * min-over-depth probe — every value an exact integer. */
  private def cmsOracle: String = {
    val probeVals = CmsProbes.map(w => s"('$w')").mkString(", ")
    val hv = hexVal8("h")
    s"""WITH w AS (SELECT lang, ${TextSim.TokSql()} AS ws FROM documents),
      |tok AS (SELECT lang, unnest(ws) AS word FROM w),
      |th AS (SELECT lang, r.range AS r,
      |    md5(CAST(r.range AS VARCHAR) || '|' || word) AS h
      |  FROM tok, range(0, $CmsDepth) r),
      |tj AS (SELECT lang, r, $hv % $CmsWidth AS j FROM th),
      |cnt AS MATERIALIZED (SELECT lang, r, j,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM tj GROUP BY 1, 2, 3),
      |calla AS (SELECT '*all*' AS lang, r, j, CAST(sum(c) AS BIGINT) AS c
      |  FROM cnt GROUP BY 2, 3),
      |counters AS (SELECT lang, r, j, c FROM cnt
      |  UNION ALL SELECT lang, r, j, c FROM calla),
      |langs AS (SELECT DISTINCT lang FROM counters),
      |ph AS (SELECT p.word, r.range AS r,
      |    md5(CAST(r.range AS VARCHAR) || '|' || p.word) AS h
      |  FROM (VALUES $probeVals) p(word), range(0, $CmsDepth) r),
      |pj AS (SELECT word, r, $hv % $CmsWidth AS j FROM ph)
      |SELECT l.lang, p.word,
      |  CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est_count
      |FROM langs l CROSS JOIN pj p
      |LEFT JOIN counters c ON c.lang = l.lang AND c.r = p.r AND c.j = p.j
      |GROUP BY 1, 2 ORDER BY l.lang, p.word"""
  }
}
