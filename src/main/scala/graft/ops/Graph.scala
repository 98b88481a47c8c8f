package graft.ops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Graph analytics over the document similarity graph (nodes = docs,
  * edges = shared-rare-gram pairs from the stage-cached pair stats).
  *
  * PageRank here is the iterate-on-Spark template the cluster-label
  * fixpoint established (TextSim.clusterLabelsFixpoint): a driver loop
  * of shuffle-bounded rounds, each `localCheckpoint`ed so the logical
  * plan stays constant-size instead of doubling per round. Each round
  * is one join (ranks x out-edges) + one aggregation (sum of
  * contributions by destination) — the standard distributed PageRank
  * shape; at 100 TB both sides hash-partition on the node id and the
  * edge list is the reused stage artifact.
  *
  * Determinism: ranks are SCALED LONGS (1e9 = rank 1.0) and every
  * round is integer arithmetic only — contribution = rank / degree
  * (long division), damping = (15 * base + 85 * sum) / 100 — so sums
  * commute exactly and the result is bit-identical across runs,
  * partitionings, and merge orders (same rule as the codebooks'
  * integer-sum Lloyd rounds). GraphSpec replays the identical integer
  * recurrence single-threaded and asserts EXACT equality, and pins
  * bit-stability under a repartitioned edge list.
  *
  * Variant notes (both mirrored exactly in the spec's reference):
  * dangling nodes (degree 0) keep only the teleport term — their mass
  * is dropped, not redistributed; integer division truncates, so total
  * mass decays by < N * 100 scale units per round. Neither affects
  * the ranking order at any scale.
  */
object Graph {

  /** 1e9 scale: rank 1.0 == 1_000_000_000 scale units. */
  private val Scale = 1000000000L

  /** `iters` (>= 1) PageRank rounds (damping 0.85) over an UNDIRECTED
    * edge list (ida, idb) and a node frame with a `doc_id` column.
    * Returns (doc_id, deg, rank_scaled) — callers format rank_scaled.
    *
    * Unlike the label-propagation fixpoint, each round references the
    * previous ranks exactly ONCE (ranks' = conn ⨝ agg(ranks ⨝ eDeg)),
    * so the logical plan grows LINEARLY with iters — the whole
    * iteration compiles to one job of chained shuffle stages with no
    * per-round checkpoint barriers (measured 15 s -> 2.8 s at sf0.1
    * for 10 rounds vs the checkpoint-per-round formulation — the same
    * figure as the loop comment and SURVEY §2.11e). Only the edge
    * frame is checkpointed: every round references it, and its build
    * pipeline must not inline iters times. Production periodic
    * checkpointing (lineage bound for fault recovery on a real
    * cluster) would slot in every ~10 rounds without changing results.
    *
    * Two closed forms keep the loop frames minimal: isolated nodes
    * (deg 0) receive no mass and send none, so after round 1 their
    * rank is exactly the teleport term — they are appended at the end,
    * never iterated; and the sender's degree is joined into the edge
    * list ONCE, so a round is one join + one aggregation + one join. */
  /** Scale of edge weights inside the integer recurrence: weight 1.0
    * == 1e6 units, so r * w <= 1e9 * 1e6 = 1e15 stays under the 2^53
    * double-exactness bound the truncating casts rely on. */
  private val WScale = 1000000L

  /** Largest stage anchor (parquet bytes) [[anchored]] pins. */
  private val PinMaxBytes = 256L * 1024 * 1024

  /** Materialization anchor for a derived graph frame (r21): with a
    * stage context the frame is stage-cached parquet — built ONCE per
    * (session, corpus, input) and shared by both bench runs of a query
    * (at 100 TB these symmetrized/canonicalized/oriented edge tables
    * are maintained next to the edge list, exactly like the gram
    * postings) — without one it stays the per-run eager
    * localCheckpoint the generic API always used (tests, ad-hoc
    * graphs). Values are identical either way: every consumer
    * aggregates or joins, nothing reads row order (GraphSpec pins
    * bit-stability across partitionings). Measured on q_graph_pagerank:
    * the eIn/eDeg/conn rebuild was ~50-70% of every warm run.
    *
    * The stage key is `name` plus the semantic hash of `input`'s
    * analyzed plan, so callers with different inputs never share an
    * anchor and equal inputs (the warm pass and the registry) meet. */
  private def anchored(stage: Option[(SparkSession, String)], name: String,
      input: DataFrame)(df: => DataFrame): DataFrame = stage match {
    case Some((s, d)) =>
      val key = s"${name}_${Integer.toHexString(input.semanticHash())}"
      val anchor = graft.StageCache.memoized(s, d, key)(df)
      // The stage read is additionally PINNED (one eager checkpoint
      // per construction): the unrolled rounds reference these anchors
      // up to ~48 times per run (one per broadcast build), and each
      // un-pinned reference re-opened the stage parquet. The pin is
      // SIZE-GUARDED (r21 verdict #4): localCheckpoint stores the
      // frame in executor block-manager memory/disk, which is the
      // right trade only while the anchor is small — past PinMaxBytes
      // of parquet the anchor is served as the bare column-pruned
      // parquet read, the same at-scale story as every other
      // maintained table.
      if (graft.StageCache.bytesOf(s, d, key)(df) <= PinMaxBytes)
        anchor.localCheckpoint(true)
      else anchor
    case None => df.localCheckpoint(true)
  }

  // The three loop algorithms execute their rounds at CONSTRUCTION
  // time, so their first-frame anchors are factored out — the warm
  // pass builds just the anchor without running anyone's loop, and
  // the algorithm bodies use the identical builder (no drift).
  private def bfsSymAnchor(edges: DataFrame,
      stage: Option[(SparkSession, String)]): DataFrame =
    anchored(stage, "gr_bfs_sym", edges)(
      edges.select(col("ida").as("a"), col("idb").as("b"))
        .unionByName(edges.select(col("idb").as("a"), col("ida").as("b")))
        .distinct())

  private def ccCanonAnchor(edges: DataFrame,
      stage: Option[(SparkSession, String)]): DataFrame =
    anchored(stage, "gr_cc_canon", edges)(
      edges.select(greatest(col("ida"), col("idb")).as("hi"),
          least(col("ida"), col("idb")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct())

  private def kcoreEdgesAnchor(edges: DataFrame,
      stage: Option[(SparkSession, String)]): DataFrame =
    anchored(stage, "gr_kcore_e", edges)(edges.select(col("ida"), col("idb"))
      .filter(col("ida") =!= col("idb")).distinct())

  /** Force-build the graph family's stage-cached anchors (the
    * symmetrized/canonicalized/oriented edge tables every graph query
    * reads; at 100 TB: maintained tables). Constructing pagerank /
    * labelPropagation / triangleCounts builds their anchors without
    * executing the query; the loop algorithms' anchors build via the
    * shared builders above. */
  def warmGraphStages(s: SparkSession, d: String): Unit = {
    val ctx = Some((s, d))
    val docs = Tables.documents(s, d).select("doc_id")
    val e01 = graft.ops.TextSim.similarityEdges(s, d, minJac = 0.1)
    val e05 = graft.ops.TextSim.similarityEdges(s, d, minJac = 0.5)
    pagerank(docs, e01, iters = 1, stage = ctx)
    pagerank(docs, graft.ops.TextSim.similarityEdgesWeighted(s, d),
      iters = 1, weightCol = Some("jac"), stage = ctx)
    labelPropagation(docs, e01, iters = 1, stage = ctx)
    triangleCounts(e01, stage = ctx)
    bfsSymAnchor(e05, ctx)
    ccCanonAnchor(e05, ctx)
    kcoreEdgesAnchor(e01, ctx)
    ()
  }

  def pagerank(nodes: DataFrame, edges: DataFrame, iters: Int,
      weightCol: Option[String] = None,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // Checkpoint the caller's edge list FIRST: symmetrize + degree
    // reference it four times, and each reference would otherwise
    // re-run the upstream edge pipeline (4 scans of the pair-stats
    // parquet, the bulk of the fixed setup cost).
    //
    // Weighted mode: a (0, 1]-valued weight column (e.g. the pair
    // jaccard) scales each contribution by w / sum-of-sender-weights
    // instead of 1 / degree — similar documents pass more rank mass.
    // Weights enter as scaled longs, so the recurrence stays pure
    // integer arithmetic and bit-deterministic; with uniform weights
    // the rationals (r*w)/(deg*w) == r/deg are IDENTICAL before
    // truncation, so unweighted results are unchanged (pinned in
    // GraphSpec).
    // The unweighted path does NOT ride the weighted machinery with
    // w = const: (r*w)/(deg*w) == r/deg holds mathematically (pinned
    // in GraphSpec), but the constant column is not free at runtime —
    // it widens both checkpointed frames (eIn and the symmetrized
    // eDeg) by a long per edge and adds a multiply per contribution,
    // measured +0.38 s on the sf0.1 bench (r6 1.36 s → r7 1.73 s on a
    // quiet host). Branching keeps q_graph_pagerank on the narrow r6
    // plan; only q_graph_pagerank_w pays for weights.
    val weighted = weightCol.isDefined
    val sfx = if (weighted) "w" else ""
    // The caller's edge columns, weight scaled to longs — the input
    // both anchors are keyed by.
    val eSrc = weightCol match {
      case Some(wc) => edges.select(col("ida"), col("idb"),
        (col(wc) * WScale).cast("long").as("w"))
      case None => edges.select(col("ida"), col("idb"))
    }
    // Symmetrize, attach sender degree (+ total weight when weighted) —
    // the one frame every round scans — then the connected-node table
    // derived from it. Both anchored ([[anchored]]): stage-cached when
    // a corpus context exists, per-run localCheckpoint otherwise. The
    // eIn checkpoint only exists to stop sym + deg re-running the
    // upstream edge pipeline four times DURING the build, so it lives
    // inside the eDeg anchor's build closure.
    val eDeg = anchored(stage, s"gr_pr${sfx}_edeg", eSrc) {
      val eIn = eSrc.localCheckpoint(true)
      val wCols = if (weighted) Seq(col("w")) else Seq.empty
      val sym = eIn.select(col("ida").as("a") +: col("idb").as("b") +: wCols: _*)
        .unionByName(
          eIn.select(col("idb").as("a") +: col("ida").as("b") +: wCols: _*))
      val deg =
        if (weighted) sym.groupBy("a")
          .agg(count(lit(1)).as("deg"), sum("w").as("tw"))
        else sym.groupBy("a").agg(count(lit(1)).as("deg"))
      sym.join(deg, "a")
    }
    // conn is referenced by EVERY round's rank rebuild (and there is no
    // cross-plan subtree sharing), so without its own anchor the
    // distinct-over-edges would inline once per round.
    val conn = anchored(stage, s"gr_pr${sfx}_conn", eSrc)(
      eDeg.select(col("a").as("doc_id"), col("deg")).distinct())
    // N is a driver-side count of the NODE table (same documented
    // stats-pass family as the codebook sizing counts); with a corpus
    // context it is session-memoized, keyed like the anchors by the
    // node frame's plan hash.
    val n = stage match {
      case Some((s, d)) => graft.SessionMemo.memo(s,
        s"gr_nodecount|$d|${nodes.semanticHash()}")(
        java.lang.Long.valueOf(nodes.count())).longValue()
      case None => nodes.count()
    }
    require(n > 0, "pagerank needs a non-empty node frame")
    val base = Scale / n
    // Join strategy is deliberately LEFT TO CATALYST: with the conn
    // anchor the whole 10-round chain statically plans as pipelined
    // broadcast joins (22 BHJ / 0 SMJ in the executed plan), and an
    // interleaved within-JVM A/B against a SHUFFLE_HASH pin on the
    // ranks x eDeg join measured the default strictly faster (min
    // 1.70 s vs 2.39 s, avg 2.10 vs 2.52 at sf0.1) — the r9 attempt to
    // "protect" the plan with explicit hints (broadcast OR shuffle)
    // only ever made it slower, and the r8 driver-bench outlier
    // (6.2 s) did not reproduce under any variant, consistent with the
    // same-host contention that inflated that round's stage_build 4x.
    // At a scale where the rank frame outgrows broadcast, Catalyst's
    // size estimates flip these to the node-id-partitioned shuffle
    // joins a billion-node graph needs — the declarative plan already
    // IS the scale path.
    var ranks = conn.select(col("doc_id"), lit(base).as("r"))
    var round = 0
    while (round < iters) {
      // Column./ is DOUBLE division; the truncating casts restore
      // integer-division semantics exactly (every value here is a
      // non-negative integer < 2^53: r * w <= 1e9 * 1e6 = 1e15, and
      // the damping numerator <= 85x the 1e9 total rank mass — so the
      // double quotient is exact).
      // The graph is UNDIRECTED, so every connected node appears as a
      // destination b of some edge whose sender has a rank row —
      // contribs covers EXACTLY the connected node set every round.
      // The inner join back onto the checkpointed conn frame is
      // therefore an identity on rows, but it is load-bearing for the
      // PLAN: conn's known (checkpointed) size anchors the static
      // cost estimate of every round's output, so Catalyst plans all
      // iters rounds as pipelined broadcast joins up front instead of
      // AQE re-planning one shuffle stage at a time — a sequential
      // materialization barrier per round that dominated wall-clock
      // (measured ~0.7 s/round -> ~0.1 s/round at sf0.1; with the
      // edge-list checkpoints, 10 rounds run in ~2.8 s total).
      val contribs = ranks
        .join(eDeg, ranks("doc_id") === eDeg("a"))
        .select(col("b"),
          (if (weighted) (col("r") * col("w")) / col("tw")
           else col("r") / col("deg")).cast("long").as("c"))
        .groupBy(col("b").as("doc_id"))
        .agg(((lit(15L) * base + lit(85L) * sum("c")) / 100L).cast("long")
          .as("r"))
      ranks = conn.select("doc_id").join(contribs, "doc_id")
      round += 1
    }
    ranks.join(conn, "doc_id")
      .select(col("doc_id"), col("deg"), col("r").as("rank_scaled"))
      .unionByName(nodes.select(col("doc_id"))
        .join(conn.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(0L).as("deg"),
          lit(15L * base / 100L).as("rank_scaled")))
  }

  /** Multi-source BFS: hop distance from `seeds` (dist 0) to every node
    * reachable within `maxHops`, -1 beyond/unreachable. Frontier-only
    * expansion — each round joins ONLY the rim settled last round
    * against the symmetrized edge list, anti-joins out already-settled
    * nodes, and checkpoints both frames eagerly (same lineage-cutting
    * discipline as [[connectedComponents]]; without it round r's plan
    * re-derives rounds 1..r-1). Work per round is O(frontier-adjacent
    * edges); the loop exits early when the frontier drains, so a
    * low-diameter graph never pays for the cap. */
  def bfsDistances(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
      maxHops: Int,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    val sym = bfsSymAnchor(edges, stage)
    var settled = seeds.select(col("doc_id"), lit(0L).as("dist"))
      .distinct().localCheckpoint(true)
    var frontier = settled.select("doc_id")
    var h = 1
    var drained = frontier.isEmpty
    while (h <= maxHops && !drained) {
      val nxt = frontier.select(col("doc_id").as("a"))
        .join(sym, "a")
        .select(col("b").as("doc_id")).distinct()
        .join(settled.select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      drained = nxt.isEmpty
      if (!drained) {
        settled = settled
          .unionByName(nxt.select(col("doc_id"), lit(h.toLong).as("dist")))
          .localCheckpoint(true)
        frontier = nxt
      }
      h += 1
    }
    nodes.select("doc_id")
      .join(settled, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("dist"), lit(-1L)).as("dist"))
  }

  /** The (hi, lo) edge-set checksum of [[connectedComponents]]: row
    * count and the decimal sum of pair hashes (decimal: long hashes
    * overflow an ANSI-mode long sum, the clusterLabelsFixpoint fix). */
  private def ccChecksumCols: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)).as("n"),
    coalesce(sum(xxhash64(col("hi"), col("lo")).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  private[graft] def ccChecksum(e: DataFrame): (Long, BigDecimal) = {
    val r = e.agg(ccChecksumCols.head, ccChecksumCols.tail: _*).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** How long a round waits for its observed checksum. The metrics
    * arrive with the checkpoint's execution-end listener event, which
    * trails the (already finished) job by milliseconds; a bus backed
    * up past this bound costs one recount, not a hang. */
  private val ObserveWait: FiniteDuration = 30.seconds

  /** The checksum `obs` observed on `out`, or — if it has not arrived
    * within `bound` — the same checksum recounted from `out`. */
  private[graft] def observedChecksum(obs: org.apache.spark.sql.Observation,
      out: DataFrame, bound: FiniteDuration = ObserveWait): (Long, BigDecimal) =
    try {
      val r = Await.result(obs.future, bound)
      (r.getAs[Long]("n"), BigDecimal(r.getAs[java.math.BigDecimal]("h")))
    } catch { case _: java.util.concurrent.TimeoutException => ccChecksum(out) }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * rounds — the O(log n)-round algorithm, vs min-label propagation's
    * O(diameter) (TextSim.clusterLabelsFixpoint): every round HALVES
    * long path structures by rewiring nodes directly toward their
    * component minimum, so a 10^6-hop chain needs ~20 rounds, not
    * 10^6. Skew note: a hot vertex's fan-in lands on its component
    * min via per-node min AGGREGATIONS (map-side combinable), never a
    * per-key list — the same defense CappedIdSet gives the postings
    * build.
    *
    * Round shape (each a bounded shuffle pair over the canonical
    * (hi, lo) edge set, checkpointed — each round's set is referenced
    * by symmetrize + two grouped mins, and plans must not re-inline):
    *  - large-star: every node u links its LARGER neighbors to
    *    m = least(u, min N(u));
    *  - small-star: every node hi links its smaller neighbors and
    *    itself to m = min of those.
    * Fixpoint (edge checksum stable — count + sum of pair hashes;
    * collision odds ~2^-64, and a collision could only END the loop a
    * round early, never corrupt edges) is a star forest rooted at each
    * component's MINIMUM id — the same labels the propagation fixpoint
    * yields, asserted equal in GraphSpec on two graphs. Nodes absent
    * from the edge set are their own singleton components. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxRounds: Int = 30,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("a"), col("b")).as("hi"),
          least(col("a"), col("b")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
    // The per-round convergence checksum FOLDS into the round's eager
    // checkpoint (r22, verdict #6): Dataset.observe collects the count
    // and hash sum from the SAME pass localCheckpoint(true) runs to
    // materialize the round — the separate one-row aggregate job per
    // round disappears (~1 job/round; cc was the slowest graph query
    // at 28 jobs). Identical convergence test: same count, same
    // decimal hash sum, compared round-over-round.
    def ckptWithChecksum(pre: DataFrame): (DataFrame, (Long, BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val out = pre.observe(obs, ccChecksumCols.head, ccChecksumCols.tail: _*)
        .localCheckpoint(true)
      (out, observedChecksum(obs, out))
    }
    var e = ccCanonAnchor(edges, stage)
    var sum0 = ccChecksum(e)
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val sym = e.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(e.select(col("lo").as("u"), col("hi").as("v")))
      val minsL = sym.groupBy("u")
        .agg(least(min("v"), col("u")).as("m"))
      val e1 = canon(sym.join(minsL, "u").filter(col("v") > col("u"))
          .select(col("v").as("a"), col("m").as("b")))
        .localCheckpoint(true)
      val minsS = e1.groupBy("hi").agg(min("lo").as("m"))
      val (e2, sum2) = ckptWithChecksum(
        canon(e1.join(minsS, "hi")
          .select(col("lo").as("a"), col("m").as("b"))
          .unionByName(minsS.select(col("hi").as("a"), col("m").as("b")))))
      done = sum2 == sum0
      e = e2
      sum0 = sum2
      round += 1
    }
    require(done, s"connectedComponents did not converge in $maxRounds rounds")
    nodes.select(col("doc_id"))
      .join(e.select(col("hi").as("doc_id"), col("lo").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster"))
  }

  /** Per-node triangle participation counts over a CANONICAL
    * (ida < idb) edge list — ordered-wedge counting with the
    * (degree, id) DEGREE ORIENTATION: every edge points from its
    * lower-(degree, id) endpoint to the higher one, wedges form from
    * a node's out-neighbor pairs, and a semi-join against the
    * oriented edges keeps the closed ones. Degree orientation is the
    * at-scale load-bearing choice: it bounds EVERY node's out-degree
    * to O(sqrt(m)) — a celebrity vertex with 10^7 neighbors builds
    * wedges only from the few high-degree nodes above it, not 10^14
    * neighbor pairs — while counting each triangle exactly once from
    * its lowest-ordered corner. The output (who is in how many
    * triangles) is orientation-invariant, so the DuckDB oracle spells
    * the simpler ID-ordered form and GraphSpec brute-forces random
    * graphs. Nodes in no triangle are absent (count 0). */
  def triangleCounts(edges: DataFrame,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    val canon = edges.select(col("ida"), col("idb"))
    val deg = canon
      .select(explode(array(col("ida"), col("idb"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("dg"))
    // Orient by (degree, id); carry the destination's key so wedge
    // pairs (v, w) can be ordered without re-joining degrees. The
    // oriented list is referenced three times (two wedge sides + the
    // closing semi-join) — checkpoint it.
    val out = anchored(stage, "gr_tri_out", canon)(canon
      .join(deg.select(col("id").as("ida"), col("dg").as("da")), "ida")
      .join(deg.select(col("id").as("idb"), col("dg").as("db")), "idb")
      .select(
        when(struct(col("da"), col("ida")) < struct(col("db"), col("idb")),
          col("ida")).otherwise(col("idb")).as("src"),
        when(struct(col("da"), col("ida")) < struct(col("db"), col("idb")),
          col("idb")).otherwise(col("ida")).as("dst"),
        // Field names must match for the CASE branches to share a
        // struct type — alias both sides to (d, i).
        when(struct(col("da"), col("ida")) < struct(col("db"), col("idb")),
          struct(col("db").as("d"), col("idb").as("i")))
          .otherwise(struct(col("da").as("d"), col("ida").as("i"))).as("dk")))
    val wedges = out.select(col("src"), col("dst").as("v"), col("dk").as("vk"))
      .join(out.select(col("src"), col("dst").as("w"), col("dk").as("wk")),
        "src")
      .filter(col("vk") < col("wk"))
    val tri = wedges.join(
      out.select(col("src").as("v"), col("dst").as("w")),
      Seq("v", "w"), "left_semi")
    tri.select(explode(array(col("src"), col("v"), col("w"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** k-core: the maximal subgraph in which every node keeps degree
    * >= k, by iterative peeling — drop under-degree nodes, restrict
    * the edge list to survivors, repeat until stable. The classic
    * graph-side quality filter (spam/link farms and boilerplate
    * near-dup rings live in shallow cores; densely-corroborated
    * content survives deep ones). Each round is two bounded shuffles
    * (degree count + edge restriction); rounds = the peeling depth —
    * real graphs peel in a handful, a worst-case path peels O(n/2)
    * (maxRounds guards pathology loudly). Returns the surviving
    * (doc_id, core_deg) — degree WITHIN the core, >= k by
    * construction. Empty result when no k-core exists. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 100,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    var e = kcoreEdgesAnchor(edges, stage)
    var nPrev = -1L
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      val deg = e.select(explode(array(col("ida"), col("idb"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("dg"))
      val keep = deg.filter(col("dg") >= k).select("id").localCheckpoint(true)
      val n = keep.count()
      if (n == nPrev) done = true // node set only shrinks: same count = same set
      else {
        e = e.join(keep.select(col("id").as("ida")), "ida")
          .join(keep.select(col("id").as("idb")), "idb")
          .select("ida", "idb").localCheckpoint(true)
        nPrev = n
      }
      rounds += 1
    }
    require(done, s"kCore did not stabilize in $maxRounds rounds")
    e.select(explode(array(col("ida"), col("idb"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** Peel rounds unrolled in [[kcoreOracleSql]]. Peeling is MONOTONE —
    * once the node set stabilizes, further rounds are identity — so
    * the unrolled text is exact on any graph whose peeling converges
    * within this many edge-restriction rounds, and over-provisioning
    * rounds can never make it wrong, only slower. The fixtures peel in
    * ONE round at both oracle tiers (measured: sf0.001 and sf0.01 both
    * stabilize after a single restriction); 4 leaves a 4x margin.
    * GraphSpec pins the precondition: [[kCore]] run with
    * maxRounds = KcoreOracleRounds must stabilize on the fixture graph
    * — if a regeneration ever grows a deeper-peeling graph, that spec
    * fails loudly instead of the oracle silently going wrong.
    */
  val KcoreOracleRounds = 4

  /** Synchronous label-propagation rounds unrolled in [[lpaOracleSql]]
    * — fixed like PageRank's 10 (the round count IS the contract, not
    * a convergence test), so the oracle is bit-exact on any graph. */
  val LpaRounds = 4

  /** `iters` SYNCHRONOUS label-propagation rounds over an undirected
    * edge list (ida, idb): every node starts as its own label, and
    * each round every connected node simultaneously adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label.
    * Integer counts + a total tie-break make each round — and thus the
    * whole run — bit-deterministic across partitionings and engines
    * (no float, no ordering dependence), unlike classic randomized
    * LPA. Isolated nodes keep their own label (closed form, appended
    * at the end like PageRank's teleport-only nodes).
    *
    * Shape: each round is one join (labels × symmetric edges) + two
    * hash aggregates (count per (node, label), then argmax-as-
    * aggregate min(struct(-c, lab)) — no window over the fact scan).
    * Labels are referenced once per round, so the logical plan grows
    * linearly with iters and compiles to one job (the PageRank
    * lesson); only the edge frame is checkpointed, because every
    * round references it. Returns (doc_id, community, csize). */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int,
      stage: Option[(SparkSession, String)] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // The symmetrized neighbor list is the frame EVERY round scans, so
    // it (not the raw edge list) is the anchored artifact.
    val nb = anchored(stage, "gr_lpa_sym", edges) {
      val e = edges.select(col("ida"), col("idb")).localCheckpoint(true)
      e.unionByName(e.select(col("idb").as("ida"), col("ida").as("idb")))
    }
    var lab = nb.select(col("ida").as("id")).distinct()
      .withColumn("lab", col("id"))
    var i = 0
    while (i < iters) {
      lab = nb.join(lab, nb("idb") === lab("id"))
        .groupBy(nb("ida"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("ida"))
        .agg(min(struct((-col("c")).as("negc"), col("lab").as("lab")))
          .as("m"))
        .select(col("ida").as("id"), col("m.lab").as("lab"))
      i += 1
    }
    val res = nodes.select(col("doc_id"))
      .join(lab, nodes("doc_id") === lab("id"), "left")
      .select(col("doc_id"),
        coalesce(col("lab"), col("doc_id")).as("community"))
    val sz = res.groupBy("community").agg(count(lit(1)).as("csize"))
    res.join(sz, "community")
      .select(col("doc_id"), col("community"), col("csize"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for q_graph_lpa: the same gram-built jac >= 0.1
    * edge set, then [[LpaRounds]] unrolled synchronous rounds — each
    * the argmax-by-(count desc, label asc) over neighbor labels via a
    * row_number window (the oracle may window; the Spark side must
    * not). Bit-exact by construction: integer counts, total
    * tie-break, fixed round count. */
  def lpaOracleSql(iters: Int = LpaRounds): String = {
    val rounds = (1 to iters).map { r =>
      s"""l$r AS MATERIALIZED (SELECT src AS id, lab FROM (
        |    SELECT n.src, l.lab, count(*) AS c, row_number() OVER (
        |      PARTITION BY n.src ORDER BY count(*) DESC, l.lab) AS rn
        |    FROM nb n JOIN l${r - 1} l ON l.id = n.dst
        |    GROUP BY n.src, l.lab) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH $gramStatCtes,
      |e0 AS MATERIALIZED (SELECT ida, idb
      |      FROM p JOIN sz sa ON p.ida = sa.doc_id
      |             JOIN sz sb ON p.idb = sb.doc_id
      |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.1),
      |nb AS MATERIALIZED (SELECT ida AS src, idb AS dst FROM e0
      |      UNION ALL SELECT idb, ida FROM e0),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lab FROM nb),
      |$rounds,
      |res AS (SELECT d.doc_id, coalesce(l.lab, d.doc_id) AS community
      |  FROM documents d LEFT JOIN l$iters l ON l.id = d.doc_id),
      |csz AS (SELECT community, CAST(count(*) AS BIGINT) AS csize
      |  FROM res GROUP BY 1)
      |SELECT r.doc_id, r.community, s.csize
      |FROM res r JOIN csz s USING (community)
      |ORDER BY doc_id"""
  }

  /** DuckDB oracle for q_graph_kcore: the same gram-built jac >= 0.1
    * edge set the triangles oracle spells, then [[KcoreOracleRounds]]
    * unrolled peel rounds — each round keeps nodes with degree >= k
    * (d_r) and restricts the edge list to kept endpoints (e_r) —
    * finishing with the per-node degree inside the surviving core.
    * WITH RECURSIVE cannot express this (the recursive term would need
    * an aggregate over the recursive reference), so the rounds are
    * generated as a flat CTE chain. Each round CTE is AS MATERIALIZED:
    * every round references its predecessor twice (degree count +
    * edge restriction), so inlining would recompute the gram-pair
    * build 2^rounds times.
    */
  /** The DuckDB spelling of the gram-built pair stats every graph
    * oracle starts from (identical to the triangles oracle's prefix):
    * tokenized docs → distinct word-3-grams → df-capped gram index →
    * per-doc gram counts (sz) → shared-gram pair counts (p). */
  private def gramStatCtes: String =
    s"""w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
      |           FROM documents),
      |g0 AS (SELECT DISTINCT doc_id,
      |        unnest([array_to_string(ws[i:i+2], ' ')
      |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
      |      FROM w),
      |ok AS (SELECT gram FROM g0 GROUP BY gram
      |       HAVING count(*) <= ${graft.ops.TextSim.DfCap}),
      |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |      GROUP BY a.doc_id, b.doc_id)"""

  def kcoreOracleSql(k: Int): String = {
    val peel = (1 to KcoreOracleRounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT id FROM (
        |         SELECT ida AS id FROM e${r - 1}
        |         UNION ALL SELECT idb FROM e${r - 1}) t
        |       GROUP BY id HAVING count(*) >= $k),
        |e$r AS MATERIALIZED (SELECT e.ida, e.idb FROM e${r - 1} e
        |       JOIN d$r da ON e.ida = da.id
        |       JOIN d$r db ON e.idb = db.id)"""
    }.mkString(",\n")
    s"""WITH $gramStatCtes,
      |e0 AS MATERIALIZED (SELECT ida, idb
      |      FROM p JOIN sz sa ON p.ida = sa.doc_id
      |             JOIN sz sb ON p.idb = sb.doc_id
      |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.1),
      |$peel
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
      |  SELECT ida AS doc_id FROM e$KcoreOracleRounds
      |  UNION ALL SELECT idb FROM e$KcoreOracleRounds) t
      |GROUP BY doc_id
      |ORDER BY doc_id"""
  }

  /** DuckDB oracle for q_graph_pagerank[_w]: the SAME integer-scaled
    * recurrence [[pagerank]] runs, unrolled `iters` rounds over the
    * gram-built jac >= 0.1 edge set. This is NOT an approximation
    * bounded by a validity precondition (the kcore/CC pattern): every
    * operation in the recurrence — long products under 2^53, IEEE
    * double division, truncation — is deterministic and spelled
    * identically here (`trunc(CAST(r*w AS DOUBLE)/tw)` mirrors
    * Spark's `((r*w)/tw).cast("long")`, `//` mirrors Scala Long
    * division on the non-negative operands), so the oracle is
    * bit-exact by construction, tier-independent. Round CTEs are
    * MATERIALIZED; each references its predecessor once, so this is
    * linear work either way — materialization just keeps the edge
    * CTE from re-inlining. Isolated documents take the closed-form
    * teleport rank, exactly as the Spark side appends them.
    */
  def pagerankOracleSql(weighted: Boolean, iters: Int = 10): String = {
    val wExpr =
      if (weighted) "CAST(trunc(round(c / (sa.n + sb.n - c), 6) * 1000000.0) AS BIGINT)"
      else "CAST(1000000 AS BIGINT)"
    val rounds = (1 to iters).map { i =>
      s"""rk$i AS MATERIALIZED (
        |  SELECT t.doc_id,
        |    CAST(trunc(((SELECT 15 * base FROM bs) + 85 * t.s) / 100.0)
        |      AS BIGINT) AS r
        |  FROM (SELECT e.b AS doc_id,
        |          CAST(sum(CAST(trunc(CAST(k.r * e.w AS DOUBLE) / e.tw)
        |            AS BIGINT)) AS BIGINT) AS s
        |        FROM rk${i - 1} k JOIN ed e ON k.doc_id = e.a
        |        GROUP BY e.b) t
        |  JOIN conn USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH $gramStatCtes,
      |ew AS MATERIALIZED (SELECT ida, idb, $wExpr AS w
      |      FROM p JOIN sz sa ON p.ida = sa.doc_id
      |             JOIN sz sb ON p.idb = sb.doc_id
      |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.1),
      |ed AS MATERIALIZED (
      |  SELECT a, b, w,
      |    CAST(count(*) OVER (PARTITION BY a) AS BIGINT) AS deg,
      |    CAST(sum(w) OVER (PARTITION BY a) AS BIGINT) AS tw
      |  FROM (SELECT ida AS a, idb AS b, w FROM ew
      |        UNION ALL SELECT idb, ida, w FROM ew) s2),
      |conn AS MATERIALIZED (SELECT DISTINCT a AS doc_id, deg FROM ed),
      |bs AS MATERIALIZED (
      |  SELECT 1000000000 // count(*) AS base FROM documents),
      |rk0 AS MATERIALIZED (
      |  SELECT doc_id, CAST((SELECT base FROM bs) AS BIGINT) AS r
      |  FROM conn),
      |$rounds,
      |res AS (
      |  SELECT c2.doc_id, c2.deg, k.r AS rs
      |  FROM rk$iters k JOIN conn c2 USING (doc_id)
      |  UNION ALL
      |  SELECT d.doc_id, CAST(0 AS BIGINT) AS deg,
      |    CAST((SELECT (15 * base) // 100 FROM bs) AS BIGINT) AS rs
      |  FROM documents d
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM conn))
      |SELECT doc_id, deg, round(rs / 1000000000.0, 6) AS rank
      |FROM res
      |ORDER BY rank DESC, doc_id"""
  }

  /** Every graph query reads the `graph` chain's stages. */
  private def q(name: String, oracle: String)(
      df: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec.sql(name, oracle, "graph")(df)

  val specs: Seq[QuerySpec] = Seq(

    // Document centrality on the shared-gram graph: 10 deterministic
    // integer rounds; output the scaled rank as a rounded double.
    // Oracle-checked since r7: the recurrence is pure deterministic
    // arithmetic, so [[pagerankOracleSql]] unrolls the SAME 10 rounds
    // in DuckDB and matches bit-exact — no validity precondition
    // needed. GraphSpec additionally pins exact equality to the
    // single-threaded integer reference and bit-stability across
    // partitionings; goldens pin the fixture output.
    q("q_graph_pagerank", pagerankOracleSql(weighted = false)) {
      (s, d) =>
        pagerank(Tables.documents(s, d).select("doc_id"),
            graft.ops.TextSim.similarityEdges(s, d), iters = 10,
            stage = Some((s, d)))
          .select(col("doc_id"), col("deg"),
            round(col("rank_scaled") / 1e9, 6).as("rank"))
          .orderBy(col("rank").desc, col("doc_id"))
    },

    // Edge-weighted centrality: the pair jaccard scales each
    // contribution, so similar documents pass more rank mass. Same
    // integer recurrence and stage-cached pair-stats read as the
    // unweighted query; oracle-checked since r7 (the weighted
    // [[pagerankOracleSql]], bit-exact by the same argument).
    // GraphSpec pins weighted ≡ the single-threaded weighted
    // reference and that uniform weights leave ranks bit-unchanged;
    // goldens pin the fixture output.
    q("q_graph_pagerank_w", pagerankOracleSql(weighted = true)) {
      (s, d) =>
        pagerank(Tables.documents(s, d).select("doc_id"),
            graft.ops.TextSim.similarityEdgesWeighted(s, d), iters = 10,
            weightCol = Some("jac"), stage = Some((s, d)))
          .select(col("doc_id"), col("deg"),
            round(col("rank_scaled") / 1e9, 6).as("rank"))
          .orderBy(col("rank").desc, col("doc_id"))
    },

    // 2-core of the jac >= 0.1 similarity graph: documents that stay
    // mutually corroborated after shallow tendrils peel away —
    // boilerplate rings and one-off matches drop out. Oracle-checked
    // since r7: [[kcoreOracleSql]] unrolls the peeling (exactness
    // precondition pinned in GraphSpec); besides that, GraphSpec pins
    // K4-with-tail peeling at k=2/3/4 and equality to sequential
    // peeling; goldens pin the fixture output.
    q("q_graph_kcore", kcoreOracleSql(k = 2)) { (s, d) =>
      kCore(graft.ops.TextSim.similarityEdges(s, d, minJac = 0.1), k = 2,
        stage = Some((s, d)))
    },

    // True connected components over the jac >= 0.5 near-dup graph —
    // the O(log n) alternative to q_dedup_cluster's propagation (same
    // oracle text: both label every doc with its component MIN, and
    // the oracle's two unrolled rounds are exact on graphs whose
    // components converge within 2 hops of the min — the fixtures, per
    // SketchesSpec; GraphSpec pins CC ≡ the general fixpoint besides).
    q("q_graph_cc", graft.ops.TextSim.ClusterOracleSql) {
      (s, d) =>
        connectedComponents(Tables.documents(s, d).select("doc_id"),
            graft.ops.TextSim.similarityEdges(s, d, minJac = 0.5),
            stage = Some((s, d)))
          .orderBy("doc_id")
    },

    // Degree distribution of the jac >= 0.5 near-dup graph — the
    // one-glance health check on an edge build (a fat tail = a gram-df
    // cap set too high, a near-empty histogram = a threshold set too
    // tight). Zero-degree docs included so the histogram sums to
    // |documents| at any scale. One degree aggregation + one
    // |degrees|-sized histogram aggregation.
    q("q_graph_degree", graft.ops.TextSim.DegreeOracleSql) {
      (s, d) =>
        val e = graft.ops.TextSim.similarityEdges(s, d, minJac = 0.5)
        val sym = e.select(col("ida").as("doc_id"))
          .unionByName(e.select(col("idb").as("doc_id")))
        val deg = sym.groupBy("doc_id").agg(count(lit(1)).as("deg0"))
        Tables.documents(s, d).select("doc_id")
          .join(deg, Seq("doc_id"), "left")
          .select(coalesce(col("deg0"), lit(0L)).as("deg"))
          .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
          .orderBy("deg")
    },

    // Multi-source BFS hop distance to the nearest ENGLISH document over
    // the jac >= 0.5 near-dup graph — "how many near-dup hops from the
    // trusted seed set" is the graph-proximity trust signal a curation
    // pipeline propagates from a vetted subcorpus. Capped at 6 hops in
    // BOTH engines (the oracle's recursive CTE carries the same cap);
    // unreachable docs report -1. Frontier-only expansion: each round
    // joins only the newly-settled rim against the edge list, so total
    // work is O(edges x diameter-capped rounds), never
    // rounds x |nodes| — the textbook distributed BFS shape.
    q("q_graph_bfs", graft.ops.TextSim.BfsOracleSql) { (s, d) =>
      val docs = Tables.documents(s, d)
      bfsDistances(docs.select("doc_id"),
          graft.ops.TextSim.similarityEdges(s, d, minJac = 0.5),
          docs.filter(col("lang") === "en").select("doc_id"),
          maxHops = 6, stage = Some((s, d)))
        .orderBy("doc_id")
    },

    // Community detection by deterministic synchronous label
    // propagation over the jac >= 0.1 similarity graph — coarser than
    // q_graph_cc's exact components (it groups by label-flow majority,
    // not mere reachability) and the standard cheap community pass a
    // curation pipeline runs to find content neighborhoods (template
    // farms, mirrored sites) that near-dup thresholds are too strict
    // to join. 4 fixed rounds, ties to the smallest label — the whole
    // recurrence is integer argmax with a total tie-break, so the
    // unrolled oracle matches bit-exact with no validity precondition.
    q("q_graph_lpa", lpaOracleSql()) { (s, d) =>
      labelPropagation(Tables.documents(s, d).select("doc_id"),
        graft.ops.TextSim.similarityEdges(s, d, minJac = 0.1),
        iters = LpaRounds, stage = Some((s, d)))
    },

    // Triangle participation per document on the jac >= 0.1 similarity
    // graph — the clustering-coefficient numerator; near-dup cliques
    // surface as high counts. Oracle spells the identical ordered-wedge
    // + closing-join computation over the same gram-built edge set.
    q("q_graph_triangles",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram
        |       HAVING count(*) <= ${graft.ops.TextSim.DfCap}),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id),
        |j AS (SELECT ida, idb
        |      FROM p JOIN sz sa ON p.ida = sa.doc_id
        |             JOIN sz sb ON p.idb = sb.doc_id
        |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.1),
        |t AS (SELECT e1.ida AS a, e1.idb AS b, e2.idb AS c
        |      FROM j e1 JOIN j e2 ON e1.idb = e2.ida
        |      JOIN j e3 ON e3.ida = e1.ida AND e3.idb = e2.idb),
        |corners AS (SELECT a AS doc_id FROM t
        |  UNION ALL SELECT b FROM t
        |  UNION ALL SELECT c FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tri
        |FROM corners GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      triangleCounts(graft.ops.TextSim.similarityEdges(s, d, minJac = 0.1),
        stage = Some((s, d)))
    }
  )
}
