package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[ops.Graph.pagerank]]: the distributed integer recurrence must be
  * EXACTLY the single-threaded one — scaled-long arithmetic makes the
  * contribution sums commute, so this is equality, not tolerance — and
  * bit-stable under a different edge partitioning.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._

  private val Scale = 1000000000L

  /** The identical recurrence, single-threaded: long division for
    * contributions, (15*base + 85*sum)/100 damping, dangling nodes
    * keep only the teleport term. */
  private def reference(nodes: Seq[Long], edges: Seq[(Long, Long)],
      iters: Int): Map[Long, Long] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val deg = adj.map { case (k, vs) => k -> vs.length.toLong }
    val base = Scale / nodes.length
    var r = nodes.map(_ -> base).toMap
    (0 until iters).foreach { _ =>
      val c = r.collect { case (u, ru) if deg.contains(u) => u -> ru / deg(u) }
      val inSum = nodes.map { v =>
        v -> adj.getOrElse(v, Nil).map(u => c.getOrElse(u, 0L)).sum
      }.toMap
      r = nodes.map(v => v -> (15L * base + 85L * inSum(v)) / 100L).toMap
    }
    r
  }

  test("distributed PageRank equals the integer reference EXACTLY") {
    val nodes = Tables.documents(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val edges = ops.TextSim.similarityEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = reference(nodes, edges, iters = 10)
    val got = ops.Graph.pagerank(
        Tables.documents(spark, sf).select("doc_id"),
        ops.TextSim.similarityEdges(spark, sf), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got.keySet === want.keySet)
    val diffs = want.collect {
      case (id, w) if got(id) != w => (id, w, got(id)) }
    assert(diffs.isEmpty, s"ranks diverge (id, want, got): ${diffs.take(5)}")
  }

  test("weighted PageRank: uniform weights equal unweighted EXACTLY; skewed weights match a weighted reference") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val nodes = (1L to 8L).toDF("doc_id")
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.2), (3L, 4L, 0.7),
      (1L, 4L, 0.5), (4L, 5L, 1.0), (6L, 7L, 0.3))
      .toDF("ida", "idb", "jac")
    // Uniform weights: the per-edge rationals (r*w)/(deg*w) == r/deg
    // are identical before truncation, so the scaled ranks must be
    // bit-equal to the unweighted run.
    val uni = ops.Graph.pagerank(nodes,
        edges.withColumn("one", lit(1.0)), 8, weightCol = Some("one"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val plain = ops.Graph.pagerank(nodes, edges, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(uni === plain)
    // Skewed weights: replay the same integer recurrence with scaled
    // weights single-threaded and require exact equality.
    val WS = 1000000L
    val w = Seq((1L, 2L, (0.9 * WS).toLong), (2L, 3L, (0.2 * WS).toLong),
      (3L, 4L, (0.7 * WS).toLong), (1L, 4L, (0.5 * WS).toLong),
      (4L, 5L, (1.0 * WS).toLong), (6L, 7L, (0.3 * WS).toLong))
    val adj = (w ++ w.map(e => (e._2, e._1, e._3)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(v => (v._2, v._3)) }
    val tw = adj.map { case (k, vs) => k -> vs.map(_._2).sum }
    val base = Scale / 8
    var r = adj.keys.map(_ -> base).toMap
    (0 until 8).foreach { _ =>
      val in = adj.keys.map { v =>
        v -> adj(v).map { case (u, wq) => r(u) * wq / tw(u) }.sum
      }.toMap
      r = adj.keys.map(v => v -> (15L * base + 85L * in(v)) / 100L).toMap
    }
    val got = ops.Graph.pagerank(nodes, edges, 8, weightCol = Some("jac"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    r.foreach { case (id, want) =>
      assert(got(id) === want, s"weighted rank diverged for node $id")
    }
    // And the weights actually moved something: the distribution must
    // differ from the unweighted run on the connected nodes.
    assert(r.keys.exists(id => got(id) != plain(id)),
      "skewed weights changed no rank")
  }

  test("stage-context callers with different inputs each read their own anchors") {
    import spark.implicits._
    val ctx = Some((spark, "graphspec-untagged-inputs"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val nodes = (1L to 8L).toDF("doc_id")
    for (edges <- Seq(Seq((1L, 2L), (2L, 3L), (5L, 6L)),
        Seq((1L, 5L), (7L, 8L), (3L, 4L))).map(_.toDF("ida", "idb")))
      assert(rows(ops.Graph.connectedComponents(nodes, edges, stage = ctx)) ===
        rows(ops.Graph.connectedComponents(nodes, edges)))
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("ida", "idb")
    for (n <- Seq(8L, 20L)) {
      val ns = (1L to n).toDF("doc_id")
      assert(rows(ops.Graph.pagerank(ns, edges, iters = 3, stage = ctx)) ===
        rows(ops.Graph.pagerank(ns, edges, iters = 3)), s"$n nodes")
    }
  }

  test("bit-stable under a different edge partitioning") {
    val nodes = Tables.documents(spark, sf).select("doc_id")
    val e = ops.TextSim.similarityEdges(spark, sf)
    def run(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      ops.Graph.pagerank(nodes, edges, iters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(run(e) === run(e.repartition(7, col("idb"))))
  }

  test("large-star/small-star CC equals the propagation fixpoint on both graphs") {
    val docs = Tables.documents(spark, sf).select("doc_id")
    // The denser jac >= 0.1 graph AND the near-dup jac >= 0.5 graph:
    // both must yield the exact component-min labels the general
    // min-label propagation fixpoint computes.
    for (minJac <- Seq(0.1, 0.5)) {
      val e = ops.TextSim.similarityEdges(spark, sf, minJac)
      val cc = ops.Graph.connectedComponents(docs, e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fix = ops.TextSim.clusterLabelsFixpoint(docs, e)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc === fix, s"labels diverge at minJac=$minJac")
      // ORACLE-VALIDITY GUARD: q_graph_cc and q_dedup_cluster share
      // ClusterOracleSql, whose TWO unrolled propagation rounds are
      // exact only on graphs whose components converge within 2 hops
      // of their min. That is a property of the FIXTURE, not the
      // algorithm — so pin it here: if a fixture regeneration ever
      // grows a component that needs a third hop, this fails loudly
      // instead of the oracle silently going wrong.
      val two = ops.TextSim.propagateRounds(docs, e, rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(two === fix,
        s"fixture components no longer converge in 2 hops at minJac=" +
          s"$minJac — ClusterOracleSql's unrolled oracle is now INVALID")
    }
  }

  test("CC handles chains, singletons, and merge-order: synthetic graphs") {
    import spark.implicits._
    val nodes = (1L to 12L).toDF("doc_id")
    // A 6-chain (collapses only via repeated halving — the O(log n)
    // property under test), a triangle, one pair, and singletons.
    val edges = Seq(
      (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L),
      (7L, 8L), (8L, 9L), (9L, 7L),
      (10L, 11L)).toDF("ida", "idb")
    val got = ops.Graph.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 7L,
      10L -> 10L, 11L -> 10L, 12L -> 12L)
    assert(got === want)
  }

  test("CC round checksum: an observation that never fires falls back to a recount within the bound") {
    import spark.implicits._
    val out = Seq((2L, 1L), (3L, 1L), (9L, 7L)).toDF("hi", "lo")
    val never = org.apache.spark.sql.Observation() // never attached
    val bound = scala.concurrent.duration.Duration(500, "ms")
    val t0 = System.nanoTime()
    val got = ops.Graph.observedChecksum(never, out, bound)
    val waitedS = (System.nanoTime() - t0) / 1e9
    assert(got === ops.Graph.ccChecksum(out))
    assert(got._1 === 3L)
    // the wait ends at the bound; the rest is the one-row recount job
    assert(waitedS >= 0.5 && waitedS < 30, s"returned after $waitedS s")
  }

  test("triangle counts: synthetic clique, open wedge, and brute-force on random graphs") {
    import spark.implicits._
    // K4 on {1..4}: every node is in C(3,2)=3 triangles. The open
    // wedge 5-6-7 and the pendant edge 8-9 contribute none.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L), (8L, 9L)).toDF("ida", "idb")
    val got = ops.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // Random graphs vs an O(n^3) brute-force reference.
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 2) {
      val n = 15
      val es = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.3
      } yield (a.toLong, b.toLong)).toSeq
      val set = es.toSet
      val want = (for {
        a <- 1 to n; b <- (a + 1) to n; c <- (b + 1) to n
        if set((a.toLong, b.toLong)) && set((b.toLong, c.toLong)) &&
          set((a.toLong, c.toLong))
      } yield Seq(a.toLong, b.toLong, c.toLong)).flatten
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
      val g = ops.Graph.triangleCounts(es.toDF("ida", "idb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(g === want, s"trial $trial diverged from brute force")
    }
  }

  test("k-core peeling matches a sequential reference; synthetic K4-with-tail") {
    import spark.implicits._
    // K4 {1..4} with a tail 4-5-6: the 3-core is exactly the K4 (tail
    // peels off over two rounds); the 2-core keeps K4 only (the open
    // tail has endpoints of degree 1 peeling back to node 4); k=4 is
    // empty (K4 nodes have degree 3).
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("ida", "idb")
    def run(k: Int): Map[Long, Long] = ops.Graph.kCore(edges, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(3) === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(run(2).keySet === Set(1L, 2L, 3L, 4L))
    assert(run(4) === Map.empty)
    // Random graphs vs sequential peeling.
    val rnd = new scala.util.Random(909)
    def refKCore(es: Set[(Long, Long)], k: Int): Map[Long, Long] = {
      var cur = es
      var stable = false
      while (!stable) {
        val dg = cur.toSeq.flatMap(e => Seq(e._1, e._2))
          .groupBy(identity).map { case (x, v) => x -> v.length }
        val keep = dg.filter(_._2 >= k).keySet
        val nxt = cur.filter(e => keep(e._1) && keep(e._2))
        stable = nxt == cur
        cur = nxt
      }
      cur.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (x, v) => x -> v.length.toLong }
    }
    for (trial <- 1 to 2; k <- Seq(2, 3)) {
      val n = 18
      val es = (for {
        a <- 1 to n; b <- (a + 1) to n if rnd.nextDouble() < 0.25
      } yield (a.toLong, b.toLong)).toSet
      val got = ops.Graph.kCore(es.toSeq.toDF("ida", "idb"), k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === refKCore(es, k), s"trial $trial k=$k diverged")
    }
  }

  test("kcore oracle validity: fixture peels within the unrolled rounds") {
    // ORACLE-VALIDITY GUARD (the ClusterOracleSql precedent):
    // kcoreOracleSql unrolls KcoreOracleRounds peel rounds; peeling is
    // monotone, so the text is exact iff the real peeling stabilizes
    // within that many rounds. Pin that on the fixture graph by running
    // kCore with maxRounds = KcoreOracleRounds — its stabilization
    // require() throws if a fixture regeneration ever peels deeper.
    // (The driver's sf0.01 oracle run is the loud check at that tier;
    // measured, both tiers peel in ONE round against a margin of 4.)
    val e = ops.TextSim.similarityEdges(spark, sf, minJac = 0.1)
    val core = ops.Graph.kCore(e, k = 2,
      maxRounds = ops.Graph.KcoreOracleRounds)
    // And the unrolled shape agrees with the registry query's output.
    val viaRegistry = q("q_graph_kcore")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(core.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      === viaRegistry)
  }

  test("CC matches union-find on seeded random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 20 + trial * 10
      val nodes = (1L to n.toLong).toDF("doc_id")
      val raw = Seq.fill(n) {
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.filter(e => e._1 != e._2)
      // Union-find reference with path compression; component label
      // normalized to the MIN member to match the operator's contract.
      val parent = Array.tabulate(n + 1)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      raw.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = (1 to n).map(i => i.toLong -> find(i).toLong).toMap
      val got = ops.Graph.connectedComponents(nodes,
          raw.toDF("ida", "idb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"trial $trial (n=$n) diverged from union-find")
    }
  }

  test("LPA: disjoint triangles converge to their min labels; partition of the nodes; bit-stable") {
    val s = spark
    import s.implicits._
    // Two disjoint triangles: synchronous LPA with ties-to-smallest
    // converges each to its minimum member label by round 3 (hand
    // simulation in the scaladoc's recurrence); node 99 is isolated
    // and must keep itself with csize 1.
    val nodes = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L)).toDF("doc_id")
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("ida", "idb")
    val out = ops.Graph.labelPropagation(nodes, edges, iters = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(out === Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 3L), (11L, 10L, 3L), (12L, 10L, 3L), (99L, 99L, 1L)))
    // bit-stability under a different edge partitioning — integer
    // counts + total tie-break leave nothing order-dependent
    val out7 = ops.Graph.labelPropagation(nodes, edges.repartition(7),
      iters = 4).collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2))).sorted.toSeq
    assert(out7 === out)
    // and on the fixture graph the output is a PARTITION: one row per
    // doc, csize consistent with the community multiplicity
    val fix = Registry.byName("q_graph_lpa").df(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(fix.length.toLong === nDocs)
    val byComm = fix.groupBy(_.getAs[Long]("community"))
    byComm.foreach { case (c, rows) =>
      rows.foreach(r => assert(r.getAs[Long]("csize") === rows.length.toLong,
        s"csize mismatch for community $c"))
    }
  }

  test("rank mass is conserved up to integer truncation; hubs outrank leaves") {
    val out = q("q_graph_pagerank")
    val n = out.count()
    // Mass can only DECAY (integer truncation + the dropped-dangling
    // variant): the ceiling is the full scale. The floor is the
    // teleport term every node retains each round regardless of the
    // graph — isolated nodes hold EXACTLY it, so on a sparse graph
    // total mass sits near 0.15 + 0.85 * connectedFraction, not 1.0.
    val total = out.agg(sum((col("rank") * 1e9).cast("long"))).head().getLong(0)
    val base = Scale / n
    assert(total <= Scale)
    assert(total >= n * (15L * base / 100L), s"below teleport floor: $total")
    // The most-connected node must outrank the least-connected one
    // (ties broken by the graph being non-regular on the fixture).
    val byDeg = out.orderBy(col("deg").desc).head()
    val loner = out.filter(col("deg") === 0)
    if (loner.count() > 0)
      assert(byDeg.getAs[Double]("rank") > loner.head().getAs[Double]("rank"))
  }

  test("BFS: path/star distances, multi-source min, hop cap, unreachable -1") {
    import spark.implicits._
    def run(nodes: Seq[Long], edges: Seq[(Long, Long)], seeds: Seq[Long],
        cap: Int): Map[Long, Long] =
      ops.Graph.bfsDistances(
          nodes.toDF("doc_id"),
          edges.toDF("ida", "idb"),
          seeds.toDF("doc_id"), cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Path 0-1-2-3-4 plus isolated 9: textbook hop counts, -1 beyond.
    val path = Seq(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L)
    assert(run(0L to 4L map identity, path, Seq(0L), 6) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    assert(run(Seq(0L, 1L, 2L, 3L, 4L, 9L), path, Seq(0L), 6)(9L) === -1L)
    // Edges are undirected: seeding the far end mirrors the distances.
    assert(run(0L to 4L map identity, path, Seq(4L), 6) ===
      Map(0L -> 4L, 1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 0L))
    // Multi-source takes the MIN over seeds; a seeded node stays 0 even
    // if another seed reaches it later.
    assert(run(0L to 4L map identity, path, Seq(0L, 3L), 6) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 0L, 4L -> 1L))
    // The cap truncates: beyond-cap nodes report -1, not a partial dist.
    assert(run(0L to 4L map identity, path, Seq(0L), 2) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> -1L, 4L -> -1L))
    // Cycle: frontier drains at the diameter, well before the cap.
    val cycle = Seq(0L -> 1L, 1L -> 2L, 2L -> 0L)
    assert(run(Seq(0L, 1L, 2L), cycle, Seq(0L), 6) ===
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
    // Empty seed set: everything unreachable.
    assert(run(Seq(0L, 1L), Seq(0L -> 1L), Seq.empty[Long], 6) ===
      Map(0L -> -1L, 1L -> -1L))
  }
}
