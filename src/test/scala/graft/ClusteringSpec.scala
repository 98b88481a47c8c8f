package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the integer-exact k-means family (ops/Clustering.scala):
  * the module's whole claim is that training is fixed-point integer
  * arithmetic, so its output must be BIT-identical under any
  * partitioning — plus the SemDeDup subset property tying
  * q_dedup_semantic to the brute-force q_dedup_cosine witness.
  */
class ClusteringSpec extends AnyFunSuite {
  import TestSpark._

  private def kmeansAt(dir: String) =
    Registry.byName("q_embed_kmeans").df(spark, dir)
  private def semanticAt(dir: String) =
    Registry.byName("q_dedup_semantic").df(spark, dir)

  test("training is partitioning-invariant (bit-exact, not approximate)") {
    val b = ops.Clustering.base(spark, sf)
    val c7 = ops.Clustering.trainHistory(b.repartition(7), 8,
      ops.Clustering.Iters).last
    val c3 = ops.Clustering.trainHistory(b.repartition(3), 8,
      ops.Clustering.Iters).last
    assert(c7.length === c3.length)
    c7.indices.foreach { j =>
      assert(java.util.Arrays.equals(c7(j), c3(j)),
        s"centroid $j differs across partitionings")
    }
  }

  test("quantization guard refuses coordinates at or below the -4 shift") {
    val s = spark
    import s.implicits._
    val bad = Seq((1L, 0, Seq(5L, -1L)), (2L, 0, Seq(3L, 4L)))
      .toDF("vec_id", "label", "xq")
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.trainHistory(bad, 8, ops.Clustering.Iters).last
    }
    assert(ex.getMessage.contains("kmeans quantization"))
  }

  test("cluster report partitions the corpus; sizes and shares are sane") {
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val rows = kmeansAt(dir).collect()
      val total = rows.map(_.getAs[Long]("n")).sum
      val nVec = ops.Clustering.base(spark, dir).count()
      assert(total === nVec, s"cluster sizes must sum to the corpus at $dir")
      rows.foreach { r =>
        assert(r.getAs[Double]("rms_dist") >= 0.0)
        // unit-norm vectors live on the sphere: no member can be
        // farther than the diameter from its centroid
        assert(r.getAs[Double]("rms_dist") <= 2.0)
        val share = r.getAs[Double]("top_share")
        assert(share > 0.0 && share <= 1.0)
      }
    }
  }

  test("semantic near-dup pairs are a subset of the brute-force cos>=0.4 witness") {
    // Every (vec_id, keep_id) edge the cluster-bounded screen emits
    // must be a genuinely similar pair: exact double cosine >= 0.399
    // (1e-3 slack absorbs the 1e-6/coordinate quantization, which is
    // orders of magnitude smaller). The reverse direction is NOT
    // asserted — losing cross-cluster pairs is the SemDeDup trade.
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val vecs = Tables.embeddings(spark, dir)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val dups = semanticAt(dir).filter(col("n_nbrs") > 0)
        .select("vec_id", "keep_id").collect()
      assert(dups.nonEmpty, s"semantic dedup is vacuous at $dir")
      dups.foreach { r =>
        val (a, b) = (vecs(r.getLong(0)), vecs(r.getLong(1)))
        val dot = a.zip(b).map { case (x, y) => x * y }.sum
        val cos = dot / (math.sqrt(a.map(x => x * x).sum) *
          math.sqrt(b.map(x => x * x).sum))
        assert(cos >= 0.399,
          s"pair (${r.getLong(0)}, ${r.getLong(1)}) cos $cos below bar at $dir")
      }
    }
  }

  test("semantic keep_id is always <= vec_id and within the same run's ids") {
    val rows = semanticAt(sf).collect()
    val ids = rows.map(_.getAs[Long]("vec_id")).toSet
    rows.foreach { r =>
      assert(r.getAs[Long]("keep_id") <= r.getAs[Long]("vec_id"))
      assert(ids.contains(r.getAs[Long]("keep_id")),
        s"keep_id ${r.getAs[Long]("keep_id")} is not an existing vec_id")
    }
  }

  test("join E-step assignment is bit-identical to the literal path") {
    val b = ops.Clustering.base(spark, sf)
    val cents = ops.Clustering.trainHistory(b, 8, ops.Clustering.Iters).last
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(ops.Clustering.assignJoin(b, cents)) ===
      rows(ops.Clustering.assignLiteral(b, cents)))
  }

  test("join E-step keeps fully-duplicate input rows, like the literal path") {
    // a double-ingested vector must weigh twice in both paths (and in
    // the oracle's e CTE) — the argmin group-by must not collapse it
    val b = ops.Clustering.base(spark, sf)
    val dup = b.unionAll(b.limit(25))
    val cents = ops.Clustering.trainHistory(b, 8, ops.Clustering.Iters).last
    val nLit = ops.Clustering.assignLiteral(dup, cents).count()
    val nJoin = ops.Clustering.assignJoin(dup, cents).count()
    assert(nLit === b.count() + 25)
    assert(nJoin === nLit, "assignJoin collapsed duplicate rows")
  }

  test("training through the join E-step reproduces the literal path bit-exact") {
    val b = ops.Clustering.base(spark, sf)
    val litC = ops.Clustering.trainHistory(b, 8, ops.Clustering.Iters).last
    val jn = ops.Clustering.trainHistory(b, litC.length,
      ops.Clustering.Iters, ops.Clustering.assignJoin).last
    assert(jn.length === litC.length)
    jn.indices.foreach { j =>
      assert(java.util.Arrays.equals(jn(j), litC(j)),
        s"centroid $j differs between E-step paths")
    }
  }

  test("public semanticDedup at a non-default k partitions the corpus") {
    val out = ops.Clustering.semanticDedup(spark, sf, k = 3).collect()
    val n = ops.Clustering.base(spark, sf).count()
    assert(out.length.toLong === n, "one row per vector")
    val cids = out.map(_.getAs[Long]("cid")).toSet
    assert(cids.subsetOf((0L until 3L).toSet), s"cids out of range: $cids")
    out.foreach { r =>
      assert(r.getAs[Long]("keep_id") <= r.getAs[Long]("vec_id"))
    }
  }

  // ---- the two-level routed E-step (r15: the K∝n scale path) ----
  // Exact-path-trained centroids at a K past the literal threshold, so
  // the routed hierarchy is exercised for real (r = ⌈√80⌉ = 9 coarse).
  private lazy val routedFixture = {
    val b = ops.Clustering.base(spark, sf)
    (b, ops.Clustering.trainHistory(b, 80, 2).last)
  }

  test("routed E-step is partitioning-invariant and loses no rows") {
    val (b, cents) = routedFixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val r7 = rows(ops.Clustering.assignRouted(b.repartition(7), cents))
    val r3 = rows(ops.Clustering.assignRouted(b.repartition(3), cents))
    assert(r7 === r3, "routed assignment differs across partitionings")
    assert(r7.length.toLong === b.count(),
      "routed assignment lost rows (empty-branch compaction broken?)")
  }

  test("routed E-step keeps fully-duplicate input rows, like the exact paths") {
    val (b, cents) = routedFixture
    val dup = b.unionAll(b.limit(25))
    assert(ops.Clustering.assignRouted(dup, cents).count() ===
      b.count() + 25, "assignRouted collapsed or dropped duplicate rows")
  }

  test("routed vs flat: dist2 never below the exact argmin; agreement high") {
    // The routed trade measured like LSH recall (r14 verdict #1): the
    // assignment may differ from exact ONLY where routing errs, dist2
    // is then strictly worse (it is the true L2 to the chosen
    // centroid, a subset argmin); where the cid agrees the dist2 is
    // bit-identical. Isotropic fixture = routing's worst case (no
    // cluster structure, every boundary is contested): measured 0.662
    // single-probe, 0.946 at the default 3 probes (k=80, r=9 coarse);
    // pinned ≥ 0.9 to leave margin for fixture regen.
    val (b, cents) = routedFixture
    def byId(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val flat = byId(ops.Clustering.assignJoin(b, cents))
    val routed = byId(ops.Clustering.assignRouted(b, cents))
    assert(routed.keySet === flat.keySet)
    routed.foreach { case (id, (cid, d2)) =>
      assert(d2 >= flat(id)._2,
        s"routed dist2 $d2 below the exact argmin ${flat(id)._2} at $id")
      if (cid == flat(id)._1)
        assert(d2 === flat(id)._2,
          s"same cid but different dist2 at $id — distance kernel diverged")
    }
    val agree = routed.count { case (id, (cid, _)) => cid == flat(id)._1 }
      .toDouble / routed.size
    info(f"routed-vs-flat agreement at k=80: $agree%.4f")
    assert(agree >= 0.9, f"routing errs too often: agreement $agree%.4f")
  }

  test("routed training is deterministic across partitionings") {
    val b = ops.Clustering.base(spark, sf)
    def routed(part: Int) = ops.Clustering.trainHistory(b.repartition(part),
      80, 2, ops.Clustering.assignRouted).last
    val c7 = routed(7)
    val c3 = routed(3)
    assert(c7.length === c3.length)
    c7.indices.foreach { j =>
      assert(java.util.Arrays.equals(c7(j), c3(j)),
        s"routed-trained centroid $j differs across partitionings")
    }
  }

  test("routed E-step work is below flat n×K even at toy scale") {
    // At k=80 / r=9 the 3 probes still cover a third of all centroids,
    // so the saving here is modest BY CONSTRUCTION — the asymptotic
    // claim (work ~ n^1.5 when K ∝ n, vs n² flat) is measured in
    // ScaleSpec across generated tiers and the committed three-decade
    // artifacts; this pin checks the counter itself and that routed
    // work stays strictly below flat even where the constants are
    // least favorable.
    val (b, cents) = routedFixture
    val n = b.count()
    val k = cents.length.toLong
    val evals = ops.Clustering.routedEstepEvals(b, cents)
    info(s"routed evals $evals vs flat ${n * k} (n=$n, k=$k)")
    assert(evals >= n, "fewer evaluations than vectors — count is broken")
    assert(evals < n * k,
      s"routed work $evals not below flat ${n * k}")
  }

  test("K-sweep elbow: inertia falls across the K range on the fixtures") {
    // NOTE: fixed-iteration (non-converged) Lloyd gives NO structural
    // monotonicity guarantee across K, so this pin asserts only the
    // coarse empirical shape (a real elbow falls over the full range);
    // the exact per-K values are golden-pinned like every other query,
    // so a regression shows up there with bit precision
    Seq(sf, "/root/testdata/sf0.01").foreach { dir =>
      val rows = Registry.byName("q_embed_kelbow").df(spark, dir).collect()
      assert(rows.map(_.getAs[Long]("k")).toSeq === Seq(2L, 4L, 8L, 16L))
      val inertia = rows.map(_.getAs[Long]("inertia"))
      assert(inertia.forall(_ > 0L), s"degenerate inertia at $dir")
      assert(inertia.last < inertia.head,
        s"K=16 does not beat K=2 at $dir: ${inertia.toSeq}")
    }
  }

  test("persistent centroid store: second session loads, changed corpus retrains") {
    // r14 verdict #5: the training memo must survive sessions. The
    // observable is WORK, not just results — trainCounter counts
    // trainHistory invocations in this JVM (suites run sequentially in
    // the forked test JVM, so the counter is race-free here).
    val store = java.nio.file.Files
      .createTempDirectory("graft_kmstore").toString
    val k = 5 // unused by any other test: the session memo is cold
    val c0 = ops.Clustering.trainCounter.get()
    val h1 = ops.Clustering.persistentCentroidHistory(spark, sf, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 1,
      "first call must train exactly once")
    // 'second session': newSession() is a distinct instance sharing
    // the context — the weak-keyed session memo is empty for it, so
    // only the store can explain a no-train answer
    val s2 = spark.newSession()
    val h2 = ops.Clustering.persistentCentroidHistory(s2, sf, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 1,
      "second session retrained despite the persisted artifact")
    assert(h1.length === h2.length)
    h1.zip(h2).foreach { case (a, b) =>
      assert(a.length === b.length)
      a.indices.foreach(j => assert(java.util.Arrays.equals(a(j), b(j)),
        s"persisted history diverges at centroid $j"))
    }
    // the load seeded the session memo: downstream in-session
    // consumers skip training too
    ops.Clustering.centroidHistory(s2, sf, k)
    assert(ops.Clustering.trainCounter.get() === c0 + 1)
    // changed corpus -> changed fingerprint -> retrain (stale artifact
    // is simply never addressed again)
    val changedDir = java.nio.file.Files
      .createTempDirectory("graft_kmstore_corpus").toString
    val emb = Tables.embeddings(spark, sf)
    val dropId = emb.select(min("vec_id")).head().getLong(0)
    emb.filter(col("vec_id") =!= dropId)
      .write.parquet(Tables.path(changedDir, "embeddings"))
    ops.Clustering.persistentCentroidHistory(spark, changedDir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "changed corpus must retrain")
  }

  test("retrainCentroids: sanctioned in-session recovery after a corpus refresh") {
    // r15 verdict #4: the store had load/fail-loud but no
    // retrain-and-swap verb — a user whose corpus was refreshed
    // in-place (or whose q_embed_drift alarm tripped) had to abandon
    // the session. The verb must (a) be the ONLY way past the
    // session-immutability guard, (b) actually retrain (work
    // observable), (c) leave the store so that load-after-retrain is
    // the new history, bit-stable, with no further training.
    val store = java.nio.file.Files
      .createTempDirectory("graft_kmretrain_store").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft_kmretrain_corpus").toString
    val emb = Tables.embeddings(spark, sf)
    emb.write.parquet(Tables.path(dir, "embeddings"))
    val k = 6 // unused by any other test: the session memo is cold
    val c0 = ops.Clustering.trainCounter.get()
    val h1 = ops.Clustering.persistentCentroidHistory(spark, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 1)
    // a frame-state consumer stage-caches its centroids over the same
    // corpus — the retrain must invalidate this too. At K ≤ 9 the stage
    // is written from the array history, so it trains nothing more.
    assert(ops.Clustering.kmeansAssignFrame(spark, dir, k).count() ===
      emb.count())
    assert(ops.Clustering.trainCounter.get() === c0 + 1)
    // in-place refresh: append a re-identified slice (the
    // CAP-INCREMENTAL shape) — the fingerprint moves
    emb.limit(7).withColumn("vec_id", col("vec_id") + lit(900000L))
      .write.mode("append").parquet(Tables.path(dir, "embeddings"))
    // the plain store call REFUSES (the r15 poison-window guard) ...
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.persistentCentroidHistory(spark, dir, k, store)
    }
    assert(ex.getMessage.contains("changed within this session"),
      ex.getMessage)
    // ... and the explicit verb is the sanctioned recovery: it
    // retrains over the LIVE corpus (work observable moves)
    val h2 = ops.Clustering.retrainCentroids(spark, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "retrainCentroids did not retrain")
    // the retrained base really saw the appended rows
    assert(ops.Clustering.base(spark, dir).count() === emb.count() + 7)
    // the frame-state stage was invalidated too (r16 review #1): the
    // next frame read serves the retrained centroids over the rebuilt
    // base instead of silently pairing old-corpus centroids with it
    assert(ops.Clustering.kmeansAssignFrame(spark, dir, k).count() ===
      emb.count() + 7)
    assert(!h1.last.toSeq.map(_.toSeq).equals(h2.last.toSeq.map(_.toSeq)),
      "the refresh did not move the centroids: the stale check is vacuous")
    assert(ops.Clustering.frameCentroids(spark, dir, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq ===
      h2.last.toSeq.zipWithIndex.map { case (c, j) => (j.toLong, c.toSeq) },
      "retrain left a stale frame-centroid stage in place")
    assert(ops.Clustering.trainCounter.get() === c0 + 2)
    // load-after-retrain is the new history: bit-stable, no training —
    // in this session (memo seeded by the verb) ...
    val h3 = ops.Clustering.persistentCentroidHistory(spark, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "post-retrain load retrained again")
    // ... and in a fresh session (only the swapped artifact explains it)
    val s2 = spark.newSession()
    val h4 = ops.Clustering.persistentCentroidHistory(s2, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "fresh session retrained despite the swapped artifact")
    Seq(h3, h4).foreach { h =>
      assert(h.length === h2.length)
      h2.zip(h).foreach { case (a, b) =>
        a.indices.foreach(j => assert(java.util.Arrays.equals(a(j), b(j)),
          s"post-retrain history diverges at centroid $j"))
      }
    }
    // content addressing: both fingerprints' artifacts coexist
    val files = new java.io.File(store).list().toSeq
      .filter(_.startsWith(s"kmeans_k${k}_"))
    assert(files.length === 2, s"store artifacts: $files")
  }

  test("routed path fails loudly on a NULL xq row instead of dropping it") {
    // r15 review #6: the top-k routing branch would silently drop a
    // null-xq vector (null distance -> aggregate skips -> no probes);
    // the entry guard makes every routed call fail loudly instead.
    val s = spark
    import s.implicits._
    val (_, cents) = routedFixture
    val bad = ops.Clustering.base(spark, sf)
      .unionAll(Seq((999999L, 0L, null.asInstanceOf[Seq[Long]]))
        .toDF("vec_id", "label", "xq"))
    val ex = intercept[Exception] {
      ops.Clustering.assignRouted(bad, cents).count()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + msgs(t.getCause)
    assert(msgs(ex).contains("NULL xq row"), msgs(ex))
  }

  test("map-typed payload columns survive every grouped assign path (r15 advice)") {
    // r15 advice #3: the join/routed argmin (and the large-r probe)
    // used to group by every input column, so a caller frame carrying
    // a MapType column failed with AnalysisException (grouping on
    // MapType is unsupported). They now group on the _rid row key
    // alone with the payload riding as first() aggregates — a map
    // column must flow through untouched, values unchanged.
    val (b, cents80) = routedFixture
    val withMap = b.withColumn("meta",
      map(lit("id"), col("vec_id").cast("string")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // exact join path: bit-identical to the literal path on the SAME frame
    val cents8 = ops.Clustering.trainHistory(b, 8, ops.Clustering.Iters).last
    val j = ops.Clustering.assignJoin(withMap, cents8)
    assert(j.columns.toSeq ===
      (withMap.columns.toSeq ++ Seq("cid", "dist2")),
      "assignJoin changed the column contract")
    assert(rows(j) === rows(ops.Clustering.assignLiteral(withMap, cents8)))
    // routed path at k=80 (literal probe branch + grouped argmin)
    val r = ops.Clustering.assignRouted(withMap, cents80)
    assert(rows(r) === rows(ops.Clustering.assignRouted(b, cents80)),
      "a payload map column changed the routed assignment")
    // the map VALUES survive the group-by round-trip
    val m = r.filter(col("vec_id") === b.select(min("vec_id")).head().getLong(0))
      .select(col("meta")("id"), col("vec_id").cast("string")).head()
    assert(m.getString(0) === m.getString(1), "map payload corrupted")
    // large-r probe branch (r > LiteralMaxK forces the topKByScore
    // aggregate): 65 coarse entries, 3 probes per vector
    val coarse65 = cents80.take(ops.Clustering.LiteralMaxK + 1)
    val keyed = withMap.withColumn("_rid",
      monotonically_increasing_id())
    val probed = ops.Clustering.routeProbe(keyed, coarse65, 3)
    assert(probed.count() === b.count() * 3,
      "large-r probe lost rows on a map-carrying frame")
  }

  test("frame state: coarsenDf is bit-identical to the driver coarsen") {
    // The whole frame-state claim rests on this seam: the distributed
    // coarsening (stride seeds over cid order, integer L2 with ties
    // to the smaller branch, truncating mean, empty-branch carry,
    // used-branch compaction) must reproduce the driver loop EXACTLY,
    // so dispatching by K can never change a result.
    val s = spark
    import s.implicits._
    val (_, cents) = routedFixture
    val r0 = ops.Clustering.routeCount(cents.length)
    val (cArr, mArr) = ops.Clustering.coarsen(cents, r0)
    val centsDf = cents.zipWithIndex.toIndexedSeq
      .map { case (c, j) => (j.toLong, c.toIndexedSeq) }.toDF("cid", "cq")
    val (cDf, mDf) = ops.Clustering.coarsenDf(centsDf, r0)
    assert(cDf.length === cArr.length, "coarse branch count differs")
    cArr.indices.foreach { j =>
      assert(java.util.Arrays.equals(cDf(j), cArr(j)),
        s"coarse centroid $j differs (frame vs driver)")
    }
    val gotM = mDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).map(_._2.toInt).toSeq
    assert(gotM === mArr.toSeq, "memberOf mapping differs")
  }

  test("frame state: assignment and TRAINING bit-identical to the array routed path") {
    val s = spark
    import s.implicits._
    val b = ops.Clustering.base(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // training: same seeds, same routed E-step, same truncating
    // integer M-step — the frame spelling must land on the SAME
    // centroids bit-for-bit
    val arr = ops.Clustering.trainHistory(b, 80, 2,
      ops.Clustering.assignRouted).last
    val frame = ops.Clustering.trainFrame(b, 80, 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    assert(frame.length === arr.length)
    frame.foreach { case (cid, cq) =>
      assert(java.util.Arrays.equals(cq, arr(cid.toInt)),
        s"frame-trained centroid $cid differs from array-trained")
    }
    // assignment from the same centroids: identical rows
    val centsDf = arr.zipWithIndex.toIndexedSeq
      .map { case (c, j) => (j.toLong, c.toIndexedSeq) }.toDF("cid", "cq")
    assert(rows(ops.Clustering.assignFrame(b, centsDf, 80)) ===
      rows(ops.Clustering.assignRouted(b, arr)))
  }

  test("frame state at tiny K is EXACT (every branch probed) — the oracle witness") {
    // r = ⌈√8⌉ = 3 ≤ P = 3, so the probe stage visits every branch
    // and the argmin sees every centroid: kmeansAssignFrame at the
    // default K must equal the exact literal assignment bit-for-bit —
    // the property that lets q_embed_kmeans_frame share the flat
    // DuckDB recurrence oracle.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rows(ops.Clustering.kmeansAssignFrame(spark, sf, 8)) ===
      rows(ops.Clustering.kmeansAssign(spark, sf, 8)))
  }

  test("frame state at K=8: trainFrame == trainHistory(8).last row for row") {
    // K ≤ 9 probes every branch, so the frame trainer does not route:
    // its centroids must be the exact driver-array recurrence's.
    val b = ops.Clustering.base(spark, sf)
    val it = ops.Clustering.Iters
    val arr = ops.Clustering.trainHistory(b, 8, it).last
    val frame = ops.Clustering.trainFrame(b, 8, it)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq
    assert(frame === arr.toSeq.zipWithIndex.map { case (c, j) =>
      (j.toLong, c.toSeq) })
  }

  test("frame state routes only when K leaves a branch unprobed") {
    // The regime is a pure function of K: every K ≤ 9 probes all
    // ⌈√K⌉ branches, K = 10 is the first with one left out.
    assert((1 to 9).forall(k => !ops.Clustering.frameRoutes(k)))
    assert(Seq(10, 16, 80, 320).forall(ops.Clustering.frameRoutes))
    // At K=8 the frame assignment builds the centroid stage and no
    // routing state: no coarse memo, no member stage.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_frame_exact_corpus").toString
    Tables.embeddings(spark, sf).write.parquet(Tables.path(dir, "embeddings"))
    val k = 8
    val p = ops.Clustering.effProbes(k)
    assert(ops.Clustering.kmeansAssignFrame(spark, dir, k).count() ===
      Tables.embeddings(spark, sf).count())
    def memo(key: String) = SessionMemo.peek[AnyRef](spark, key)
    assert(memo(s"stage|$dir|kmeans_frame_k${k}_p$p").isDefined,
      "the frame centroid stage was not built under its usual key")
    assert(memo(s"kmeans_frame_coarse|$dir|k$k|p$p").isEmpty,
      "K=8 frame assignment coarsened the centroid frame")
    assert(memo(s"stage|$dir|kmeans_frame_members_k${k}_p$p").isEmpty,
      "K=8 frame assignment built a member stage")
  }

  private def hists(h: Seq[Array[Array[Long]]]) = h.map(_.map(_.toSeq).toSeq)

  test("joint K sweep: every history equals its own trainHistory bit for bit") {
    val b = ops.Clustering.base(spark, sf)
    val it = ops.Clustering.Iters
    val ks = Seq(2, 4, 8, 16)
    val joint = ops.Clustering.trainSweep(b, ks, it)
    assert(joint.keySet === ks.toSet)
    ks.foreach { k =>
      assert(hists(joint(k)) ===
        hists(ops.Clustering.trainHistory(b, k, it)), s"K=$k")
    }
  }

  test("joint K sweep: NULL, empty and duplicated rows follow trainHistory's rules") {
    // Vector-less rows are dropped from every mean; a fully duplicated
    // row weighs twice. The 16 seed rows keep their vectors, and some
    // of them are duplicated, so two seeds coincide and ties go to the
    // lower cid.
    val b = ops.Clustering.base(spark, sf)
    val order = b.select(col("vec_id"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy("h", "vec_id").collect().map(_.getLong(0))
    val others = order.drop(16)
    val nullIds = others.take(10).toSeq
    val emptyIds = others.slice(10, 20).toSeq
    val odd = b.withColumn("xq",
      when(col("vec_id").isInCollection(nullIds), lit(null))
        .when(col("vec_id").isInCollection(emptyIds),
          array().cast("array<bigint>"))
        .otherwise(col("xq")))
    val frame = odd.unionAll(odd.filter(col("vec_id")
      .isInCollection(order.take(3).toSeq ++ others.slice(5, 30))))
    val it = ops.Clustering.Iters
    val ks = Seq(2, 4, 8, 16)
    val joint = ops.Clustering.trainSweep(frame, ks, it)
    ks.foreach { k =>
      assert(hists(joint(k)) ===
        hists(ops.Clustering.trainHistory(frame, k, it)), s"K=$k")
    }
    // at K=2 both seeds are the duplicated first vector: every tie
    // goes to cid 0, so cid 1 never gains a member and keeps its seed
    val seed = joint(2).head
    assert(seed(0).sameElements(seed(1)))
    assert(joint(2).forall(_(1).sameElements(seed(1))))
  }

  test("the kmeans sweep trains K past LiteralMaxK on its own") {
    val b = ops.Clustering.base(spark, sf)
    val big = ops.Clustering.LiteralMaxK + 1
    intercept[IllegalArgumentException] {
      ops.Clustering.trainSweep(b, Seq(2, big), 1)
    }
    val s = spark.newSession()
    val c0 = ops.Clustering.trainCounter.get()
    ops.Clustering.centroidHistories(s, sf, Seq(2, big))
    assert(ops.Clustering.trainCounter.get() === c0 + 2)
    assert(hists(ops.Clustering.centroidHistory(s, sf, big)) ===
      hists(ops.Clustering.trainHistory(b, big, ops.Clustering.Iters)))
  }

  test("a cold kmeans warm trains once per sweep K and writes the K=8 frame stage from it") {
    val s = spark.newSession()
    s.conf.set("spark.graft.kmeans.k", "8")
    val c0 = ops.Clustering.trainCounter.get()
    ops.Clustering.warmKmeansStages(s, sf)
    assert(ops.Clustering.trainCounter.get() === c0 + 4,
      "the warm must train {2, 4, 8, 16} once each and the frame not at all")
    val p = ops.Clustering.effProbes(8)
    assert(SessionMemo.peek[AnyRef](s, s"stage|$sf|kmeans_frame_k8_p$p").isDefined)
    val frame = ops.Clustering.frameCentroids(s, sf, 8)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq
    assert(frame === ops.Clustering.centroidHistory(s, sf, 8).last.toSeq
      .zipWithIndex.map { case (c, j) => (j.toLong, c.toSeq) })
    assert(ops.Clustering.trainCounter.get() === c0 + 4)
  }

  test("driver-array training refuses past DriverStateMaxK, naming the frame path") {
    val b = ops.Clustering.base(spark, sf)
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.trainHistory(b, ops.Clustering.DriverStateMaxK + 1, 1)
    }
    assert(ex.getMessage.contains("kmeansAssignFrame"), ex.getMessage)
    // and the state dispatch serves frame there
    assert(ops.Clustering.frameState(ops.Clustering.DriverStateMaxK + 1))
    assert(!ops.Clustering.frameState(80))
  }

  test("frame state: driver-collected rows grow ~√K while the array path grows ~K") {
    // The scale claim as a WORK-PLACEMENT observable (the trainCounter
    // discipline): training at 4×K must grow the frame path's
    // driver-collected centroid-state rows by ~√4 = 2 (only the
    // coarse level is driver-held) while the array path grows ~4×
    // (seeds + M-step collects are K×dim).
    val b = ops.Clustering.base(spark, sf)
    def delta(body: => Unit): Long = {
      val before = ops.Clustering.driverStateRows.get()
      body
      ops.Clustering.driverStateRows.get() - before
    }
    val f80 = delta(ops.Clustering.trainFrame(b, 80, 2))
    val f320 = delta(ops.Clustering.trainFrame(b, 320, 2))
    val a80 = delta(ops.Clustering.trainHistory(b, 80, 2))
    val a320 = delta(ops.Clustering.trainHistory(b, 320, 2))
    val fr = f320.toDouble / f80
    val ar = a320.toDouble / a80
    assert(fr <= 2.6, s"frame driver rows grew $fr (want ~2 at 4×K)")
    assert(ar >= 3.4, s"array driver rows grew $ar (want ~4 at 4×K)")
    assert(f320 < a320, "frame path collected more than the array path")
  }

  test("kcenter greedy trace: distinct picks, non-increasing radius, partitioning-invariant") {
    val b = ops.Clustering.base(spark, sf)
    val t7 = ops.Clustering.kcenterTrace(b.repartition(7), 8)
    val t3 = ops.Clustering.kcenterTrace(b.repartition(3), 8)
    assert(t7 === t3, "kcenter trace differs across partitionings")
    assert(t7.map(_._1) === (0L until 8L), "ranks not 0..k-1")
    assert(t7.map(_._2).distinct.length === 8, "picked a vector twice")
    assert(t7.head._3.isEmpty && t7.tail.forall(_._3.nonEmpty))
    // the greedy max-min radius is non-increasing BY CONSTRUCTION
    // (each step's candidate set of min-distances is pointwise <= the
    // previous step's); a violation means the min-dist recurrence or
    // the argmax tie-break broke
    val ds = t7.tail.map(_._3.get)
    ds.sliding(2).foreach {
      case Seq(a, bb) => assert(bb <= a, s"radius increased: $ds")
      case _ => ()
    }
    assert(ds.forall(_ > 0L), "picked a duplicate point while distinct remain")
  }

  test("kcenter sampled: equals the exact greedy when the cap covers the corpus; radius stays bounded") {
    // r16 verdict #4: the large-k dispatch must keep the coverage
    // shape. Two property pins: (a) with a non-binding cap the sample
    // IS the corpus and the trace is bit-identical to the exact
    // greedy; (b) with the binding production cap the CORPUS cover
    // radius of the sampled picks stays within a small factor of the
    // exact greedy's (the sampling-dispersion composition bound).
    val b = ops.Clustering.base(spark, sf)
    val exact = ops.Clustering.kcenterTrace(b, 8)
    val full = ops.Clustering.kcenterSampled(spark, sf, 8, 8, 1 << 20)
    assert(full === exact,
      "non-binding cap must reproduce the exact greedy bit-for-bit")
    val sampled = ops.Clustering.kcenterSampled(spark, sf, 8, 8, 8)
    // trace invariants hold on the sampled trace too
    assert(sampled.map(_._1) === (0L until 8L))
    assert(sampled.map(_._2).distinct.length === 8)
    val ds = sampled.tail.map(_._3.get)
    ds.sliding(2).foreach {
      case Seq(a, bb) => assert(bb <= a, s"radius increased: $ds")
      case _ => ()
    }
    // corpus cover radius (exact, driver-side on the tiny fixture)
    val all = b.select("vec_id", "xq").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < a.length) { val d = a(i) - c(i); s += d * d; i += 1 }
      s
    }
    def corpusRadius(picks: Seq[Long]): Long = {
      val sel = all.filter(p => picks.contains(p._1)).map(_._2)
      all.map { case (_, x) => sel.map(c => d2(x, c)).min }.max
    }
    val rExact = corpusRadius(exact.map(_._2))
    val rSampled = corpusRadius(sampled.map(_._2))
    assert(rExact > 0L)
    // squared-distance ratio; 4 on d² = 2 on distance — the classic
    // sample-then-greedy degradation envelope at this draw size
    assert(rSampled <= 4L * rExact,
      s"sampled cover radius² $rSampled vs exact $rExact — " +
        "coverage shape lost")
  }

  test("modeKey: exact paths share one training; auto resolves by K") {
    // literal and join share the 'exact' key (bit-identical by pin);
    // past RoutedMinK the routed class carries the probe count (r16
    // review #2), since routed training depends on P
    assert(ops.Clustering.modeKey(8) === "exact")
    assert(ops.Clustering.modeKey(500) === "exact")
    assert(ops.Clustering.modeKey(ops.Clustering.RoutedMinK) === "exact")
    assert(ops.Clustering.modeKey(2000) === "routed_p7")
  }

  test("corpus fingerprint moves on even-multiplicity changes; mid-session mutation is refused") {
    // r15 review #1/#2. Even-multiplicity: duplicating every row xors
    // the per-row hashes away — the count term must still move the
    // fingerprint.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fp_corpus").toString
    val emb = Tables.embeddings(spark, sf)
    emb.write.parquet(Tables.path(dir, "embeddings"))
    val fp1 = ops.Clustering.corpusFingerprint(spark, dir)
    assert(fp1 === ops.Clustering.corpusFingerprint(spark, sf),
      "same rows, different dir must fingerprint identically")
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_fp_corpus2").toString
    emb.unionAll(emb).write.parquet(Tables.path(dir2, "embeddings"))
    assert(ops.Clustering.corpusFingerprint(spark, dir2) !== fp1,
      "doubled corpus kept its fingerprint (xor blindness)")
    // Mid-session mutation: the store touch memoizes the fingerprint;
    // swapping the corpus under the same dir in the same session must
    // fail loudly, not poison the cross-session store.
    val store = java.nio.file.Files
      .createTempDirectory("graft_fp_store").toString
    ops.Clustering.persistentCentroidHistory(spark, dir, 6, store)
    Local.rmTree(new java.io.File(Tables.path(dir, "embeddings")))
    emb.limit(400).write.parquet(Tables.path(dir, "embeddings"))
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.persistentCentroidHistory(spark, dir, 6, store)
    }
    assert(ex.getMessage.contains("changed within this session"))
  }

  test("empty corpus produces the clear seed-count error, not an NPE") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Int, Seq[Long])]
      .toDF("vec_id", "label", "xq")
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.trainHistory(empty, 8, ops.Clustering.Iters).last
    }
    assert(ex.getMessage.contains("need >="))
  }

  test("frame-state store: load-no-retrain, refuse-after-append, retrain recovers (r16 verdict #1)") {
    // The array store's exact pin set, on the frame surface: at the K
    // the frame path exists for there must be a content-addressed
    // artifact, a fingerprint-keyed load that never retrains, and a
    // completing retrain verb.
    val store = java.nio.file.Files
      .createTempDirectory("graft_fmstore").toString
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fmstore_corpus").toString
    val emb = Tables.embeddings(spark, sf)
    emb.write.parquet(Tables.path(dir, "embeddings"))
    val k = 9 // unused by any other test: the session memo is cold
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
        .sortBy(_._1).toSeq
    val c0 = ops.Clustering.trainCounter.get()
    val a1 = ops.Clustering.persistentFrameCentroids(spark, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 1,
      "first call must train exactly once")
    assert(rows(a1).map(_._1) === (0L until k.toLong).toSeq)
    // second session loads the artifact — never retrains, bit-identical
    val s2 = spark.newSession()
    val a2 = ops.Clustering.persistentFrameCentroids(s2, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 1,
      "second session retrained despite the persisted frame artifact")
    assert(rows(a2) === rows(a1), "loaded frame centroids diverge")
    // the load seeded the artifact pointer: in-session frame consumers
    // downstream (the registry query's path) skip training too
    assert(ops.Clustering.kmeansAssignFrame(s2, dir, k).count() ===
      emb.count())
    assert(ops.Clustering.trainCounter.get() === c0 + 1,
      "kmeansAssignFrame retrained after a warm load")
    // in-place refresh: the plain store call refuses (anchor guard) ...
    emb.limit(5).withColumn("vec_id", col("vec_id") + lit(700000L))
      .write.mode("append").parquet(Tables.path(dir, "embeddings"))
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.persistentFrameCentroids(spark, dir, k, store)
    }
    assert(ex.getMessage.contains("changed within this session"),
      ex.getMessage)
    // ... and the frame retrain verb completes: retrains over the
    // LIVE corpus and swaps the store
    val a3 = ops.Clustering.retrainFrameCentroids(spark, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "retrainFrameCentroids did not retrain")
    assert(ops.Clustering.base(spark, dir).count() === emb.count() + 5)
    // load-after-retrain: the new table, bit-stable, no training —
    // in this session and in a fresh one
    val a4 = ops.Clustering.persistentFrameCentroids(spark, dir, k, store)
    val s3 = spark.newSession()
    val a5 = ops.Clustering.persistentFrameCentroids(s3, dir, k, store)
    assert(ops.Clustering.trainCounter.get() === c0 + 2,
      "post-retrain load retrained again")
    assert(rows(a4) === rows(a3) && rows(a5) === rows(a3),
      "post-retrain frame centroids diverge")
    // content addressing: both fingerprints' artifacts coexist
    val files = new java.io.File(store).list().toSeq
      .filter(_.startsWith(s"kmeans_frame_k${k}_"))
    assert(files.length === 2, s"store artifacts: $files")
  }

  test("distributed seed rank: bit-identical to the sort-limit order, no Θ(k) task") {
    // r16 verdict #2: trainFrame's seed stage was the one
    // K-proportional single-task structure left in the frame path.
    // The bucket-rank spelling must (a) reproduce the global
    // (md5, vec_id) rank bit-for-bit — cid is part of every
    // downstream bit-parity claim — and (b) bound the largest rank
    // task by the largest md5-prefix BUCKET, never Θ(k).
    val b = ops.Clustering.base(spark, sf)
    val k = 100
    val got = ops.Clustering.seedFrame(b, k).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    // reference: the old global-sort spelling, computed driver-side
    val want = b
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("_h"),
        col("xq"))
      .collect()
      .map(r => ((r.getString(1), r.getLong(0)), r.getSeq[Long](2).toSeq))
      .sortBy(_._1).take(k).zipWithIndex
      .map { case ((_, xq), i) => (i.toLong, xq) }.toSeq
    assert(got === want, "bucket-rank cids diverge from the global sort")
    // the placement observable: with 256 buckets over this corpus no
    // rank work unit (bucket) held anywhere near k rows
    val maxTask = ops.Clustering.lastSeedMaxBucketRows.get()
    val n = b.count()
    assert(maxTask > 0L)
    assert(maxTask <= n / 32,
      s"seed rank task held $maxTask rows — not bucket-bounded (n=$n)")
  }

  test("rows without a vector add nothing to an M-step mean, even as a whole cluster") {
    val s = spark
    import s.implicits._
    // vec_ids 27 and 6 come first in md5 order, so they seed cids 0
    // and 1; every NULL-xq row takes cid 0 (a NULL distance sorts
    // first). Counted into cid 0's mean they would drag it away from
    // vector 27, leaving cid 0 with NULL rows only — a NULL vector sum.
    val vecs = Seq(27L -> Seq(3000000L, 3000000L),
      6L -> Seq(3100000L, 3100000L), 33L -> Seq(3200000L, 3200000L))
    val nulls = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 10L, 11L, 12L)
    val withNulls = (vecs.map { case (id, x) => (id, 0, Option(x)) } ++
        nulls.map(id => (id, 0, Option.empty[Seq[Long]])))
      .toDF("vec_id", "label", "xq")
    val clean = vecs.map { case (id, x) => (id, 0, x) }
      .toDF("vec_id", "label", "xq")
    def hist(b: org.apache.spark.sql.DataFrame) =
      ops.Clustering.trainHistory(b, 2, 3).map(_.map(_.toSeq).toSeq)
    assert(hist(withNulls) === hist(clean))
  }

  test("rows without a vector are not in the corpus: no path assigns or seeds one") {
    // The four ids first in md5 order would seed cids 0-3; in the dirty
    // copy two carry a NULL and two an empty embedding, and the clean
    // copy drops them. The oracles' unnest drops such rows, so every
    // path must agree with the clean copy.
    val emb = Tables.embeddings(spark, sf)
    val vecless = emb.select("vec_id")
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(4).collect().map(_.getLong(0)).toSeq
    val empty = typedLit(Seq.empty[Double])
    def copyOf(df: org.apache.spark.sql.DataFrame): String = {
      val dir = java.nio.file.Files.createTempDirectory("graft_kmvecless")
        .toString
      df.write.parquet(Tables.path(dir, "embeddings"))
      dir
    }
    val dirty = copyOf(emb.withColumn("embedding",
      when(col("vec_id").isin(vecless.take(2): _*),
        lit(null).cast("array<double>"))
        .when(col("vec_id").isin(vecless.drop(2): _*), empty)
        .otherwise(col("embedding"))))
    val clean = copyOf(emb.filter(!col("vec_id").isin(vecless: _*)))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid", "dist2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val lit8 = rows(ops.Clustering.kmeansAssign(spark, dirty, 8))
    assert(lit8 === rows(ops.Clustering.kmeansAssignFrame(spark, dirty, 8)))
    assert(lit8 === rows(ops.Clustering.kmeansAssign(spark, clean, 8)))
    assert(lit8.map(_._1).intersect(vecless).isEmpty)
    def cents(d: String) =
      ops.Clustering.centroids(spark, d, 8).map(_.toSeq).toSeq
    assert(cents(dirty) === cents(clean))
  }

  test("kcenter refuses k past the distinct-vector count instead of re-picking (r16 advice)") {
    val s = spark
    import s.implicits._
    // 3 distinct vectors, one duplicated: k=4 must fail loudly at the
    // step whose farthest remaining point is already covered
    val b = Seq(
      (1L, 0, Seq(0L, 0L)), (2L, 0, Seq(10L, 0L)),
      (3L, 0, Seq(0L, 10L)), (4L, 0, Seq(0L, 0L)))
      .toDF("vec_id", "label", "xq")
    assert(ops.Clustering.kcenterTrace(b, 3).length === 3)
    val ex = intercept[IllegalArgumentException] {
      ops.Clustering.kcenterTrace(b, 4)
    }
    assert(ex.getMessage.contains("exceeds the number of distinct"),
      ex.getMessage)
  }
}
