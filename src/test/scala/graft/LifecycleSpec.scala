package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Index lifecycle (r7): tombstone DELETE + COMPACTION for the three
  * maintained index families. The contracts pinned here:
  *
  *   1. delete hides ids from every read immediately (merge-on-read),
  *   2. compaction physically applies tombstones + folds appended
  *      fragments to a few files while leaving READ RESULTS IDENTICAL,
  *   3. a deleted id is dead until compaction; after compaction it can
  *      re-enter as a fresh insert.
  */
class LifecycleSpec extends AnyFunSuite {
  import TestSpark._

  test("band index: delete hides a doc from probes; compaction applies it physically") {
    val name = "lcband"
    val d = sf
    // Seed the named instance and record its physical stage key.
    val stage = s"mhbands_md5@$name"
    ops.Sketches.minhashBandTable(spark, d, name).count()
    // Probe: corpus docs re-submitted VERBATIM under fresh ids — each
    // matches (at least) its own source deterministically.
    val probe = Tables.documents(spark, d)
      .filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val hits = ops.Sketches.indexHitPairs(spark, d, probe, name)
      .select("corpus_id").distinct()
    val hitIds = hits.collect().map(_.getLong(0)).toSet
    assert(hitIds.nonEmpty, "vacuous: probe matched nothing")

    // DELETE the full hit set → the probe goes dark instantly.
    ops.Sketches.deleteFromBandIndex(spark, d,
      hits.withColumnRenamed("corpus_id", "doc_id"), name)
    assert(ops.Sketches.indexHitPairs(spark, d, probe, name).count() === 0L,
      "deleted docs still match probes")
    // Upserting a tombstoned id is a no-op (dead until compaction).
    ops.Sketches.upsertIntoBandIndex(spark, d,
      Tables.documents(spark, d)
        .filter(col("doc_id").isin(hitIds.toSeq.map(Long.box): _*))
        .select("doc_id", "text"), name)
    assert(ops.Sketches.indexHitPairs(spark, d, probe, name).count() === 0L,
      "upsert resurrected tombstoned docs before compaction")

    // Grow the index (fresh ids) so compaction has fragments to fold.
    val extra = Tables.documents(spark, d)
      .filter(col("doc_id") % 7 === 3)
      .select((col("doc_id") + 6000000L).as("doc_id"), col("text"))
    ops.Sketches.upsertIntoBandIndex(spark, d, extra, name)

    val dummy = spark.range(0).toDF // by-name build, never evaluated: stage exists
    val live = ops.Sketches.minhashBandTable(spark, d, name)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val filesBefore =
      StageCache.memoized(spark, d, stage)(dummy).inputFiles.length
    ops.Sketches.compactBandIndex(spark, d, name, targetFiles = 2)
    val filesAfter =
      StageCache.memoized(spark, d, stage)(dummy).inputFiles.length
    val liveAfter = ops.Sketches.minhashBandTable(spark, d, name)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(liveAfter === live, "compaction changed read results")
    assert(filesAfter < filesBefore && filesAfter <= 2,
      s"compaction did not shrink the file listing: $filesBefore -> $filesAfter")
    // `extra` may legitimately near-dup some probes under its fresh ids;
    // the lifecycle claim is that no TOMBSTONED id ever matches again.
    val postIds = ops.Sketches.indexHitPairs(spark, d, probe, name)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(postIds.intersect(hitIds).isEmpty,
      s"physically-compacted docs reappeared: ${postIds.intersect(hitIds)}")

    // Post-compaction the ids are insertable again: re-admit one
    // deleted doc and its verbatim probe matches once more.
    val back = hitIds.head
    ops.Sketches.upsertIntoBandIndex(spark, d,
      Tables.documents(spark, d).filter(col("doc_id") === back)
        .select("doc_id", "text"), name)
    val again = ops.Sketches.indexHitPairs(spark, d,
        probe.filter(col("doc_id") === back + 5000000L), name)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(again.contains(back), "post-compaction re-insert not probed")
  }

  test("ANN index: delete hides vectors from search; compaction preserves results, shrinks files; re-insert works") {
    val name = "lcann"
    val d = sf
    val base = Tables.embeddings(spark, d).select("vec_id", "embedding")
    // Upsert verbatim copies of every 89th vector under fresh ids —
    // each source's copy is a deterministic d2-0 top hit.
    val batch = base.filter(col("vec_id") % 89 === 0)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    ops.Sketches.upsertIntoAnnIndex(spark, d, batch, name)
    val queries = base.filter(col("vec_id") % 89 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    def search() = ops.Sketches.ivfpqSearch(spark, d, queries,
        nprobe = c => math.ceil(0.8 * c).toInt.max(2),
        rerank = n => math.max(32, (n / 3).toInt), k = 1, name = name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    search().foreach { case (qid, nid, d2) =>
      assert(nid === qid + 2000000L && d2 === 0L, s"setup: $qid -> ($nid, $d2)")
    }

    // DELETE the copies → they vanish from every search stage.
    val copyIds = batch.select("vec_id")
    ops.Sketches.deleteFromAnnIndex(spark, d, copyIds, name)
    val afterDelete = search()
    afterDelete.foreach { case (qid, nid, _) =>
      assert(nid !== qid + 2000000L, s"deleted vector $nid still served for $qid")
    }
    // Re-upserting a tombstoned id is a no-op (raw-store anti-join).
    ops.Sketches.upsertIntoAnnIndex(spark, d, batch, name)
    search().foreach { case (qid, nid, _) =>
      assert(nid !== qid + 2000000L, s"upsert resurrected tombstoned $nid")
    }

    val dummy = spark.range(0).toDF
    val stages = Seq(s"embstore@$name", s"ivfassign@$name", s"pqcodes@$name")
    val filesBefore = stages.map(st =>
      StageCache.memoized(spark, d, st)(dummy).inputFiles.length)
    ops.Sketches.compactAnnIndex(spark, d, name, targetFiles = 2)
    val filesAfter = stages.map(st =>
      StageCache.memoized(spark, d, st)(dummy).inputFiles.length)
    stages.lazyZip(filesBefore).lazyZip(filesAfter).foreach { (st, b, a) =>
      assert(a < b && a <= 2, s"$st not compacted: $b -> $a")
    }
    val afterCompact = search()
    assert(afterCompact.toSet === afterDelete.toSet,
      "compaction changed ANN results")

    // Post-compaction re-insert: the copies become top hits again.
    ops.Sketches.upsertIntoAnnIndex(spark, d, batch, name)
    search().foreach { case (qid, nid, d2) =>
      assert(nid === qid + 2000000L && d2 === 0L,
        s"re-inserted copy not served: $qid -> ($nid, $d2)")
    }
  }

  test("ANN retrain: drift metric recovers; artifacts swap in lockstep; adequately-pooled retrieval intact") {
    val name = "lcdrift"
    val d = sf
    val base = Tables.embeddings(spark, d).select("vec_id", "embedding")
    // Drift: a dense cone around a fixed direction u (the first corpus
    // vector) — v' = u + 0.4 v. The corpus-trained PQ centroids have no
    // representation there, so all drifted vectors collapse onto a few
    // codes and ADC cannot rank inside the cone.
    val u = base.orderBy("vec_id").limit(1)
      .collect()(0).getSeq[Double](1)
    val uLit = u.map(x => f"$x%.17g").mkString("array(", ",", ")")
    def drift(dfc: org.apache.spark.sql.Column) =
      expr(s"zip_with(embedding, $uLit, (x, y) -> y + 0.4d * x)")
    val batch = base.filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        drift(col("embedding")).as("embedding"))
    ops.Sketches.upsertIntoAnnIndex(spark, d, batch, name)
    // Held-out drifted queries (never indexed).
    val queries = base.filter(col("vec_id") % 4 === 1 && col("vec_id") % 3 === 0)
      .select(col("vec_id").as("qid"), drift(col("embedding")).as("qv"))
      .localCheckpoint(true)

    // Exact top-3 against the live store (corpus + drifted batch), in
    // the family's DECLARED metric since r19: squared L2 in the
    // exactly-normalized integer basis (== cosine ranking for any
    // input, to 1e-6 quantization) — the same quantizer the engine
    // runs, so the witness has zero basis mismatch.
    val store = base.unionByName(batch)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("d2"), col("vec_id"))
    val exact = ops.Sketches.quantized(queries, "qid", "qv")
      .select(col("qid"), col("xq").as("qxq"))
      .crossJoin(ops.Sketches.quantized(store, "vec_id", "embedding"))
      .withColumn("d2", ops.Sketches.l2sq(col("qxq"), col("xq")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)

    def recall(poolFrac: Int): Double = {
      val got = ops.Sketches.pqSearch(spark, d, queries,
          rerank = n => math.max(8, (n / poolFrac).toInt), k = 3, name = name)
        .select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val before = recall(50)
    // CAP-ANN-DRIFT: the upsert itself left a STORED probe behind —
    // the drifted batch graded with the stale codebooks — and its
    // code-tuple diversity trips the 0.8 retrain threshold without any
    // operator-run measurement (the cone collapses onto a few stale
    // code tuples — exactly the failure mode the metric watches).
    val storedBefore = ops.Sketches.annDriftMetric(spark, d, name)
    assert(storedBefore.isDefined, "drifted upsert stored no probe")
    assert(storedBefore.get < 0.8,
      f"stored drift metric ${storedBefore.get}%.3f did not trip (< 0.8)")
    val probeBefore = ops.Sketches.annDriftProbes(spark, d, name)
      .orderBy(col("seq").desc).limit(1).collect()(0)
    info(f"stored before: recall=${probeBefore.getAs[Double]("recall")}%.3f " +
      f"fidelity=${probeBefore.getAs[Double]("fidelity")}%.3f " +
      f"diversity=${probeBefore.getAs[Double]("diversity")}%.3f")
    ops.Sketches.retrainAnnIndex(spark, d, name)
    // The retrain records its own probe: the stored series recovers
    // immediately, not at the next upsert.
    val storedAfter = ops.Sketches.annDriftMetric(spark, d, name)
    assert(storedAfter.isDefined && storedAfter.get > storedBefore.get &&
      storedAfter.get >= 0.8,
      f"stored drift metric did not recover: " +
        f"${storedBefore.get}%.3f -> ${storedAfter.get}%.3f")
    // The stored recall/fidelity ride along as context only: each
    // probe grades its OWN query population (the drifted batch before,
    // a store sample after), so the recall series is not comparable
    // across probes — the thresholded diversity metric above is the
    // like-for-like signal, and the end-to-end drifted-recall check
    // below is the real recovery witness.
    val probeAfter = ops.Sketches.annDriftProbes(spark, d, name)
      .orderBy(col("seq").desc).limit(1).collect()(0)
    info(f"stored after: recall=${probeAfter.getAs[Double]("recall")}%.3f " +
      f"fidelity=${probeAfter.getAs[Double]("fidelity")}%.3f " +
      f"diversity=${probeAfter.getAs[Double]("diversity")}%.3f")
    val after = recall(50)
    info(f"tiny-pool drift recall (context): before=$before%.3f after=$after%.3f")
    // The retrained codebook actually changed (vacuity guard)...
    val sharedCb = ops.Sketches.pqCodebook(spark, d)
      .select("m", "cid", "cv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSet
    val namedCb = ops.Sketches.pqCodebook(spark, d, name)
      .select("m", "cid", "cv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2))).toSet
    assert(namedCb !== sharedCb, "retrain left the PQ codebook unchanged")
    // END-TO-END PIN, calibrated by MEASUREMENT (r19, exact replay of
    // the integer pipeline): at tiny pools this cone fixture shows
    // retraining REDUCING intra-cone ADC resolution (pool n/50: 0.512
    // stale -> 0.301 retrained; n/20: 0.707 -> 0.634) — the
    // distortion-optimal codebook correctly gives the tight cone FEW
    // codewords, trading exactly the within-cone ranking the tiny
    // pool depends on. That is a property of optimal quantization,
    // not a defect, and it is why the drift CONTRACT thresholds the
    // code-space diversity metric (asserted above) rather than
    // tiny-pool recall. What must hold end-to-end: at a pool sized
    // for a store with a known near-dup cluster (>= cluster size,
    // n/5 here), the exact rerank recovers the true top-3 both
    // before and after — the retrain may not HARM adequately-pooled
    // retrieval.
    val afterWide = recall(5)
    info(f"wide-pool recall after retrain: $afterWide%.3f")
    assert(afterWide >= 0.95,
      f"retrain harmed adequately-pooled retrieval: $afterWide%.3f")

    // Post-retrain lockstep: a fresh upsert encodes against the NEW
    // codebooks, and artifacts equal a frozen-codebook rebuild over the
    // grown store — the same pin as the shared-codebook upsert spec.
    // vec 0 is excluded: drift(v0) = 1.4·v0 is COLINEAR with v0 (u IS
    // v0), so its drifted copy legitimately ties the verbatim copy at
    // cos 1.0 and the id tiebreak picks the drifted one.
    val batch2 = base.filter(col("vec_id") % 101 === 0 && col("vec_id") > 0)
      .select((col("vec_id") + 4000000L).as("vec_id"), col("embedding"))
    ops.Sketches.upsertIntoAnnIndex(spark, d, batch2, name)
    val grown = base.unionByName(batch).unionByName(batch2)
    val gotAssign = ops.Sketches.ivfAssignments(spark, d, name)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantAssign = ops.Sketches.assignOf(spark, d, grown, name)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAssign === wantAssign, "post-retrain assignments != rebuild")
    val gotCodes = ops.Sketches.pqCodes(spark, d, name)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val wantCodes = ops.Sketches.codesOf(spark, d, grown, name)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotCodes === wantCodes, "post-retrain codes != rebuild")
    // End-to-end: the new batch's verbatim copies serve at d2 0.
    val q2 = base.filter(col("vec_id") % 101 === 0 && col("vec_id") > 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    ops.Sketches.ivfpqSearch(spark, d, q2,
        nprobe = c => math.ceil(0.8 * c).toInt.max(2),
        rerank = n => math.max(32, (n / 3).toInt), k = 1, name = name)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .foreach { case (qid, nid, d2) =>
        assert(nid === qid + 4000000L && d2 === 0L,
          s"post-retrain upsert not served: $qid -> ($nid, $d2)")
      }
  }

  test("sketch table: compaction folds to one row per lang with identical rollup; rebuild == from-scratch") {
    val name = "lcsk"
    val d = sf
    ops.Sketches.sketchTable(spark, d, name).count() // seed
    val docs = Tables.documents(spark, d)
    ops.Sketches.upsertIntoSketchTable(spark, d,
      docs.filter(col("doc_id") % 3 === 0)
        .select(col("lang"), concat(col("text"), lit(" upsa")).as("text")), name)
    ops.Sketches.upsertIntoSketchTable(spark, d,
      docs.filter(col("doc_id") % 5 === 1)
        .select(col("lang"), concat(col("text"), lit(" upsb")).as("text")), name)

    def rollup() = ops.Sketches.sketchTableRollup(spark, d, name)
      .select(col("lang"), hll_sketch_estimate(col("hll")).as("n"), col("cms"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    val before = rollup()
    val rowsBefore = ops.Sketches.sketchTable(spark, d, name).count()
    ops.Sketches.compactSketchTable(spark, d, name)
    val rowsAfter = ops.Sketches.sketchTable(spark, d, name).count()
    val langs = before.map(_._1).distinct.length
    assert(rowsAfter === langs.toLong && rowsAfter < rowsBefore,
      s"expected one row per lang after compaction: $rowsBefore -> $rowsAfter")
    val after = rollup()
    // CMS merges by exact counter addition — bit-identical through the
    // fold. The HLL row is the union sketch itself, so re-unioning it
    // alone preserves the estimate exactly.
    assert(after.map(t => (t._1, t._2)).toSeq === before.map(t => (t._1, t._2)).toSeq,
      "HLL estimates changed across compaction")
    assert(after.map(_._3).toSeq === before.map(_._3).toSeq,
      "CMS bytes changed across compaction")

    // Takedown path: rebuild from a retained corpus == building from
    // scratch over that corpus (sketches cannot forget row-wise).
    val retained = docs.filter(col("doc_id") % 2 === 0).select("lang", "text")
    ops.Sketches.rebuildSketchTable(spark, d, retained, name)
    val got = rollup()
    val want = graft.ops.Sketches.sketchRowsOf(retained)
      .select(col("lang"), hll_sketch_estimate(col("hll")).as("n"), col("cms"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(got.map(t => (t._1, t._2)).toSeq === want.map(t => (t._1, t._2)).toSeq,
      "rebuilt HLL != from-scratch")
    assert(got.map(_._3).toSeq === want.map(_._3).toSeq,
      "rebuilt CMS != from-scratch")
  }

  test("docGrams stage: grown corpus appends a delta only, equal to a full rebuild") {
    // r16 verdict #3: the maintained gram table must compose with the
    // Incremental/syncChanged discipline — corpus growth appends the
    // new files' (doc_id, source, gram) delta instead of re-tokenizing
    // the world, and the synced stage is bit-equal to a from-scratch
    // build over the grown corpus.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_docgrams_grow").toString
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 2 === 0)
      .write.parquet(Tables.path(dir, "documents"))
    ops.TextSim.warmDocGramStage(spark, dir)
    val before = ops.TextSim.docGrams(spark, dir)
    val filesBefore = before.inputFiles.toSet
    // nothing moved -> no-op
    assert(ops.TextSim.syncDocGrams(spark, dir) === Set.empty)
    // the corpus grows by new files carrying NEW documents
    docs.filter(col("doc_id") % 2 === 1)
      .write.mode("append").parquet(Tables.path(dir, "documents"))
    val added = ops.TextSim.syncDocGrams(spark, dir)
    assert(added.nonEmpty, "sync did not see the appended files")
    // DELTA, not rebuild: every pre-sync stage file is still served
    val after = ops.TextSim.docGrams(spark, dir)
    assert(filesBefore.subsetOf(after.inputFiles.toSet),
      "sync rebuilt the stage instead of appending the delta")
    // synced stage == from-scratch build over the grown corpus (a
    // fresh session's stage slot is cold, so it derives the full table)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    val s2 = spark.newSession()
    assert(rows(after) === rows(ops.TextSim.docGrams(s2, dir)),
      "synced gram table diverges from a full rebuild")
    // a second sync is a no-op (the listing advanced)
    assert(ops.TextSim.syncDocGrams(spark, dir) === Set.empty)
  }

  test("docGrams sync: overlapping doc_ids refuse; a shrunk corpus rebuilds loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_docgrams_edit").toString
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 2 === 0)
      .write.parquet(Tables.path(dir, "documents"))
    ops.TextSim.warmDocGramStage(spark, dir)
    // an appended file RE-CARRYING an indexed doc_id would duplicate
    // its gram rows past the per-document distinct — refuse loudly
    docs.filter(col("doc_id") % 2 === 0).limit(3)
      .write.mode("append").parquet(Tables.path(dir, "documents"))
    val ex = intercept[IllegalArgumentException] {
      ops.TextSim.syncDocGrams(spark, dir)
    }
    assert(ex.getMessage.contains("re-carry"), ex.getMessage)
    // shrink/replace: the delta cannot express it — the sync REBUILDS
    // (and says so by returning the moved files), and the rebuilt
    // stage equals a from-scratch build of the live corpus
    Local.rmTree(new java.io.File(Tables.path(dir, "documents")))
    docs.filter(col("doc_id") % 4 === 0)
      .write.parquet(Tables.path(dir, "documents"))
    val moved = ops.TextSim.syncDocGrams(spark, dir)
    assert(moved.nonEmpty)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sorted.toSeq
    val s2 = spark.newSession()
    assert(rows(ops.TextSim.docGrams(spark, dir)) ===
      rows(ops.TextSim.docGrams(s2, dir)),
      "post-shrink rebuild diverges from a from-scratch build")
  }

  test("docGrams sync: a re-carried GRAM-LESS doc_id still refuses") {
    // r17 advice #2: a document with <3 words yields zero 3-grams, so
    // its doc_id never appears in the gram table — a guard derived
    // from the gram table would let a re-carried copy slip through.
    // The guard must come from the documents under the recorded
    // listing instead.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_docgrams_gramless").toString
    val base = Tables.documents(spark, sf).filter(col("doc_id") % 2 === 0)
    // doc_id 999999 is gram-less: two words < the 3-gram window
    val gramless = spark.sql(
      "select cast(999999 as bigint) as doc_id, 'too short' as text, " +
        "'en' as lang, 'web' as source, cast(9 as bigint) as n_chars")
    base.unionByName(gramless.select(base.columns.map(col).toSeq: _*))
      .write.parquet(Tables.path(dir, "documents"))
    ops.TextSim.warmDocGramStage(spark, dir)
    assert(ops.TextSim.docGrams(spark, dir)
      .filter(col("doc_id") === 999999).isEmpty,
      "precondition: the short doc must have no gram rows")
    gramless.select(base.columns.map(col).toSeq: _*)
      .write.mode("append").parquet(Tables.path(dir, "documents"))
    val ex = intercept[IllegalArgumentException] {
      ops.TextSim.syncDocGrams(spark, dir)
    }
    assert(ex.getMessage.contains("re-carry"), ex.getMessage)
  }
}
