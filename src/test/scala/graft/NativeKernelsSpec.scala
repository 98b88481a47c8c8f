package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** Unit-level contracts of the native text kernels: the hashed-gram
  * kernel must count exactly like the string formulation (the property
  * every oracle relies on), and the pair expansion must emit each
  * unordered pair once, ordered (lo, hi).
  */
class NativeKernelsSpec extends AnyFunSuite {
  import TestSpark._

  test("WordGramHashes counts grams exactly like the string formulation") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // Per-document distinct-gram counts must agree between the hashed
    // kernel and the string HOF — collisions would show as a lower
    // hashed count; windowing bugs as any difference at all.
    val hashed = docs
      .select(col("doc_id"),
        explode(VectorFunctions.wordGramHashes(col("ws"))).as("g"))
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val strings = docs
      .select(col("doc_id"),
        explode(graft.ops.TextSim.wordGrams3("ws")).as("g"))
      .groupBy("doc_id").agg(countDistinct(col("g")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hashed === strings)
    assert(hashed.nonEmpty)
    // Short docs: < 3 words → zero grams, not an error.
    import spark.implicits._
    val tiny = Seq(Seq("one", "two")).toDF("ws")
      .select(size(VectorFunctions.wordGramHashes(col("ws"))).as("n"))
      .head().getInt(0)
    assert(tiny === 0)
  }

  test("WordKGramHashes: k=3 is bit-identical to WordGramHashes; k=8 " +
      "window classes match the string formulation (r21)") {
    // k=3 must reproduce the existing kernel exactly — same seed chain.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    assert(docs.select(
        VectorFunctions.wordGramHashes(col("ws")).as("a"),
        VectorFunctions.wordKGramHashes(col("ws"), 3).as("b"))
      .filter(col("a") =!= col("b")).count() === 0L)
    // k=8: per-doc counts (total and distinct) must agree with the
    // interpreted string-window formulation it replaced in
    // q_dedup_substring / q_dedup_spans / q_text_boilerplate —
    // a collision or off-by-one window would show as a difference.
    val hashed = docs.select(col("doc_id"),
        explode(VectorFunctions.wordKGramHashes(col("ws"), 8)).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("g")).as("nd"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val strings = docs
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 7)," +
          " i -> array_join(slice(ws, i, 8), ' '))")).as("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("g")).as("nd"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(hashed === strings)
    assert(hashed.nonEmpty)
    // < k words → zero windows, not an error.
    import spark.implicits._
    val tiny = Seq(Seq("a", "b", "c", "d", "e", "f", "g")).toDF("ws")
      .select(size(VectorFunctions.wordKGramHashes(col("ws"), 8)).as("n"))
      .head().getInt(0)
    assert(tiny === 0)
  }

  test("SortedIdPairs emits each unordered pair once, as (lo, hi)") {
    import spark.implicits._
    val got = Seq(Seq(3L, 1L, 2L)).toDF("ids")
      .select(explode(VectorFunctions.sortedIdPairs(col("ids"))).as("p"))
      .select("p.ida", "p.idb")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val empty = Seq(Seq(7L)).toDF("ids")
      .select(size(VectorFunctions.sortedIdPairs(col("ids"))).as("n"))
      .head().getInt(0)
    assert(empty === 0)
  }

  test("CharSetString equals the interpreted distinct/sort/join formulation") {
    // The canonical charset key must be byte-identical to the
    // interpreted pipeline it replaced (binary string sort == ascending
    // code-point order) — pinned on the fixture corpus and on edge
    // literals (duplicates, digits, uppercase, non-ASCII, single char).
    val onFixture = Tables.documents(spark, sf)
      .select(
        VectorFunctions.charSet(col("text")).as("native"),
        array_join(array_sort(array_distinct(split(col("text"), ""))), "")
          .as("interpreted"))
    assert(onFixture.filter(col("native") =!= col("interpreted")).count() === 0L)
    assert(onFixture.count() > 0)
    import spark.implicits._
    val edge = Seq("abba", "ABC abc 123", "привет мир", "z", "  ")
      .toDF("t")
      .select(
        VectorFunctions.charSet(col("t")).as("native"),
        array_join(array_sort(array_distinct(split(col("t"), ""))), "")
          .as("interpreted"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    edge.foreach { case (n, i) => assert(n === i, s"charSet mismatch: $n != $i") }
    assert(edge.head._1 === "ab")
    assert(edge(4)._1 === " ")
  }

  // ---- seeded-random generative sweeps --------------------------------
  // Property-style coverage without wall-clock flake: a FIXED seed
  // drives a few hundred random cases per kernel through Spark in one
  // job each, compared against the interpreted reference formulation
  // (or an in-JVM reference for the pair expansion). Catches the edge
  // geometry example-based cases miss — empty inputs, duplicates,
  // multi-byte characters, adversarial orderings.

  test("charSet matches the interpreted formulation on random mixed-alphabet strings") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // BMP alphabet with 1-, 2- and 3-byte UTF-8 characters, repeats,
    // separators; lengths 0-39 (length 0 exercises the empty string).
    val alphabet = "abcxyz XYZ019.,;-_éжü§€"
    val cases = (1 to 300).map { _ =>
      val len = rnd.nextInt(40)
      (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val bad = cases.toDF("t")
      .select(col("t"),
        VectorFunctions.charSet(col("t")).as("native"),
        array_join(array_sort(array_distinct(split(col("t"), ""))), "")
          .as("interpreted"))
      .filter(col("native") =!= col("interpreted"))
      .collect()
    assert(bad.isEmpty,
      s"charSet diverged on: ${bad.take(3).map(_.getString(0)).mkString("|")}")
  }

  test("wordGramHashes tracks the string formulation on random word arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    // Vocabulary honors the producer contract: `ws` always comes from
    // split(text, " "), so a word can never CONTAIN a space. (The sweep
    // originally included "a a" and caught the two formulations
    // diverging there — the string form's space-join collapses
    // ["a a","a"] with ["a","a a"], while the hash kernel keeps word
    // boundaries distinct. Out of contract, so excluded; the kernel's
    // boundary-aware behavior is the safer of the two.)
    val vocab = Vector("a", "bb", "ccc", "dd", "é9", "", "xyz", "LONGword9")
    val cases = (1 to 300).map { _ =>
      val n = rnd.nextInt(9) // 0-8 words: below, at, above the gram window
      (0 until n).map(_ => vocab(rnd.nextInt(vocab.length)))
    }
    val bad = cases.toDF("ws")
      .select(col("ws"),
        size(array_distinct(VectorFunctions.wordGramHashes(col("ws"))))
          .as("nh"),
        size(array_distinct(graft.ops.TextSim.wordGrams3("ws"))).as("ns"))
      .filter(col("nh") =!= col("ns"))
      .collect()
    assert(bad.isEmpty,
      s"gram counts diverged on: ${bad.take(3).map(_.getSeq[String](0)).mkString("|")}")
  }

  test("sortedIdPairs matches the sort-then-position-pairs reference on random arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(44)
    // Small value range FORCES duplicates: the kernel's contract on
    // them is positional (a duplicated id pairs with itself), pinned
    // here against the in-JVM reference.
    val cases = (1 to 200).map { i =>
      (i.toLong, (0 until rnd.nextInt(8)).map(_ => (rnd.nextInt(11) - 5).toLong))
    }
    def ref(ids: Seq[Long]): Seq[(Long, Long)] = {
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield (s(i), s(j))
    }
    val got = cases.toDF("case_id", "ids")
      .select(col("case_id"), VectorFunctions.sortedIdPairs(col("ids")).as("ps"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
        .map(p => (p.getLong(0), p.getLong(1)))).toMap
    cases.foreach { case (id, ids) =>
      assert(got(id) === ref(ids), s"pairs diverged for input $ids")
    }
  }

  // ---- CappedIdSet: the postings-build aggregate's unit contract ------
  // A wrongly-dropped group (spurious NULL) only SHRINKS candidate sets
  // downstream, which the oracle cannot see — so the cap boundary,
  // merge, and serde paths get direct pins here.

  test("CappedIdSet equals array_sort(collect_set) with a size filter") {
    import spark.implicits._
    val cap = 5
    // Group sizes straddle the cap: 1=under, 2=exactly at, 3=one over;
    // 4 is at-cap only AFTER dedup (duplicates must not count twice);
    // 5 holds a single id repeated many times.
    val rows =
      (1L to 4L).map(i => (1L, i)) ++
      (1L to 5L).map(i => (2L, i)) ++
      (1L to 6L).map(i => (3L, i)) ++
      (1L to 5L).flatMap(i => Seq((4L, i), (4L, i))) ++
      Seq.fill(20)((5L, 42L))
    val df = rows.toDF("g", "id").repartition(7, col("id"))
    val got = df.groupBy("g")
      .agg(VectorFunctions.cappedIdSet(col("id"), cap).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    val want = df.groupBy("g")
      .agg(when(size(collect_set(col("id"))) <= cap,
        array_sort(collect_set(col("id")))).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got === want)
    assert(got(3L) === null, "one-over-cap group must be NULL")
    assert(got(2L) === Seq(1L, 2L, 3L, 4L, 5L), "at-cap group must survive, sorted")
    assert(got(4L) === Seq(1L, 2L, 3L, 4L, 5L), "duplicates must not overflow")
    assert(got(5L) === Seq(42L))
  }

  test("CappedIdSet overflow is detected across partial buffers at merge") {
    import spark.implicits._
    val cap = 10
    // 16 distinct ids spread over 8 partitions (2 per partition): every
    // map-side partial is far under the cap, so ONLY the merge path can
    // detect the overflow. Control group: the same id in every
    // partition — cross-partition duplicates must not overflow.
    val over = (1L to 16L).map(i => (1L, i))
    val dupes = (1L to 16L).map(i => (2L, 7L))
    val df = (over ++ dupes).toDF("g", "id").repartition(8, col("id"))
    val got = df.groupBy("g")
      .agg(VectorFunctions.cappedIdSet(col("id"), cap).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(1L) === null, "merge of under-cap partials must still overflow")
    assert(got(2L) === Seq(7L))
  }

  test("CappedIdSet skips null inputs; all-null and empty groups differ from overflow") {
    import spark.implicits._
    val cap = 3
    val df = Seq((1L, Some(5L)), (1L, None), (1L, Some(5L)), (2L, None))
      .toDF("g", "id")
    val got = df.groupBy("g")
      .agg(VectorFunctions.cappedIdSet(col("id"), cap).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(got(1L) === Seq(5L), "nulls must be skipped, not counted")
    // An all-null group yields the EMPTY set (like collect_set), not
    // NULL — NULL is reserved for overflow.
    assert(got(2L) === Seq())
  }

  test("CappedIdSet buffer: cap boundary, merge both orders, serde round-trip") {
    import org.apache.spark.sql.graftnative.CappedIdSet
    import org.apache.spark.sql.catalyst.expressions.Literal
    val cap = 4
    def buf(ids: Long*): CappedIdSet.Buffer = {
      val b = new CappedIdSet.Buffer(cap)
      ids.foreach(b.add)
      b
    }
    // Exactly at the cap: clean. One more distinct: overflowed. A
    // duplicate at the cap: still clean.
    assert(!buf(1L, 2L, 3L, 4L).overflowed)
    assert(buf(1L, 2L, 3L, 4L, 5L).overflowed)
    assert(!buf(1L, 2L, 3L, 4L, 4L).overflowed)
    // Merge in both directions: overflowed absorbing clean and clean
    // absorbing overflowed must both stay/become overflowed …
    val o1 = buf(1L, 2L, 3L, 4L, 5L); o1.absorb(buf(9L))
    assert(o1.overflowed)
    val c1 = buf(9L); c1.absorb(buf(1L, 2L, 3L, 4L, 5L))
    assert(c1.overflowed)
    // … and two clean buffers overflow iff their UNION exceeds the cap
    // (overlapping ids must not double-count).
    val u = buf(1L, 2L); u.absorb(buf(2L, 3L, 4L))
    assert(!u.overflowed)
    assert(u.toArray.sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    val v = buf(1L, 2L, 3L); v.absorb(buf(4L, 5L))
    assert(v.overflowed)
    // Serde round-trips BOTH buffer states through the aggregate's
    // serializer (the spill/exchange path).
    val agg = CappedIdSet(Literal(1L), cap)
    val clean2 = agg.deserialize(agg.serialize(buf(3L, 1L, 2L)))
    assert(!clean2.overflowed)
    assert(clean2.toArray.sorted.toSeq === Seq(1L, 2L, 3L))
    val over2 = agg.deserialize(agg.serialize(buf(1L, 2L, 3L, 4L, 5L)))
    assert(over2.overflowed)
    // A deserialized overflowed buffer keeps poisoning merges.
    val c2 = buf(7L); c2.absorb(over2)
    assert(c2.overflowed)
  }

  test("CmsMergeAgg: serde round-trip, empty-group identity, incompatible shapes rejected") {
    import org.apache.spark.sql.graftnative.CmsMergeAgg
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    import org.apache.spark.util.sketch.CountMinSketch
    val agg = CmsMergeAgg(Literal.create(null, BinaryType), 0.01, 0.9, 7)
    // serialize/deserialize round-trips counts (the spill path).
    val s1 = CountMinSketch.create(0.01, 0.9, 7)
    s1.addBinary("alpha".getBytes("UTF-8"))
    s1.addBinary("alpha".getBytes("UTF-8"))
    val rt = agg.deserialize(agg.serialize(s1))
    assert(rt.estimateCount("alpha".getBytes("UTF-8")) === 2L)
    // Merging an EMPTY (all-zero) buffer is the identity.
    val merged = agg.merge(rt, agg.createAggregationBuffer())
    assert(merged.estimateCount("alpha".getBytes("UTF-8")) === 2L)
    // A sketch with a different shape must be REJECTED, not mis-added.
    val wrong = CountMinSketch.create(0.1, 0.9, 7)
    intercept[Exception] { agg.merge(rt, wrong) }
  }

  test("CmsEstimates probes hash exactly like count_min_sketch ingestion") {
    import graft.functions.SketchFunctions
    // One known multiset through the REAL aggregate, probed back: the
    // estimate of a word that appears k times in a collision-free
    // sketch (eps tiny, 9 tokens) is exactly k, and the absent word 0.
    val words = Seq("a", "a", "a", "b", "b", "c", "c", "c", "c")
    val df = spark.createDataFrame(words.map(Tuple1(_))).toDF("w")
      .agg(count_min_sketch(col("w"), lit(0.001), lit(0.99), lit(5)).as("cms"))
      .select(SketchFunctions.cmsEstimates(col("cms"),
        array(lit("a"), lit("b"), lit("c"), lit("zz"))).as("est"))
    assert(df.head().getSeq[Long](0) === Seq(3L, 2L, 4L, 0L))
    // A NULL probe element estimates to NULL (no sketch contains one —
    // the building aggregate skips nulls), never an executor NPE.
    val withNull = spark.createDataFrame(words.map(Tuple1(_))).toDF("w")
      .agg(count_min_sketch(col("w"), lit(0.001), lit(0.99), lit(5)).as("cms"))
      .select(SketchFunctions.cmsEstimates(col("cms"),
        array(lit("a"), lit(null).cast("string"))).as("est"))
      .head().getSeq[Any](0)
    assert(withNull === Seq(3L, null))
  }

  test("TopKByScore: heap == sort-take-k reference on seeded random streams") {
    import org.apache.spark.sql.graftnative.TopKByScore
    val rnd = new scala.util.Random(4242)
    (1 to 20).foreach { trial =>
      val k = 1 + rnd.nextInt(6)
      val n = rnd.nextInt(40)
      // Duplicate scores on purpose: ties must break by smaller id.
      val entries = Seq.fill(n)((rnd.nextInt(8).toDouble, rnd.nextLong()))
      val b = new TopKByScore.Buffer(k)
      entries.foreach { case (s, i) => b.add(s, i) }
      val (gs, gi) = b.ranked
      val want = entries.distinct
        .sortBy { case (s, i) => (-s, i) }
      // The buffer keeps duplicates (same (s,i) twice counts twice) —
      // compare against the NON-distinct reference.
      val wantAll = entries.sortBy { case (s, i) => (-s, i) }.take(k)
      assert(gs.zip(gi).toSeq === wantAll,
        s"trial $trial (k=$k, n=$n): ${gs.zip(gi).toSeq} != $wantAll")
      assert(want.nonEmpty || n == 0)
    }
  }

  test("TopKByScore: NaN scores rank above all doubles (Spark DESC order)") {
    import org.apache.spark.sql.graftnative.TopKByScore
    // Double.compare total order: NaN > +Inf > finite. Naive </== would
    // silently drop NaN entries when full and break the heap invariant
    // while filling; the oracle (row_number DESC) keeps NaN first.
    val nan = Double.NaN
    val b = new TopKByScore.Buffer(3)
    Seq((1.0, 10L), (nan, 20L), (5.0, 30L), (nan, 5L), (9.0, 40L))
      .foreach { case (s, i) => b.add(s, i) }
    val (gs, gi) = b.ranked
    // Rank: NaN(id 5), NaN(id 20), 9.0(id 40) — score DESC, ties id ASC.
    assert(gi.toSeq === Seq(5L, 20L, 40L), s"got ${gs.toSeq} / ${gi.toSeq}")
    assert(gs.take(2).forall(_.isNaN) && gs(2) === 9.0)
    // NaN arriving when the buffer is already full must still displace
    // a weaker finite entry.
    val c = new TopKByScore.Buffer(2)
    Seq((1.0, 1L), (2.0, 2L), (nan, 3L)).foreach { case (s, i) => c.add(s, i) }
    assert(c.ranked._2.toSeq === Seq(3L, 2L))
  }

  test("TopKByScore: merge is order-invariant; k beyond group size keeps all") {
    import org.apache.spark.sql.graftnative.TopKByScore
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(30)((rnd.nextInt(5).toDouble, rnd.nextLong()))
    val (l, r) = xs.splitAt(11)
    def fill(es: Seq[(Double, Long)], k: Int) = {
      val b = new TopKByScore.Buffer(k)
      es.foreach { case (s, i) => b.add(s, i) }
      b
    }
    val ab = fill(l, 4); ab.absorb(fill(r, 4))
    val ba = fill(r, 4); ba.absorb(fill(l, 4))
    val whole = fill(xs, 4)
    assert(ab.ranked._1.toSeq === ba.ranked._1.toSeq)
    assert(ab.ranked._2.toSeq === ba.ranked._2.toSeq)
    assert(ab.ranked._2.toSeq === whole.ranked._2.toSeq)
    // k larger than the stream: everything survives, rank-ordered.
    val big = fill(xs.take(3), 10)
    assert(big.ranked._2.length === 3)
  }

  test("TopKByScore: DataFrame aggregate == row_number window, many partitions") {
    import spark.implicits._
    // 7 partitions force the partial-buffer serialize/merge path.
    val rnd = new scala.util.Random(99)
    val rows = Seq.tabulate(500)(i =>
      (rnd.nextInt(12).toLong, rnd.nextInt(9).toDouble, i.toLong))
    val df = spark.createDataset(rows).toDF("g", "score", "id")
      .repartition(7)
    val got = df.groupBy("g")
      .agg(graft.functions.VectorFunctions.topKByScore(
        col("score"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("g"), col("t.id"), (col("i") + 1).cast("long").as("rn"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(col("score").desc, col("id"))
    val want = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("g"), col("id"), col("rn").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("CharEntropyStats matches the explode/groupBy formulation at 6 dp") {
    // The kernel replaced a two-shuffle plan; pin value equality on the
    // fixture corpus (rounded at 6, the query contract's own precision)
    // and distinct-count equality exactly.
    val kernel = Tables.documents(spark, sf)
      .select(col("doc_id"),
        VectorFunctions.charEntropy(col("text")).as("st"))
      .select(col("doc_id"), col("st.n_distinct_chars").as("nd"),
        round(col("st.entropy"), 6).as("h"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val f = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("n"))
    val composed = f.groupBy("doc_id")
      .agg(count(lit(1)).as("nd"),
        round(log2(sum("n").cast("double"))
          - sum(col("n") * log2(col("n").cast("double"))) / sum("n"), 6)
          .as("h"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(kernel === composed)
    assert(kernel.nonEmpty)
    // Edge literals: uniform text (entropy 2 exactly over 4 symbols),
    // single repeated char (entropy 0), non-BMP code points count as
    // ONE char each, empty string → (0, null).
    import spark.implicits._
    val edge = Seq("abcd", "aaaa", "𝄞𝄞a", "")
      .toDF("t")
      .select(VectorFunctions.charEntropy(col("t")).as("st"))
      .select(col("st.n_distinct_chars"), col("st.entropy"))
      .collect()
    assert(edge(0).getLong(0) === 4L && math.abs(edge(0).getDouble(1) - 2.0) < 1e-12)
    assert(edge(1).getLong(0) === 1L && edge(1).getDouble(1) === 0.0)
    assert(edge(2).getLong(0) === 2L)
    assert(edge(3).getLong(0) === 0L && edge(3).isNullAt(1))
  }

  test("MinGramMd5 equals the array_min/transform formulation exactly") {
    val both = Tables.documents(spark, sf)
      .select(
        VectorFunctions.minGramMd5(col("text"), 8).as("native"),
        expr("array_min(transform(sequence(1, greatest(length(text) - 7, 1))," +
          " i -> md5(substring(text, i, 8))))").as("interpreted"))
    assert(both.filter(col("native") =!= col("interpreted")).count() === 0L)
    assert(both.count() > 0)
    // Short strings hash the whole text; multi-byte text slices on
    // code-point boundaries (both pinned against builtin md5).
    import spark.implicits._
    val edge = Seq("hi", "exactly8", "привет мир и всем", "𝄞abcdefgh")
      .toDF("t")
      .select(
        VectorFunctions.minGramMd5(col("t"), 8).as("native"),
        expr("array_min(transform(sequence(1, greatest(length(t) - 7, 1))," +
          " i -> md5(substring(t, i, 8))))").as("interpreted"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    edge.foreach { case (n, i) => assert(n === i, s"minGramMd5 mismatch: $n != $i") }
  }

  test("LongVecSum: fused M-step aggregate == posexplode/groupBy spelling bit-for-bit") {
    // The fused Lloyd M-step rides this equality (r22): per-group
    // element-wise sums and the truncating div by the group count must
    // reproduce the per-(group, pos) `sum div count` of the exploded
    // spelling exactly, at any partitioning.
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 7
    val rows = (0 until 500).map { i =>
      (i.toLong % 13, Seq.fill(dim)(rnd.nextLong(10000000L)))
    }
    Seq(1, 7).foreach { parts =>
      val df = rows.toDF("g", "xq").repartition(parts)
      val fused = df.groupBy("g")
        .agg(VectorFunctions.longVecSum(col("xq")).as("sv"),
          count(lit(1)).as("n"))
        .select(col("g"), expr("transform(sv, x -> x div n)").as("mv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      val exploded = df
        .select(col("g"), posexplode(col("xq")).as(Seq("pos", "x")))
        .groupBy("g", "pos").agg(expr("sum(x) div count(*)").as("cx"))
        .groupBy("g")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cx)))," +
          " p -> p.cx)").as("mv"))
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      assert(fused === exploded, s"parts=$parts")
      assert(fused.nonEmpty && fused.head._2.length === dim)
    }
    // Null ARRAYS are skipped like any aggregate input; an all-null
    // group evaluates to a null sum (nothing to divide).
    val withNulls = Seq((1L, Option(Seq(1L, 2L))), (1L, None),
      (2L, None)).toDF("g", "xq")
      .groupBy("g").agg(VectorFunctions.longVecSum(col("xq")).as("sv"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(withNulls(1L).isDefined && withNulls(2L).isEmpty)
    // Mixed lengths in one group fail loudly, never sum garbage.
    val ex = intercept[Throwable] {
      Seq((1L, Seq(1L)), (1L, Seq(1L, 2L))).toDF("g", "xq")
        .groupBy("g").agg(VectorFunctions.longVecSum(col("xq")))
        .collect()
    }
    val msgs = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("mixed array lengths"), msgs)
  }

  test("LongNearest == least(struct(l2sq, cid)) in codegen and interpreted plans") {
    import spark.implicits._
    val b = ops.Clustering.base(spark, sf).select("vec_id", "xq")
    val vecs = b.orderBy("vec_id").limit(64).collect()
      .map(_.getSeq[Long](1).toArray)
    val dim = vecs.head.length
    // a NULL, an empty and a ragged row, plus every fixture vector
    val odd = Seq((-1L, None), (-2L, Some(Seq.empty[Long])),
      (-3L, Some(vecs.head.toSeq.take(dim - 1)))).toDF("vec_id", "xq")
    val path = java.nio.file.Files.createTempDirectory("graft_nearest")
      .resolve("rows").toString
    b.unionByName(odd).write.parquet(path)
    // coinciding centroids: cids 2 and 5 repeat 0 and 1, so ties must
    // go to the lower id
    val dup = Array(vecs(0), vecs(1), vecs(0), vecs(2), vecs(3), vecs(1),
      vecs(4), vecs(5))
    def reference(cents: Array[Array[Long]]) = {
      val cands = cents.toSeq.zipWithIndex.map { case (c, j) =>
        struct(VectorFunctions.longL2Sq(col("xq"), typedLit(c.toSeq)).as("d"),
          lit(j.toLong).as("cid"))
      }
      // least() takes at least two arguments; one candidate is itself
      if (cands.size == 1) cands.head else least(cands: _*)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("vec_id"), col("_n.d"), col("_n.cid")).collect()
        .map(r => (r.getLong(0), Option(r.getAs[java.lang.Long](1))
          .map(_.longValue), r.getLong(2))).sorted.toSeq
    val cases = Seq(1, 2, 8, 64).map(k => s"k=$k" -> vecs.take(k)) :+
      ("duplicated" -> dup)
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      val df = s.read.parquet(path)
      cases.foreach { case (name, cents) =>
        val got = rows(df.withColumn("_n",
          VectorFunctions.longNearest(col("xq"), cents)))
        assert(got === rows(df.withColumn("_n", reference(cents))),
          s"$name, $mode")
        assert(got.filter(_._1 < 0) === Seq((-3L, None, 0L), (-2L, None, 0L),
          (-1L, None, 0L)), s"$name, $mode")
        if (name == "duplicated")
          assert(!got.exists(r => r._3 == 2L || r._3 == 5L), mode)
      }
    }
  }

  test("LongNearest at K = 65 and 1024 and over a slice(xq, …) input == a driver argmin") {
    // Past the old 64-centroid literal bound the kernel serves every
    // exact K, and the ANN encoders feed it PQ subspace slices; the
    // reference is the same contract spelled on the driver.
    import spark.implicits._
    val b = ops.Clustering.base(spark, sf).select("vec_id", "xq")
    val vecs = b.orderBy("vec_id").limit(64).collect()
      .map(_.getSeq[Long](1).toArray)
    val dim = vecs.head.length
    val sub = dim / 8
    val odd = Seq((-1L, None), (-2L, Some(Seq.empty[Long])),
      (-3L, Some(vecs.head.toSeq.take(dim - 1)))).toDF("vec_id", "xq")
    val path = java.nio.file.Files.createTempDirectory("graft_nearest_k")
      .resolve("rows").toString
    b.unionByName(odd).write.parquet(path)
    val input = spark.read.parquet(path).collect()
      .map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toSeq
    // k distinct centroids: the fixture vectors, shifted per copy of 64
    def shifted(k: Int) =
      Array.tabulate(k)(j => vecs(j % 64).map(_ + (j / 64) * 1000L))
    // the kernel's contract: (NULL, 0) for a NULL, empty or ragged row,
    // else the smallest integer L2, ties to the lower cid
    def argmin(x: Option[Seq[Long]], cents: Array[Array[Long]]) = x match {
      case Some(v) if v.nonEmpty && v.length == cents.head.length =>
        val ds = cents.map(c => c.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum)
        (Some(ds.min), ds.indexOf(ds.min).toLong)
      case _ => (None, 0L)
    }
    val cases = Seq(
      ("k=65", col("xq"), shifted(65), (x: Seq[Long]) => x),
      ("k=1024", col("xq"), shifted(1024), (x: Seq[Long]) => x),
      ("slice", expr(s"slice(xq, ${sub + 1}, $sub)"),
        vecs.map(_.slice(sub, 2 * sub)), (x: Seq[Long]) => x.slice(sub, 2 * sub)))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val s = spark.newSession()
      s.conf.set("spark.sql.codegen.factoryMode", mode)
      s.conf.set("spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString)
      val df = s.read.parquet(path)
      cases.foreach { case (name, v, cents, f) =>
        val got = df.select(col("vec_id"),
            VectorFunctions.longNearest(v, cents).as("n"))
          .select(col("vec_id"), col("n.d"), col("n.cid")).collect()
          .map(r => (r.getLong(0), Option(r.getAs[java.lang.Long](1))
            .map(_.longValue), r.getLong(2))).sorted.toSeq
        val want = input.map { case (id, x) =>
          val (d, c) = argmin(x.map(f), cents); (id, d, c) }.sorted
        assert(got === want, s"$name, $mode")
      }
    }
  }

  test("LongNearest generates the same code for every K; equality is by content") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.graftnative.LongNearest
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val b = ops.Clustering.base(spark, sf)
    val cents = b.orderBy("vec_id").limit(8).collect()
      .map(_.getAs[Seq[Long]]("xq").toArray)
    def code(cs: Array[Array[Long]]) = {
      val plan = b.select(VectorFunctions.longNearest(col("xq"), cs).as("n"))
        .queryExecution.executedPlan
      org.apache.spark.sql.execution.debug.codegenStringSeq(plan).map(_._2)
    }
    assert(code(cents.take(2)).nonEmpty)
    assert(code(cents.take(2)) === code(cents))
    val x = AttributeReference("xq", ArrayType(LongType))()
    val e1 = LongNearest(x, Array(Array(1L, 2L), Array(3L, 4L)))
    val e2 = LongNearest(x, Array(Array(1L, 2L), Array(3L, 4L)))
    val e3 = LongNearest(x, Array(Array(1L, 2L), Array(3L, 5L)))
    assert(e1 == e2 && e1.hashCode == e2.hashCode)
    assert(e1.semanticEquals(e2) && e1.semanticHash() == e2.semanticHash())
    assert(e1 != e3 && !e1.semanticEquals(e3))
  }
}
