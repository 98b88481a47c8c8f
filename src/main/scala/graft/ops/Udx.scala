package graft.ops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** User-defined function surface (SURVEY §2.11): scalar UDF, typed UDAF,
  * and a generator (UDTF). FileMap's ethos is "any shell command is an
  * operator"; the Spark translation is "any Scala function is an
  * operator" — registered once, then usable from both the DSL and SQL.
  *
  * Each query's semantics are deliberately chosen to be expressible in
  * plain DuckDB SQL so the differential oracle still applies to custom
  * code. Scale note: a JVM scalar UDF runs inside whole-stage codegen as
  * a black-box call — fine for per-row logic; the typed Aggregator gets
  * partial (map-side) aggregation exactly like a built-in, so the UDAF
  * shuffles only one (sum, count) pair per group per partition.
  */
object Udx {

  /** Geometric mean as a typed Aggregator: buffer = (sum of logs, n).
    * Merge-associative, so Spark plans it as partial+final aggregation.
    */
  private class GeoMean extends Aggregator[Double, (Double, Long), Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), x: Double): (Double, Long) =
      (b._1 + math.log(x), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Double, Long)): Double =
      if (r._2 == 0) Double.NaN else math.exp(r._1 / r._2)
    def bufferEncoder = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
    def outputEncoder = Encoders.scalaDouble
  }

  /** Misra-Gries heavy-hitters sketch as a typed Aggregator: buffer =
    * at most k counters (the classic decrement-all-on-overflow rule),
    * merged pairwise with the standard counter-join + global decrement.
    * Guarantee: every item with true frequency > n/(k+1) survives, and
    * each sketch estimate undercounts by at most n/(k+1) — verified
    * against exact counts in UdxSpec. Fixed-size mergeable state is
    * the 100 TB shape for top-terms over a corpus (the exact groupBy
    * would shuffle the full vocabulary).
    */
  private class MisraGries(k: Int)
      extends Aggregator[String, scala.collection.mutable.HashMap[String, Long],
        Map[String, Long]] {
    private type Buf = scala.collection.mutable.HashMap[String, Long]
    def zero: Buf = scala.collection.mutable.HashMap.empty

    // The buffer is MUTATED in place — an Aggregator owns its buffer
    // between calls, and the hot path runs once per token, so the
    // persistent-Map version's per-token allocation was pure GC load.
    private def add(b: Buf, x: String, w: Long): Buf = {
      if (b.contains(x) || b.size < k) b.update(x, b.getOrElse(x, 0L) + w)
      else {
        // Decrement all k counters by the smallest, dropping zeros —
        // the amortized form of k+1 pairwise decrements.
        val dec = math.min(w, b.values.min)
        b.mapValuesInPlace((_, c) => c - dec)
        b.filterInPlace((_, c) => c > 0)
        if (w > dec) b.update(x, w - dec)
      }
      b
    }

    def reduce(b: Buf, x: String): Buf = add(b, x, 1L)
    def merge(a: Buf, b: Buf): Buf =
      b.foldLeft(a) { case (acc, (x, w)) => add(acc, x, w) }
    def finish(r: Buf): Map[String, Long] = r.toMap
    // Buffer stays opaque (Kryo); the OUTPUT must be a real MapType so
    // callers can explode it back to rows.
    def bufferEncoder = Encoders.kryo[Buf]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Misra-Gries over PRE-AGGREGATED (item, weight) rows — the same
    * buffer, decrement rule, and merge as [[MisraGries]] (whose merge
    * already feeds weighted counters through `add`), driven by one row
    * per (doc, word) from the stage-cached TF table instead of one row
    * per token. The survival guarantee is weight-blind: every
    * decrement event destroys ≥ (k+1)·dec units of total mass, so any
    * item with true weighted frequency > total/(k+1) keeps a positive
    * counter regardless of arrival order or batching — the property
    * UdxSpec checks against exact counts. */
  private[graft] class MisraGriesW(k: Int)
      extends Aggregator[(String, Long),
        scala.collection.mutable.HashMap[String, Long], Map[String, Long]] {
    private type Buf = scala.collection.mutable.HashMap[String, Long]
    def zero: Buf = scala.collection.mutable.HashMap.empty

    private def add(b: Buf, x: String, w: Long): Buf = {
      if (b.contains(x) || b.size < k) b.update(x, b.getOrElse(x, 0L) + w)
      else {
        val dec = math.min(w, b.values.min)
        b.mapValuesInPlace((_, c) => c - dec)
        b.filterInPlace((_, c) => c > 0)
        if (w > dec) b.update(x, w - dec)
      }
      b
    }

    def reduce(b: Buf, x: (String, Long)): Buf = add(b, x._1, x._2)
    def merge(a: Buf, b: Buf): Buf =
      b.foldLeft(a) { case (acc, (x, w)) => add(acc, x, w) }
    def finish(r: Buf): Map[String, Long] = r.toMap
    def bufferEncoder = Encoders.kryo[Buf]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Counters kept by the heavy-hitters sketch; threshold = n/(K+1). */
  val HeavyHitterK = 40

  /** Pass 1 of heavy hitters: one pass producing BOTH the Misra-Gries
    * sketch and the exact token total (same aggregate), as (w, total)
    * candidate rows — the map-typed single-row sketch exploded back to
    * rows, never collected to the driver. Since r22 the pass reads the
    * stage-cached TF table ([[TextSim.tfTable]], the maintained
    * inverted-index stat) via the weighted sketch ([[MisraGriesW]])
    * instead of re-tokenizing the corpus: the exact total is Σtf, the
    * sketch sees each (word, tf) once, and the survival guarantee —
    * everything above total/(K+1) is a candidate — is arrival-order-
    * and batching-independent, so the verified output is unchanged. */
  def heavyHitterCandidates(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, sum}
    val mg = udaf(new MisraGriesW(HeavyHitterK),
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    graft.ops.TextSim.tfTable(s, d)
      .agg(mg(col("word"), col("tf")).as("sk"), sum(col("tf")).as("total"))
      .select(explode(col("sk")).as(Seq("w", "lb")), col("total"))
      .select("w", "total")
  }

  val specs: Seq[QuerySpec] = Seq(

    // Heavy hitters via sketch + exact verify, two corpus passes: pass
    // 1 runs the Misra-Gries Aggregator AND the token total in one
    // aggregate (fixed-size state, no vocabulary shuffle); pass 2
    // counts ONLY the <= K candidates exactly (broadcast join before
    // the groupBy, so the shuffle carries K words, not the
    // vocabulary). The guarantee — every word with frequency > n/(K+1)
    // survives pass 1 — makes the verified output EQUAL the exact
    // heavy-hitter set, so this sketch query is fully deterministic
    // and oracle-checkable even though raw counter values are
    // merge-order-dependent.
    QuerySpec.sql("q_text_topterms_sketch",
      s"""WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |t AS (SELECT count(*) AS total FROM tok),
        |hh AS (SELECT w, count(*) AS n FROM tok GROUP BY w)
        |SELECT hh.w AS word, hh.n
        |FROM hh CROSS JOIN t
        |WHERE hh.n > t.total / ${HeavyHitterK + 1}.0
        |ORDER BY n DESC, word""", "text_stats") { (s, d) =>
      val cand = heavyHitterCandidates(s, d)
      // Pass 2 (exact verify) also reads the TF table: the exact count
      // of a candidate word is Σ its per-doc tf — identical to counting
      // exploded tokens — and the broadcast join before the groupBy
      // keeps the shuffle at ≤ K words either way (r22; both passes
      // were full corpus tokenizes before).
      graft.ops.TextSim.tfTable(s, d)
        .join(broadcast(cand), col("word") === col("w"))
        .groupBy("w", "total").agg(sum("tf").as("n"))
        .filter(col("n") > col("total") / (HeavyHitterK + 1).toDouble)
        .select(col("w").as("word"), col("n"))
        .orderBy(col("n").desc, col("word"))
    },

    // Scalar UDF (Q-UDF-SCALAR): distinct char-3-gram count, registered
    // and then invoked through SQL text to exercise the full
    // register-then-parse path.
    QuerySpec.sql("q_udf_scalar",
      """SELECT doc_id,
        |  CAST(len(list_distinct([substr(text, CAST(i AS INT), 3)
        |    for i in range(1, greatest(length(text) - 2, 0) + 1)])) AS INT)
        |    AS n_grams3
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      s.udf.register("graft_ngram3_count", (t: String) =>
        if (t == null || t.length < 3) 0 else t.sliding(3).toSet.size)
      Tables.documents(s, d)
        .selectExpr("doc_id", "graft_ngram3_count(text) AS n_grams3")
        .orderBy("doc_id")
    },

    // Typed UDAF (Q-UDAF-AGG): geometric mean of l_quantity per
    // returnflag; oracle is the exp(avg(ln)) identity.
    QuerySpec.sql("q_udaf_agg",
      """SELECT l_returnflag,
        |  round(exp(avg(ln(l_quantity))), 6) AS geo_qty,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""") { (s, d) =>
      val geoMean = udaf(new GeoMean)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(geoMean(col("l_quantity")), 6).as("geo_qty"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")
    },

    // Generator / UDTF (Q-UDTF-GEN): one document row fans out to one
    // row per char-3-gram with its position — a UDF building the array,
    // posexplode doing the generation (Spark's lateral-view path).
    QuerySpec.sql("q_udtf_gen",
      """WITH g AS (SELECT doc_id,
        |  unnest([{'pos': CAST(i - 1 AS INT),
        |           'gram': substr(text, CAST(i AS INT), 3)}
        |    for i in range(1, greatest(length(text) - 2, 0) + 1)]) AS u
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id, u.pos AS pos, u.gram AS gram
        |FROM g
        |ORDER BY doc_id, pos""") { (s, d) =>
      val grams = udf((t: String) =>
        if (t == null || t.length < 3) Seq.empty[String]
        else (0 to t.length - 3).map(i => t.substring(i, i + 3)))
      Tables.documents(s, d)
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), posexplode(grams(col("text"))).as(Seq("pos", "gram")))
        .orderBy("doc_id", "pos")
    }
  )
}
