package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One contract entry (SURVEY.md §2): a named query plus, when the
  * semantics are expressible in DuckDB 1.0.0 SQL, the oracle text the
  * driver hash-compares against.
  *
  * Authoring rules (SURVEY §2.13 — violating any silently zeroes t2):
  * total ORDER BY with tie-break ids in BOTH texts; every double
  * aggregate wrapped in round(); NULLS FIRST/LAST spelled explicitly in
  * the DuckDB text; never output timestamp/decimal/array/map columns;
  * events/embeddings only via [[Tables]]; identical output column names
  * on both sides (the driver sorts columns by name before hashing).
  *
  * `reads` names the [[Registry.chains]] whose stages the query reads:
  * run warm, it builds no stage of its own (BenchSpec pins this against
  * perfbench's stage-dir column). A stage-free query reads none.
  */
final case class QuerySpec(
    name: String,
    oracle: Option[String],
    df: (SparkSession, String) => DataFrame,
    reads: Seq[String] = Nil
)

object QuerySpec {
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Per-invocation unique temp-view name, so queries that go through
    * `spark.sql` never race on a shared view name if the harness ever
    * runs them concurrently in one session. */
  def uniqueView(prefix: String): String =
    s"${prefix}_${viewCounter.incrementAndGet()}"

  /** Register `df` under a unique temp view, build a DataFrame from the
    * view name, then DROP the view before returning. `spark.sql`
    * analyzes eagerly (the plan resolves the view at call time), so the
    * returned frame survives the drop — and long-lived sessions (bench
    * loops, concurrent harness runs) no longer accumulate one catalog
    * entry per query invocation. */
  def withTempView(s: SparkSession, prefix: String,
      df: DataFrame)(body: String => DataFrame): DataFrame = {
    val v = uniqueView(prefix)
    df.createOrReplaceTempView(v)
    try body(v) finally s.catalog.dropTempView(v)
  }

  def sql(name: String, oracle: String, reads: String*)(
      df: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, Some(oracle.stripMargin.trim), df, reads)

  /** Implemented + benchmarked, but no DuckDB-expressible oracle
    * (approx sketches, LSH candidate generation, ...). */
  def noOracle(name: String, reads: String*)(
      df: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, None, df, reads)
}
