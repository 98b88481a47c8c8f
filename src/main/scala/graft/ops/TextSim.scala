package graft.ops

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analytics, deduplication and similarity search (SURVEY §2.9 plus
  * the LLM-pipeline extensions: language ID, quality scoring, token
  * counting, fingerprinting, n-gram near-dup).
  *
  * Scale design:
  *  - token/n-gram pipelines are explode -> groupBy (one shuffle each,
  *    map-side combined) — the inverted-index formulation; never an
  *    all-pairs loop over documents;
  *  - n-gram near-dup joins documents THROUGH the shared-gram index
  *    (pairs are generated only for docs sharing a gram), the exact
  *    counterpart of MinHash-LSH candidate generation;
  *  - edit-distance/char-set near-dup use blocking keys
  *    (lang, n_chars bucket) so the quadratic stage is bounded per block;
  *  - vector similarity prunes to (id, vec, norm) before the pair stage
  *    and precomputes norms once.
  */
object TextSim {

  private def q(name: String, oracle: String)(
      df: (SparkSession, String) => DataFrame) = QuerySpec.sql(name, oracle)(df)

  /** Power-iteration round count for q_embed_pca's fixed-point
    * recurrence — large enough that the golden tier converges to the
    * true PC within 1e-3 (PipelineOpsSpec), small enough that the
    * DuckDB unroll (3 CTEs/round over 64-row tables) plans in ~1 s. */
  private val PcaIters = 100

  /** q_embed_pca's recurrence unrolled in DuckDB — same quantization
    * (the kmeans (x+4)*1e6 scheme), same truncating integer divisions,
    * same one-IEEE-sqrt-per-round normalization; bit-exact with the
    * Spark side by construction. CTE names are p-prefixed to stay out
    * of the shared kmeans unroll namespace. */
  private def pcaOracle: String = {
    val rounds = (1 to PcaIters).map { i =>
      val prev = s"pv${i - 1}"
      s"""pw$i AS (SELECT cv.i AS idx,
        |    CAST(sum(cv.cq * v.vq) AS BIGINT) // 1000000000 AS wd
        |  FROM cv JOIN $prev v ON cv.j = v.idx GROUP BY 1),
        |pn$i AS (SELECT CAST(round(sqrt(CAST(sum(wd * wd) AS DOUBLE)))
        |    AS BIGINT) AS nrm FROM pw$i),
        |pv$i AS MATERIALIZED (SELECT w.idx,
        |    CASE WHEN n.nrm = 0 THEN 0
        |         ELSE (w.wd * 1000000) // n.nrm END AS vq
        |  FROM pw$i w, pn$i n)"""
    }.mkString(",\n")
    s"""WITH pe AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
      |    CAST(trunc((unnest(CAST(embedding AS DOUBLE[])) + 4.0)
      |      * 1000000.0) AS BIGINT) AS xi
      |  FROM embeddings),
      |pm AS MATERIALIZED (SELECT idx,
      |    CAST(sum(xi) AS BIGINT) // CAST(count(*) AS BIGINT) AS mu
      |  FROM pe GROUP BY 1),
      |pdv AS MATERIALIZED (SELECT pe.vec_id, pe.idx, pe.xi - pm.mu AS dx
      |  FROM pe JOIN pm USING (idx)),
      |cv AS MATERIALIZED (SELECT a.idx AS i, b.idx AS j,
      |    CAST(sum(a.dx * b.dx) AS BIGINT)
      |      // (10 * (SELECT CAST(count(*) AS BIGINT) FROM embeddings))
      |      AS cq
      |  FROM pdv a JOIN pdv b USING (vec_id) GROUP BY 1, 2),
      |pv0 AS (SELECT idx, CAST(1000000 AS BIGINT) //
      |    CAST(round(sqrt(CAST((SELECT count(*) FROM pm) AS DOUBLE)))
      |      AS BIGINT) AS vq FROM pm),
      |$rounds,
      |pwq AS (SELECT cv.i AS idx,
      |    CAST(sum(cv.cq * v.vq) AS BIGINT) // 1000000 AS wq
      |  FROM cv JOIN pv$PcaIters v ON cv.j = v.idx GROUP BY 1),
      |plam AS (SELECT CAST(sum(v.vq * w.wq) AS BIGINT) // 1000000 AS lamq
      |  FROM pv$PcaIters v JOIN pwq w USING (idx)),
      |ptr AS (SELECT CAST(sum(cq) AS BIGINT) AS traceq FROM cv
      |  WHERE i = j),
      |psgn AS (SELECT CASE WHEN vq < 0 THEN -1 ELSE 1 END AS s
      |  FROM pv$PcaIters ORDER BY abs(vq) DESC, idx LIMIT 1)
      |SELECT CAST(v.idx - 1 AS BIGINT) AS idx,
      |  round((pm.mu - 4000000) / 1000000.0, 6) AS mean_d,
      |  round((SELECT s FROM psgn) * v.vq / 1000000.0, 6) AS pc1,
      |  round((SELECT lamq FROM plam) / 100000000000.0, 6) AS eigenvalue,
      |  round(CAST((SELECT lamq FROM plam) AS DOUBLE)
      |    / (SELECT traceq FROM ptr), 6) AS var_explained
      |FROM pv$PcaIters v JOIN pm ON v.idx = pm.idx
      |ORDER BY idx"""
  }

  /** The default merge count q_text_bpe's oracle/golden pin (real
    * vocabularies run 8k-32k via the session knob; the oracle text is
    * static, so it certifies the default operating point — the kmeans
    * "K rides the session knob" convention). */
  private val BpeOracleMerges = 128

  /** [[Bpe.train]] + in-order application unrolled in DuckDB — the
    * q_text_bpe oracle (r17 verdict #3; golden-only before). The two
    * ideas that make the iterative trainer SQL-expressible:
    *
    *  1. A word's segmentation is carried as a STRING with each
    *     symbol wrapped in its own separators (' s1  s2  s3 '), so
    *     one merge step is one replace(' a  b ' -> ' ab '): SQL
    *     replace scans left-to-right without re-entering replaced
    *     text, which is exactly mergePair's position-wise non-
    *     overlapping semantics ('aaa' + (a,a) -> [aa, a]); the
    *     per-symbol wrapping keeps CONSECUTIVE occurrences from
    *     sharing a separator, which a single-separator encoding
    *     would lose ('abab' must merge both (a,b) positions).
    *  2. Applying the learned merges IN TRAINING ORDER to the word
    *     table reproduces greedy lowest-rank encoding (any pair
    *     involving a merged symbol is necessarily learned later than
    *     the merge that created the symbol — BpeSpec's round-trip
    *     property), so after the last training step the maintained
    *     segmentation state IS the encoding and no separate encode
    *     unroll is needed.
    *
    * Each step: pair counts from the wrapped string (list
    * comprehension over adjacent symbol positions, frequency-
    * weighted), best pair by (count DESC, pair lexicographic ASC)
    * with the trainer's count >= 2 floor — an empty best no-ops the
    * step, replaying early exhaustion. Tie-break order is identical
    * because symbols are ASCII at the fixture tiers (Java UTF-16 vs
    * UTF-8 byte order diverges only past the BMP — the toSymbols
    * code-unit boundary, documented at [[Bpe.toSymbols]]). */
  private def bpeOracle: String = {
    val steps = (1 to BpeOracleMerges).map { i =>
      s"""pc$i AS (SELECT u.pr.a AS a, u.pr.b AS b,
        |    CAST(sum(s.f) AS BIGINT) AS cnt
        |  FROM (SELECT f, list_filter(string_split(seg, ' '),
        |      x -> len(x) > 0) AS sy FROM st${i - 1}) s,
        |    UNNEST([{'a': s.sy[i], 'b': s.sy[i+1]}
        |      for i in range(1, len(s.sy))]) AS u(pr)
        |  GROUP BY 1, 2),
        |bp$i AS (SELECT a, b FROM pc$i WHERE cnt >= 2
        |  ORDER BY cnt DESC, a, b LIMIT 1),
        |st$i AS MATERIALIZED (SELECT s.w, s.f,
        |    CASE WHEN bp.a IS NULL THEN s.seg
        |      ELSE replace(s.seg, ' ' || bp.a || '  ' || bp.b || ' ',
        |        ' ' || bp.a || bp.b || ' ') END AS seg
        |  FROM st${i - 1} s LEFT JOIN bp$i bp ON TRUE)"""
    }.mkString(",\n")
    s"""WITH tok AS MATERIALIZED (SELECT doc_id, ${TokSql()} AS ws
      |  FROM documents),
      |dw AS MATERIALIZED (SELECT doc_id, unnest(ws) AS w FROM tok),
      |wft AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS f
      |  FROM dw GROUP BY 1 ORDER BY f DESC, w LIMIT 65536),
      |st0 AS MATERIALIZED (SELECT a.w, coalesce(wft.f, 0) AS f,
      |    ' ' || array_to_string(list_append(
      |      [a.w[i] for i in range(1, length(a.w)+1)], '</w>'), '  ')
      |      || ' ' AS seg
      |  FROM (SELECT DISTINCT w FROM dw) a LEFT JOIN wft USING (w)),
      |$steps,
      |enc AS (SELECT w, CAST(len(list_filter(string_split(seg, ' '),
      |    x -> len(x) > 0)) AS BIGINT) AS ntok FROM st$BpeOracleMerges),
      |db AS (SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_ws,
      |    CAST(sum(e.ntok) AS BIGINT) AS n_bpe
      |  FROM dw JOIN enc e USING (w) GROUP BY 1)
      |SELECT t.doc_id,
      |  CAST(coalesce(db.n_ws, 0) AS BIGINT) AS n_ws_tokens,
      |  CAST(coalesce(db.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
      |  round(coalesce(db.n_bpe, 0)
      |    / nullif(coalesce(db.n_ws, 0), 0), 6) AS ratio
      |FROM tok t LEFT JOIN db USING (doc_id)
      |ORDER BY doc_id"""
  }

  /** Shared corpus tokenizer (CAP-TOKENIZE-UNICODE, r7; script-aware
    * since r8): NFC-normalize (native codegen expression, ASCII
    * short-circuit), lowercase, split on any run of non-letter/
    * non-digit codepoints, break Han/Hiragana/Katakana runs PER
    * IDEOGRAPH, drop empties. Real crawls are not clean lowercase
    * ASCII: decomposed accents must collide with their precomposed
    * spellings, "Word," with "word" — and unsegmented scripts write
    * without spaces, so without the per-ideograph rule a Chinese
    * paragraph is ONE token and every downstream quality/dedup signal
    * on CJK is degenerate. On the fixture alphabet ([a-z0-9 ], single
    * spaces, probed across all three tiers) this is token-identical to
    * a single-space split, which is what keeps every oracle
    * hash-green; [[TokenizeSpec]] pins the unicode behavior on
    * mixed-script fixtures. DuckDB mirror: [[TokSql]] — same
    * NFC → lower → CJK-space → split pipeline, regexes in the
    * RE2 ∩ Java subset (script classes spell `IsHan` in Java,
    * `Han` in RE2 — same Unicode Script property).
    */
  def normTokens(c: Column): Column =
    graft.functions.VectorFunctions.normTokens(c)

  /** Java-regex spelling of the per-ideograph rule: wrap every
    * Han/Hiragana/Katakana codepoint in spaces, then let the run
    * split do the rest. (Hangul is spaced by its writers; see
    * graftnative.NormalizedTokens.isCjkCp for the full rationale.) */
  private val CjkSpaceRegexJava = "([\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}])"

  /** The composed (non-fused) spelling of [[normTokens]] — the
    * equality witness TokenizeSpec pins the fused kernel against.
    * Four allocations + an interpreted CodegenFallback ArrayFilter
    * per row, which is why the registry runs the kernel instead
    * (stage_build measured 13.7 s → with the fused kernel the gram
    * build returns to its pre-unicode cost). */
  private[graft] def normTokensComposed(c: Column): Column =
    filter(
      split(regexp_replace(graft.functions.VectorFunctions.lowerRoot(
        graft.functions.VectorFunctions.nfc(c)),
        CjkSpaceRegexJava, " $1 "), TokenSplitRegex),
      w => length(w) > lit(0))

  /** The token-boundary regex — any run of codepoints that are neither
    * Unicode letters nor digits. Valid and identical in Java regex
    * (Spark `split`) and RE2 (DuckDB `regexp_split_to_array`). */
  val TokenSplitRegex = "[^\\p{L}\\p{N}]+"

  /** DuckDB spelling of [[normTokens]] over a column named `c`. */
  def TokSql(c: String = "text"): String =
    s"list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize($c)), " +
      s"'([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), " +
      s"'[^\\p{L}\\p{N}]+'), x -> len(x) > 0)"

  /** words of `text` via the shared tokenizer. */
  private val words: Column = normTokens(col("text"))

  /** Document quality score, 6-dp: 0.6 × type-token ratio + 0.4 ×
    * length saturation at 50 words. Single definition shared by
    * q_text_quality, the curation pipeline (q_curate's 0.62 floor is
    * calibrated against exactly this formula), and the streaming
    * curation demo. */
  private[graft] val qualityScore: Column = {
    // nullif guard: the unicode tokenizer returns an EMPTY array for
    // punctuation-only docs (the old whitespace split never did), and
    // under Spark 4's default ANSI mode a 0/0 here would fail the
    // whole query instead of scoring one junk doc NULL. DuckDB's x/0
    // is NULL natively, so NULL-quality is the cross-engine value
    // (and every quality >= floor filter drops such docs).
    val nWords = nullif(size(words), lit(0))
    val ttr = size(array_distinct(words)) / nWords
    round(ttr * 0.6 + least(nWords / lit(50.0), lit(1.0)) * 0.4, 6)
  }

  /** Content-defined chunks (doc_id, idx, chunk) of each document's
    * token stream: a chunk starts at token 0 and wherever md5(token)
    * begins with '0' (P = 1/16, ~14-token expected chunks). Because
    * the boundary is a function of token CONTENT alone, inserting a
    * sentence mid-document perturbs only the chunk containing the
    * insertion while every downstream boundary re-synchronizes — the
    * property CdcChunkSpec pins, and the entire reason CDC exists over
    * q_dedup_chunks' fixed grid (where one insertion shifts every
    * later chunk). Narrow per-row array pass: no window, no per-doc
    * shuffle — chunking cost is map-side at any scale. Shared by
    * q_dedup_cdc and the spec so both see one definition.
    */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normTokens(col("text")).as("ws"))
      .filter(size(col("ws")) > 0)
      .withColumn("cuts", expr(
        """filter(sequence(0, size(ws) - 1), i -> i = 0
          |  OR startswith(md5(CAST(element_at(ws, i + 1) AS BINARY)),
          |       '0'))""".stripMargin))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, size(cuts) - 1),
          |  j -> array_join(slice(ws, element_at(cuts, j + 1) + 1,
          |    coalesce(try_element_at(cuts, j + 2), size(ws))
          |      - element_at(cuts, j + 1)), ' '))""".stripMargin))
        .as(Seq("idx", "chunk")))

  /** STRING word-3-grams over a pre-split word-array column `ws`
    * (possibly empty result). Used where the gram TEXT itself matters
    * (q_text_repetition's raw-gram counts); the dedup family uses the
    * native hashed kernel ([[graftnative.WordGramHashes]]) instead —
    * this interpreted HOF allocates per gram and measured 4.4x slower.
    * Two subtleties:
    *  - the <3-word guard: `sequence(1, n-2)` with n<=2 would produce
    *    the DESCENDING sequence [1,0] (Spark defaults step=-1 when
    *    start>stop) and `slice(ws, 0, 3)` then throws; the guard
    *    returns an empty array instead, matching DuckDB's `range(1,1)`;
    *  - `ws` must be a MATERIALIZED column, not an inline
    *    `split(text)`: an inline split is re-evaluated inside the
    *    transform lambda for every gram index — O(words²) splits per
    *    document, which was 4 s of the sf0.1 gram-index build.
    */
  def wordGrams3(ws: String): Column =
    when(size(col(ws)) >= 3, expr(
      s"transform(sequence(1, size($ws) - 2)," +
        s" i -> array_join(slice($ws, i, 3), ' '))"))
      .otherwise(expr("CAST(array() AS array<string>)"))

  /** Distinct word-3-grams per document with a stop-gram cap: grams
    * whose document frequency exceeds `dfCap` are dropped BEFORE any
    * self-join. Without the cap, one boilerplate gram shared by k docs
    * emits k²/2 candidate pairs — a skew bomb at 100 TB (one hot key =
    * one dead executor). The cap costs one extra groupBy on gram, the
    * same shuffle key the pair join needs anyway.
    */
  /** Capped gram POSTINGS (gram, ids: sorted array<long>) — the primary
    * stage-cached artifact of the dedup family; the (doc_id, gram)
    * index and the shared-gram pair counts both derive from it by a
    * cheap explode over the materialization.
    *
    * ONE aggregation builds it: raw hashed grams (with per-doc
    * repeats) group straight to postings via the native
    * [[graftnative.CappedIdSet]] aggregate, which dedups ids AND
    * applies the stop-gram df cap in the same shuffle — a group that
    * exceeds the cap returns NULL and is filtered. The r3 build spent
    * three shuffles on the same result (distinct on (doc_id, gram),
    * groupBy(gram) df count, join the surviving grams back); the
    * paircounts stage then paid a FOURTH shuffle re-grouping the index
    * by gram to recover exactly these postings lists. The capped
    * buffer (cap+1 longs, map-side and final) is what makes the fuse
    * safe at 100 TB: a boilerplate gram shared by 1e9 docs costs 101
    * buffer entries, not a multi-GB collect_set before the filter.
    */
  def gramPostings(s: SparkSession, d: String, dfCap: Int): DataFrame =
    graft.StageCache.memoized(s, d, s"postings$dfCap")(
      gramPostingsFrame(s, d, dfCap))

  /** THE per-document distinct word-3-gram derivation over any
    * (…, text) frame — the ONE spelling of the gram convention the
    * decontamination family (batch stage AND ingest stream) reads, so
    * a change to gram width / tokenizer / distinct scope can never
    * drift between the batch query and its streaming twin (r16
    * review). Keeps every non-text column alongside `gram`. */
  private[graft] def docGramsOf(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filterNot(_ == "text")
      .map(col).toIndexedSeq
    docs.select(keep :+ normTokens(col("text")).as("ws"): _*)
      .select(keep :+ explode(graft.functions.VectorFunctions
        .wordGramHashes(col("ws"))).as("gram"): _*)
      .distinct()
  }

  /** Materialized per-document distinct word-3-gram stage
    * (doc_id, source, gram) — the gramPostings pattern applied to the
    * decontamination family (r15 verdict #3): q_text_decontam,
    * q_text_decontam_bloom and q_mix_decontam_split each consume the
    * tokenize→gram→distinct pipeline from MULTIPLE subtrees (the eval
    * gram set and the corpus side), so without a stage the full-corpus
    * tokenize pass executed once per subtree — real money at 100 TB,
    * where this is the maintained gram table the pipeline owns. Built
    * once per (session, dir), warmed on a bench thread like the other
    * stages; the build records its input-file listing so
    * [[syncDocGrams]] can maintain the table incrementally. */
  private[graft] def docGrams(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "docgrams") {
      val docs = Tables.documents(s, d)
        .select("doc_id", "source", "text")
      docGramFiles(s, d).set(docs.inputFiles.toSet)
      docGramsOf(docs)
    }

  def warmDocGramStage(s: SparkSession, d: String): Unit = {
    docGrams(s, d)
    ()
  }

  /** Input-file listing the docgrams stage currently covers — null
    * until the stage's first build records it. Session-scoped like the
    * stage itself; an AtomicReference because [[syncDocGrams]] must
    * advance it after a delta append (SessionMemo entries are
    * otherwise immutable by contract). */
  private def docGramFiles(s: SparkSession,
      d: String): java.util.concurrent.atomic.AtomicReference[Set[String]] =
    graft.SessionMemo.memo(s, s"docgrams_files|$d")(
      new java.util.concurrent.atomic.AtomicReference[Set[String]](null))

  /** Incremental maintenance for the [[docGrams]] stage (r16 verdict
    * #3): bring the maintained gram table up to date with a GROWN
    * corpus by tokenizing ONLY the new document files and appending
    * their (doc_id, source, gram) delta — the
    * [[graft.sources.Incremental.syncChanged]] discipline applied to
    * the stage a 100 TB decontamination pipeline owns (there: a daily
    * partition append to the gram table; here: a parquet-file diff
    * against the listing the build recorded). Three cases, by the
    * file-listing diff:
    *
    *  - nothing moved → no-op (the common re-poll);
    *  - files ADDED only → delta build: read just the new files,
    *    derive their grams through [[docGramsOf]] (the one spelling),
    *    append to the materialization
    *    ([[graft.StageCache.appendTo]] — O(delta) work, never a
    *    rebuild). Fail-loud guard: a new file re-carrying an ALREADY
    *    INDEXED doc_id would duplicate its gram rows (the stage's
    *    per-document distinct cannot span an append), so overlapping
    *    doc_ids refuse — in-place document EDITS are the rebuild
    *    case, not the append case;
    *  - files REMOVED or replaced → the delta cannot express it:
    *    rebuild LOUDLY (stage invalidated, next read re-derives the
    *    full table from the live corpus — never a silently stale
    *    gram set).
    *
    * Like every maintenance verb, single-writer by contract and the
    * one sanctioned way past the stage's session-immutability
    * assumption. Readers holding pre-sync frames keep their snapshot
    * (parquet immutability); every fresh [[docGrams]] read sees the
    * synced table. Returns the files processed this run (appended or
    * part of a rebuild's fresh listing) — empty = fully memoized. */
  def syncDocGrams(s: SparkSession, d: String): Set[String] = {
    docGrams(s, d) // ensure built — first touch records the listing
    val ref = docGramFiles(s, d)
    val seen = ref.get
    require(seen != null,
      "docgrams stage built without recording its input listing — " +
        "stage build and sync verb are out of step")
    val cur = Tables.documents(s, d)
      .select("doc_id", "source", "text").inputFiles.toSet
    val added = cur -- seen
    val removed = seen -- cur
    if (removed.nonEmpty) {
      // shrunk/replaced corpus: append-only delta can't express it —
      // rebuild the whole stage from the live corpus, loudly
      graft.StageCache.invalidatePrefix(s, d, "docgrams")
      ref.set(null)
      docGrams(s, d) // rebuild now; records the fresh listing
      added ++ removed
    } else if (added.nonEmpty) {
      val deltaDocs = s.read.parquet(added.toSeq.sorted: _*)
        .select("doc_id", "source", "text")
      // guard on the RAW delta's ids (no tokenize pass spent on it).
      // The indexed-id set comes from the DOCUMENTS under the
      // recorded listing, not from the gram table: a doc whose text
      // yields no 3-grams has no gram rows, and deriving "already
      // indexed" from grams would let a re-carried gram-less doc_id
      // slip the refusal (r17 advice #2)
      val indexedIds = s.read.parquet(seen.toSeq.sorted: _*)
        .select("doc_id").distinct()
      val overlap = indexedIds
        .join(deltaDocs.select("doc_id").distinct(), "doc_id")
      require(overlap.isEmpty,
        s"syncDocGrams($d): new document files re-carry doc_ids the " +
          "gram stage already indexed — an appended delta would " +
          "duplicate their gram rows. In-place edits are the rebuild " +
          "case: drop/replace the corpus and use a fresh session, or " +
          "remove the superseded files so the sync takes the rebuild " +
          "path")
      // the build thunk must never run here — the stage was ensured
      // built above, and a full-corpus build at THIS point would
      // already contain the delta, so letting it run and then
      // appending would double-count every new file's grams (r17
      // review #4) — fail loudly instead
      graft.StageCache.appendTo(s, d, "docgrams")(
        sys.error("docgrams stage vanished between ensure-built and " +
          "delta append — single-writer contract violated"))(
        docGramsOf(deltaDocs))
      ref.set(cur)
      added
    } else Set.empty
  }

  /** The postings BUILD pipeline as a plannable frame — exposed so
    * PlanShapeSpec can pin the fuse's whole point: exactly ONE
    * Exchange (the memoized read-back would hide the build plan). */
  private[graft] def gramPostingsFrame(s: SparkSession, d: String,
      dfCap: Int): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), normTokens(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.wordGramHashes(col("ws")))
          .as("gram"))
      .groupBy("gram")
      .agg(graft.functions.VectorFunctions
        .cappedIdSet(col("doc_id"), dfCap).as("ids"))
      .filter(col("ids").isNotNull)

  /** Distinct (doc_id, gram) over the capped gram space — a derived
    * VIEW of [[gramPostings]] (explode of the materialized postings
    * parquet, no extra stage or shuffle of its own).
    *
    * Grams exist only as 64-bit hashes, computed by the native
    * one-pass [[graftnative.WordGramHashes]] kernel — no gram string
    * is ever materialized, and every downstream shuffle and join keys
    * on an 8-byte long. Collisions across ~4e5 distinct grams are
    * ~1e-8-probable — far below any other source of error — and the
    * gram text itself is never part of any query output (oracles count
    * string grams on the DuckDB side; only the counts must agree). */
  def gramIndex(s: SparkSession, d: String, dfCap: Int): DataFrame =
    gramPostings(s, d, dfCap)
      .select(explode(col("ids")).as("doc_id"), col("gram"))

  /** Stop-gram document-frequency cap used by the near-dup queries
    * (spelled identically in their DuckDB oracles). */
  val DfCap = 100

  /** The near-dup jaccard threshold — the ONE constant behind the
    * stage-cached edges05 artifact. [[similarityEdges]] routes to the
    * cached frame by comparing against this same value; change it here
    * and build + router move together. */
  val NearDupJac = 0.5

  /** The cluster-label oracle, shared by q_dedup_cluster (two unrolled
    * propagation rounds) and q_graph_cc (true connected components —
    * equal on any graph whose components converge within 2 rounds of
    * the min, which SketchesSpec asserts for the fixtures; beyond
    * that, GraphSpec pins CC ≡ the general propagation FIXPOINT). */
  /** The jac >= 0.5 near-dup edge CTE chain shared verbatim by every
    * graph-family oracle (cluster propagation, BFS, degree
    * distribution) — one text, so the oracles can never disagree on
    * what an edge is. Ends with `e(a, b)`, the symmetrized edge set. */
  private val Jac05EdgeCte: String =
    s"""w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
      |           FROM documents),
      |g0 AS (SELECT DISTINCT doc_id,
      |        unnest([array_to_string(ws[i:i+2], ' ')
      |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
      |      FROM w),
      |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
      |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
      |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
      |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |      GROUP BY a.doc_id, b.doc_id),
      |j AS (SELECT ida, idb
      |      FROM p JOIN sz sa ON p.ida = sa.doc_id
      |             JOIN sz sb ON p.idb = sb.doc_id
      |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5),
      |e AS (SELECT ida AS a, idb AS b FROM j
      |      UNION ALL SELECT idb, ida FROM j)""".stripMargin

  val ClusterOracleSql: String =
    s"""WITH $Jac05EdgeCte,
      |l1 AS (SELECT d.doc_id,
      |         least(d.doc_id, coalesce(min(e.b), d.doc_id)) AS l
      |       FROM documents d LEFT JOIN e ON e.a = d.doc_id
      |       GROUP BY d.doc_id),
      |l2 AS (SELECT v.doc_id,
      |         least(v.l, coalesce(min(u.l), v.l)) AS cluster
      |       FROM l1 v LEFT JOIN e ON e.a = v.doc_id
      |                 LEFT JOIN l1 u ON u.doc_id = e.b
      |       GROUP BY v.doc_id, v.l)
      |SELECT doc_id, cluster FROM l2
      |ORDER BY doc_id""".stripMargin

  /** Shared language-ID core (q_text_langid + q_text_lang_confusion):
    * signature-vocabulary hit counts per candidate language, argmax
    * with the fixed de>en>es>fr>zh tie order. One spelling in each
    * engine so the per-doc view and the confusion matrix can never
    * disagree on a prediction. */
  private val LangidPredSql: String = {
    val tok = "list_filter(regexp_split_to_array(regexp_replace(lower(" +
      "nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', " +
      "' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)"
    def hits(sig: String) =
      s"len(list_distinct(list_intersect($tok,\n    [$sig])))"
    s"""WITH h AS (SELECT doc_id, lang,
      |  ${hits("'filter', 'column', 'query'")} AS h_de,
      |  ${hits("'scan', 'fast', 'table'")} AS h_en,
      |  ${hits("'hash', 'value', 'batch'")} AS h_es,
      |  ${hits("'join', 'merge', 'row'")} AS h_fr,
      |  ${hits("'window', 'order', 'data'")} AS h_zh
      |  FROM documents),
      |p AS (SELECT doc_id, lang, h_de, h_en, h_es, h_fr, h_zh,
      |  CASE WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
      |            AND h_de >= h_zh THEN 'de'
      |       WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_zh THEN 'en'
      |       WHEN h_es >= h_fr AND h_es >= h_zh THEN 'es'
      |       WHEN h_fr >= h_zh THEN 'fr'
      |       ELSE 'zh' END AS pred_lang
      |  FROM h)""".stripMargin
  }

  /** Spark twin of [[LangidPredSql]]'s `p` frame. */
  private def langidPred(s: SparkSession, d: String): DataFrame = {
    def hits(ws: Seq[String]): Column = size(array_distinct(
      array_intersect(words, array(ws.map(lit): _*))))
    Tables.documents(s, d).select(col("doc_id"), col("lang"),
        hits(Seq("filter", "column", "query")).as("h_de"),
        hits(Seq("scan", "fast", "table")).as("h_en"),
        hits(Seq("hash", "value", "batch")).as("h_es"),
        hits(Seq("join", "merge", "row")).as("h_fr"),
        hits(Seq("window", "order", "data")).as("h_zh"))
      .withColumn("pred_lang",
        when(col("h_de") >= col("h_en") && col("h_de") >= col("h_es")
          && col("h_de") >= col("h_fr") && col("h_de") >= col("h_zh"), "de")
          .when(col("h_en") >= col("h_es") && col("h_en") >= col("h_fr")
            && col("h_en") >= col("h_zh"), "en")
          .when(col("h_es") >= col("h_fr") && col("h_es") >= col("h_zh"), "es")
          .when(col("h_fr") >= col("h_zh"), "fr")
          .otherwise("zh"))
  }

  /** Oracle for q_graph_bfs: the SAME jac >= 0.5 edge construction as
    * [[ClusterOracleSql]], then a RECURSIVE CTE walking hop distances
    * from the English-language seed set, capped at 6 hops (the cap is
    * part of the query contract — it bounds BOTH engines' iteration
    * identically). UNION (not UNION ALL) recursion dedups (doc_id, dd)
    * states, so the walk is bounded by 7 x |docs| rows on any graph. */
  val BfsOracleSql: String =
    s"""WITH RECURSIVE $Jac05EdgeCte,
      |seeds AS (SELECT doc_id FROM documents WHERE lang = 'en'),
      |walk AS (
      |  SELECT doc_id, 0 AS dd FROM seeds
      |  UNION
      |  SELECT e.b, walk.dd + 1 FROM walk JOIN e ON e.a = walk.doc_id
      |  WHERE walk.dd < 6
      |)
      |SELECT d.doc_id, CAST(coalesce(min(wk.dd), -1) AS BIGINT) AS dist
      |FROM documents d LEFT JOIN walk wk ON wk.doc_id = d.doc_id
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Oracle for q_graph_degree: degree histogram over the SAME edge
    * set, zero-degree docs included via the left join. */
  val DegreeOracleSql: String =
    s"""WITH $Jac05EdgeCte,
      |deg0 AS (SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS deg
      |         FROM e GROUP BY a),
      |dd AS (SELECT d.doc_id, coalesce(deg0.deg, 0) AS deg
      |       FROM documents d LEFT JOIN deg0 USING (doc_id))
      |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM dd
      |GROUP BY deg
      |ORDER BY deg""".stripMargin

  /** PII patterns as one alternation: email, IPv4, SSN-shaped, and
    * card-shaped digit runs. Restricted to the regex subset (ASCII
    * classes, \b, \d, bounded repetition, alternation) that Java regex
    * and DuckDB's RE2 interpret identically; interpolated verbatim
    * into both engines' texts by q_text_redact, and pinned on
    * synthetic PII rows in RedactSpec. */
  val PiiRegex: String =
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}" +
      "|\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" +
      "|\\b\\d{3}-\\d{2}-\\d{4}\\b" +
      "|\\b\\d{13,19}\\b"

  /** Encoding-damage signatures (q_text_encoding, r20) — spelled with
    * ASCII-only \x{hhhh} escapes, which Java regex and DuckDB's RE2
    * interpret identically (the PiiRegex shared-subset discipline).
    *  - [[FffdRegex]]: U+FFFD, the replacement character a lossy
    *    transcode leaves behind;
    *  - [[MojiRegex]]: U+00C3 then a UTF-8-continuation-range
    *    codepoint (U+0080-00BF) — the classic UTF-8-decoded-as-
    *    Latin-1 signature (every Latin-1 accented char mangles to
    *    such a pair);
    *  - [[CtrlRegex]]: bare control characters — C0 minus tab/LF/CR,
    *    DEL, and the C1 block. */
  val FffdRegex: String = "\\x{FFFD}"
  val MojiRegex: String = "\\x{00C3}[\\x{0080}-\\x{00BF}]"
  val CtrlRegex: String =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}" +
      "\\x{007F}-\\x{009F}]"

  /** The fast-path alphabet of the char-set mask: space + a..z + 0..9
    * + A..Z — 63 members, one bit each in a single long. The r10 mask
    * covered only {space, a-z} (the fixture corpus), which made the
    * fast path fixture-shaped: ANY real document carries digits, so in
    * practice every pair fell to the exact set-op branch (measured on
    * the round-11 open-vocab scale corpus: the digit-bearing exact
    * branch was the dominant term of q_dedup_jaccard's wall). The
    * alphabet is still NOT assumed — documents with any other
    * character (punctuation, Unicode) are flagged and take the exact
    * branch, so nothing is silently dropped. */
  private val MaskAlphabet: Seq[Char] =
    ' ' +: (('a' to 'z') ++ ('0' to '9') ++ ('A' to 'Z'))

  /** (doc_id, lang, blk, cs, cm, clean): each document's DISTINCT
    * character set plus its (lang, n_chars/100) blocking keys.
    *
    *  - `cs` is the character set itself, canonicalized (distinct
    *    chars, sorted, joined) — EXACT for any alphabet: digits,
    *    uppercase, Unicode all survive. It is the dedup key.
    *  - `cm` is the 63-bit mask over [[MaskAlphabet]] (bit 0 = space,
    *    bits 1..26 = a..z, 27..36 = 0..9, 37..62 = A..Z) — a popcount
    *    fast path, meaningful only when `clean`.
    *  - `clean` marks cs ⊆ MaskAlphabet (checked by `translate`
    *    deleting the alphabet and testing emptiness). A pair of clean
    *    docs compares by popcount(and)/popcount(or); any pair touching
    *    a non-clean doc takes the exact array_intersect/array_union
    *    branch — so out-of-alphabet characters are never silently
    *    dropped (the r3/r4 correctness trap).
    */
  def charMaskDocs(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "charmask")(charMaskFrame(s, d))

  /** The charset-attribute BUILD pipeline. [[charMaskDocs]] stage-caches
    * it: q_dedup_jaccard references the frame three times (distinct
    * keys + both fan-in sides), and without the materialization each
    * reference re-runs the text scan + charset kernel — at 100 TB
    * these are per-doc attributes maintained next to the corpus. */
  private def charMaskFrame(s: SparkSession, d: String): DataFrame = {
    val mask = MaskAlphabet.zipWithIndex
      .map { case (c, b) =>
        when(col("cs").contains(c.toString), lit(1L << b)).otherwise(0L)
      }
      .reduce(_ bitwiseOR _)
    Tables.documents(s, d)
      .withColumn("blk", expr("n_chars div 100"))
      .withColumn("cs", graft.functions.VectorFunctions.charSet(col("text")))
      .withColumn("cm", mask)
      .withColumn("clean",
        length(translate(col("cs"), MaskAlphabet.mkString, "")) === 0)
      .select("doc_id", "lang", "blk", "cs", "cm", "clean")
  }

  /** Force-build the charset-attribute artifact (independent of the
    * postings chain — Bench builds it on its own thread). */
  def warmMaskStage(s: SparkSession, d: String): Unit = {
    charMaskDocs(s, d)
    ()
  }

  /** Force-build the r21 corpus-statistics stages (per-source/lang
    * token counts, doc lengths, the TF table, the 8-gram and
    * source-gram distinct tables) — the derived tables the mix /
    * bm25 / tfidf / boilerplate / overlap queries read instead of
    * re-deriving per reference (see each stage's comment). Maintained
    * tables at 100 TB, so they belong to the stage-build pre-pass
    * like every other artifact. */
  def warmTextStatStages(s: SparkSession, d: String): Unit = {
    sourceTokenStats(s, d)
    langTokenStats(s, d)
    docLens(s, d)
    tfTable(s, d)
    grams8(s, d)
    srcGrams(s, d)
    dedupKeyedSplit(s, d)
    ()
  }

  /** Shared-gram pair STATS (ida < idb, c = number of shared capped
    * grams, jac = word-3-gram Jaccard over the capped gram space,
    * rounded to 6) — the single candidate-generation artifact behind
    * the n-gram Jaccard, cluster, and Levenshtein-verify queries.
    *
    * ONE build job materializes it: pair expansion over the postings,
    * count per pair, per-doc gram counts (a derived explode of the
    * same postings materialization) joined in, Jaccard attached. The
    * r4 shape materialized bare pair counts and re-joined the sizes in
    * every consumer — an extra parquet round-trip in the stage build
    * AND a three-way join at every query; now q_dedup_ngram/edges are
    * a column-pruned filter off one parquet. */
  private def sharedGramPairStats(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "pairstats") {
      val sz = gramIndex(s, d, DfCap)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      gramPostings(s, d, DfCap)
        .filter(size(col("ids")) >= 2)
        .select(explode(
          graft.functions.VectorFunctions.sortedIdPairs(col("ids"))).as("p"))
        .select(col("p.ida").as("ida"), col("p.idb").as("idb"))
        .groupBy("ida", "idb").agg(count(lit(1)).as("c"))
        .join(sz.toDF("ida", "na"), "ida")
        .join(sz.toDF("idb", "nb"), "idb")
        .withColumn("jac", round(
          col("c") / (col("na") + col("nb") - col("c")), 6))
        .select("ida", "idb", "c", "jac")
    }

  /** Corpus bigram table (doc_id, w1, w2, bg), stage-cached: the
    * narrow per-row transform (the row already holds its whole token
    * sequence — adjacency needs no window and no per-doc sort shuffle)
    * materialized ONCE and shared by q_text_bigram_nll and q_text_pmi,
    * each of which references the frame 3+ times (count builds + the
    * scoring join) across plans Spark cannot share. Previously each
    * query localCheckpoint'd its own copy — correct, but ephemeral
    * executor storage built twice; the parquet memo is the durable
    * spelling the rest of the text family uses (at 100 TB: a
    * maintained table next to the corpus), and stage_build accounts
    * it like every other artifact. */
  private[graft] def bigramTable(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "bigrams") {
      Tables.documents(s, d)
        .select(col("doc_id"), normTokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(expr(
          """filter(transform(ws, (w, i) -> struct(
            |    w AS w1, try_element_at(ws, i + 2) AS w2,
            |    concat(w, ' ', try_element_at(ws, i + 2)) AS bg,
            |    i AS idx)),
            |  t -> t.idx < size(ws) - 1)""".stripMargin)).as("t"))
        .select(col("doc_id"), col("t.w1").as("w1"),
          col("t.w2").as("w2"), col("t.bg").as("bg"))
    }

  /** Per-source and per-language token-count statistics, stage-cached
    * (r21): the mix family's normalizer tables (q_mix_weights /
    * q_mix_epochs / q_mix_temperature) each referenced their
    * corpus-tokenize aggregate 3-4 times with no subtree sharing, so
    * ONE ≤|sources|-row table cost 3-4 full tokenize passes per run.
    * At 100 TB these are maintained corpus-statistics tables next to
    * the postings; here one build per session, then tiny parquet
    * reads. */
  private def sourceTokenStats(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "srctokens")(
      Tables.documents(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(size(words)).as("n_tokens")))

  private def langTokenStats(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "langtokens")(
      Tables.documents(s, d).groupBy("lang")
        .agg(sum(size(words)).as("n_tokens")))

  /** Doc-length table (BM25's length normalizer) — see bm25Scores. */
  private def docLens(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "doclens")(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(words).as("w"))
        .groupBy("doc_id").agg(count(lit(1)).as("len")))

  /** Per-(doc, word) term frequencies — q_text_tfidf's base table;
    * private[ops] since r22: bm25's tf side and the heavy-hitter
    * passes (Udx) read it instead of re-tokenizing the corpus. */
  private[ops] def tfTable(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "tftable")(
      Tables.documents(s, d)
        .select(col("doc_id"), explode(words).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))

  /** Distinct hashed word-8-grams per doc — q_text_boilerplate's base
    * table (WordKGramHashes kernel; internal grouping keys only). */
  private def grams8(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "grams8")(
      Tables.documents(s, d)
        .select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), explode(
          graft.functions.VectorFunctions.wordKGramHashes(col("ws"), 8))
          .as("gram"))
        .distinct())

  /** Distinct (source, gram) projection of the capped gram index —
    * q_source_overlap's base table. */
  private def srcGrams(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "srcgrams")(
      gramIndex(s, d, DfCap)
        .join(Tables.documents(s, d).select("doc_id", "source"), "doc_id")
        .select("source", "gram").distinct())

  private def ngramJaccardPairs(s: SparkSession, d: String,
      minJac: Double): DataFrame =
    sharedGramPairStats(s, d)
      .filter(col("jac") >= minJac)
      .select("ida", "idb", "jac")

  /** One min-label propagation round: each doc's label becomes the min
    * of its own and its neighbors' labels. `e` is the symmetrized edge
    * list (a, b). */
  private def propagateOnce(labels: DataFrame, e: DataFrame): DataFrame =
    labels.join(e, labels("doc_id") === e("a"), "left")
      .join(labels.toDF("u_id", "u_l"), col("b") === col("u_id"), "left")
      .groupBy(labels("doc_id"), labels("l"))
      .agg(least(col("l"), coalesce(min(col("u_l")), col("l"))).as("nl"))
      .select(col("doc_id"), col("nl").as("l"))

  /** `rounds` unrolled propagation rounds over (doc_id) nodes and
    * (ida, idb) edges — a static plan, usable as an oracle query. */
  def propagateRounds(docs: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select(col("ida").as("a"), col("idb").as("b")).unionByName(
      edges.select(col("idb").as("a"), col("ida").as("b")))
    val l0 = docs.select(col("doc_id"), col("doc_id").as("l"))
    (1 to rounds).foldLeft(l0)((l, _) => propagateOnce(l, e))
      .select(col("doc_id"), col("l").as("cluster"))
  }

  /** Min-label propagation to a FIXPOINT — the production form for
    * corpora whose near-dup chains are deeper than any fixed unroll.
    * A driver loop iterates the same round over persisted frames until
    * the label sum stops changing: labels only ever DECREASE (least),
    * so an unchanged sum means no label moved — an exact, one-long
    * convergence check (summed as decimal(38) so 100 TB id sums cannot
    * overflow). Rounds needed = the graph diameter's order — near-dup
    * components are shallow in practice; `maxRounds` bounds pathology.
    * Each round `localCheckpoint`s its labels: persistence alone is not
    * enough here, because every round's LOGICAL plan would embed the
    * previous round's (and the edge pipeline's) plan twice — the plan
    * tree doubles per round and planning itself OOMs long before data
    * does. Checkpointing makes each round's plan a constant-size scan
    * of the previous round's materialized partitions — the standard
    * iterate-on-Spark shape (GraphX/ML do the same).
    */
  def clusterLabelsFixpoint(docs: DataFrame, edges: DataFrame,
      maxRounds: Int = 30): DataFrame = {
    val e = edges.select(col("ida").as("a"), col("idb").as("b")).unionByName(
      edges.select(col("idb").as("a"), col("ida").as("b")))
      .localCheckpoint(true)
    def labelSum(l: DataFrame): BigDecimal =
      BigDecimal(l.agg(sum(col("l").cast("decimal(38,0)"))).head().getDecimal(0))
    var labels = docs.select(col("doc_id"), col("doc_id").as("l"))
      .localCheckpoint(true)
    var s = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = propagateOnce(labels, e).localCheckpoint(true)
      val ns = labelSum(next)
      converged = ns == s
      labels = next
      s = ns
      round += 1
    }
    labels.select(col("doc_id"), col("l").as("cluster"))
  }

  /** Cluster label per document: min-label propagation over the
    * jac >= 0.5 near-dup graph, two unrolled rounds (converges for
    * components whose nodes are within 2 hops of their min — asserted
    * on the fixtures in SketchesSpec, and cross-checked there against
    * [[clusterLabelsFixpoint]], the driver-loop form that handles
    * arbitrary depth). Shared by q_dedup_cluster and the curation
    * pipeline.
    */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    // Stage-cached (r22): the cluster-label table is per-corpus
    // derived data consumed by TWO queries (q_dedup_cluster, q_curate)
    // — each run of each re-ran both propagation rounds (unshared
    // subtrees: 5 document scans + 6 edge-stage scans inside one
    // q_curate plan). At 100 TB the transitive-dedup label IS a
    // maintained column next to the corpus, the same family as the
    // minhash band table and the graph anchors. Deterministic by the
    // module's integer/min-label contract; warmed with the edge stage.
    graft.StageCache.memoized(s, d, "clusterlabels")(
      propagateRounds(Tables.documents(s, d).select("doc_id"),
        nearDupEdges(s, d), 2))

  /** The jac >= 0.5 near-dup edge list, stage-cached: q_dedup_cluster
    * and q_curate both propagate over it (and each references it four
    * times across the unrolled rounds) — with the materialization the
    * gram->pair->jaccard pipeline runs once per session, not once per
    * reference. */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame =
    graft.StageCache.memoized(s, d, "edges05")(
      ngramJaccardPairs(s, d, NearDupJac).select("ida", "idb"))

  /** The dedup-keyed split assignment (doc_id, keep_id, split): split
    * by the md5 nibble of the exact-dedup group's keep_id (min doc_id
    * per md5(text) — the q_dedup_exact convention; a..b train, c..d
    * val, e..f test — the q_mix_split thresholds), so every copy of a
    * text lands in ONE split. The single Spark spelling of the
    * convention, shared by q_mix_split_dedup (the operator) and
    * q_mix_split_neardup (the audit over its output) — the two must
    * never desynchronize. */
  private[graft] def dedupKeyedSplit(s: SparkSession, d: String): DataFrame =
    // Stage-cached (r22): the split-assignment table is per-corpus
    // derived data read by THREE queries (q_mix_split_dedup,
    // q_mix_split_neardup's audit, q_mix_decontam_split), and each
    // un-anchored reference re-ran the md5 group + self-join over the
    // corpus (2 document scans per reference — q_mix_decontam_split
    // alone paid 4). At 100 TB the split column IS a maintained table
    // next to the corpus (a pipeline never re-derives yesterday's
    // split). Values are a pure deterministic function of the corpus.
    graft.StageCache.memoized(s, d, "dksplit") {
      val k = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val g = k.groupBy("h").agg(min("doc_id").as("keep_id"))
      val nib = substring(md5(col("keep_id").cast("string")), 1, 1)
      k.join(g, "h")
        .select(col("doc_id"), col("keep_id"),
          when(nib <= "b", "train").when(nib <= "d", "val")
            .otherwise("test").as("split"))
    }

  /** The jac >= `minJac` document-similarity graph: documents as
    * nodes, meaningful 3-gram overlap as edges — the substrate for
    * graph analytics ([[Graph.pagerank]]). A threshold matters
    * structurally, not just for size: the UNthresholded shared-gram
    * pair table is near-clique (sf0.1: 1.13M pairs over 5k docs,
    * mean degree 452, one boilerplate gram linking whole sources),
    * which drowns centrality in noise AND makes every per-round join
    * scan 20x the data. Reads the same stage-cached pair-stats
    * parquet the dedup family shares; no extra build. */
  def similarityEdges(s: SparkSession, d: String,
      minJac: Double = 0.1): DataFrame =
    // The NearDupJac threshold IS the near-dup edge list the dedup
    // family stage-caches — route it to the memoized frame so graph
    // callers (q_graph_cc, GraphSpec) and dedup callers share one
    // artifact instead of materializing drift-prone duplicates. The
    // router and nearDupEdges compare against the SAME named constant,
    // so the two can't silently desynchronize.
    if (minJac == NearDupJac) nearDupEdges(s, d)
    else ngramJaccardPairs(s, d, minJac).select("ida", "idb")

  /** [[similarityEdges]] keeping the jaccard as an edge WEIGHT column
    * (ida, idb, jac) — the input shape of weighted PageRank
    * ([[Graph.pagerank]] with weightCol): similar documents pass more
    * rank mass. Same stage-cached pair-stats read as the unweighted
    * edges; the weight column is already sitting in that parquet. */
  def similarityEdgesWeighted(s: SparkSession, d: String,
      minJac: Double = 0.1): DataFrame =
    ngramJaccardPairs(s, d, minJac)

  /** The capped-keep mechanism (at most `cap` rows PER key-group,
    * chosen by deterministic hash priority) that q_mix_source_cap and
    * q_embed_sample share: the per-key cut is computed by the
    * bounded-heap top-k AGGREGATE (O(cap) state at every stage,
    * map-side combinable — never a row_number window over the fact
    * scan), the |keys|-row cut table broadcasts back, and each row
    * decides kept = (priority, id) <= cut locally. Priority is the
    * first 13 md5 hex chars of the decimal id — cross-engine
    * byte-identical (the q_mix_split discipline), a 52-bit value exact
    * in the aggregate's double score; the (priority, id) tie-break
    * makes the cap fully deterministic even on priority collisions.
    * Under-cap keys keep everything (null cut). The key join is
    * NULL-SAFE (<=>): a NULL-key group must still meet its cut row,
    * exactly as a window oracle partitions NULL. Returns `df`'s
    * columns plus `kept`. */
  private[ops] def cappedKeepByHashPriority(df: DataFrame, keyCol: String,
      idCol: String, cap: Int): DataFrame = {
    import graft.functions.VectorFunctions.topKByScore
    val withP = df.withColumn("_p",
      conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
        .cast("long"))
    val cuts = withP.groupBy(keyCol)
      .agg(get(topKByScore((-col("_p")).cast("double"), col(idCol), cap),
        lit(cap - 1)).as("_kth"))
      .select(col(keyCol).as("_ckey"),
        (-col("_kth.score")).cast("long").as("_kp"),
        col("_kth.id").as("_kid"))
    withP.join(broadcast(cuts), col(keyCol) <=> col("_ckey"), "left")
      .withColumn("kept",
        col("_kp").isNull || col("_p") < col("_kp") ||
          (col("_p") === col("_kp") && col(idCol) <= col("_kid")))
      .drop("_p", "_ckey", "_kp", "_kid")
  }

  /** Force-build the dedup family's stage-cached artifacts (postings →
    * pair stats → jac ≥ 0.5 edges — the edge build chains through the
    * other two). Bench calls this BEFORE the timed loop and reports the
    * duration as its own `stage_build` line, so per-query times measure
    * the warm operator and stop depending on which query alphabetically
    * hits the cold cache first. A stage read is eager (the first
    * [[graft.StageCache.memoized]] touch writes the stage), so the warms
    * only touch their stages and run no action on them. */
  def warmStages(s: SparkSession, d: String): Unit = {
    nearDupEdges(s, d)
    clusterLabels(s, d)
    ()
  }

  /** Bloom-pruned variant of q_text_vocab_prune's scoring join — the
    * runtime-filter treatment that query's deliberate shuffle join
    * wants at 100 TB. The vocab join shuffles tok on the word key by
    * design (a real vocabulary outgrows broadcast), but MOST of the
    * fact side's rows are pruned vocabulary that the join will drop
    * anyway; shuffling them first is the avoidable cost. Spark's own
    * InjectRuntimeFilter would plant exactly this bloom, but its
    * eligibility check requires a filter-over-scan creation side and
    * the kept vocab sits behind an aggregation — so this builds the
    * identical filter by hand from the same Catalyst expressions
    * (graft_bloom_agg / graft_might_contain): aggregate the kept
    * words' xxhash64 into a bloom (distributed), ship the one-row
    * result as a literal (same bytes a scalar subquery would carry),
    * and probe BEFORE the fact side's exchange. False positives just
    * ride into the join that drops them — results are EXACTLY equal
    * (pinned, RuntimeFilterSpec), only the shuffled row count shrinks.
    */
  def vocabPruneBloom(s: SparkSession, d: String): DataFrame = {
    val (tok, kept) = vocabPruneFrames(s, d)
    val bf = kept
      .agg(expr("graft_bloom_agg(xxhash64(word))").as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val pruned = tok.filter(
      org.apache.spark.sql.graftnative.VectorNative.mightContain(
        lit(bf), xxhash64(col("word"))))
    vocabPruneScore(tok, pruned, kept)
  }

  /** q_text_vocab_prune's shared frames — the token stream and the
    * df-band-kept vocabulary — ONE definition serving the registry
    * query and [[vocabPruneBloom]], so the band ([2, 50% of docs])
    * cannot drift between the two result-equal-by-contract spellings
    * (RuntimeFilterSpec pins the equality). */
  private def vocabPruneFrames(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val tok = Tables.documents(s, d)
      .select(col("doc_id"), explode(words).as("word"))
    val nDocs = tok.agg(countDistinct(col("doc_id")).as("n_docs"))
    val kept = tok.groupBy("word")
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 2 && col("df") <= col("n_docs") * 0.5)
      .select("word")
    (tok, kept)
  }

  /** The shared scoring tail: per-doc totals from `tok`, kept counts
    * from `scoredTok` (the full stream, or its bloom-pruned subset —
    * identical results either way since the kept join drops what the
    * bloom would have). */
  private def vocabPruneScore(tok: DataFrame, scoredTok: DataFrame,
      kept: DataFrame): DataFrame = {
    val n = tok.groupBy("doc_id").agg(count(lit(1)).as("n_tokens"))
    val k = scoredTok.join(kept, "word")
      .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    n.join(k, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(lit(1) - coalesce(col("n_kept"), lit(0L))
          / col("n_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy("doc_id")
  }


  /** Force-build the shared corpus bigram stage (q_text_bigram_nll +
    * q_text_pmi) — an independent DAG, so Bench warms it on its own
    * thread next to the other artifact chains. */
  def warmBigramStage(s: SparkSession, d: String): Unit = {
    bigramTable(s, d)
    ()
  }

  /** Pairwise cosine kernel over embeddings: (ida, idb, cos) for
    * ida < idb. Norms computed once per vector before the cross join;
    * the per-pair kernel is the native codegen [[functions.DotProduct]]
    * (the interpreted higher-order-function formulation was 8.9x the
    * single-process proxy on 2M pairs).
    */
  private def cosinePairs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.embeddings(s, d).select(
      col("vec_id"), col("label"), col("embedding"),
      graft.functions.VectorFunctions.l2norm(col("embedding")).as("norm"))
    val a = base.toDF("ida", "label_a", "va", "na")
    val b = base.toDF("idb", "label_b", "vb", "nb")
    a.crossJoin(b).filter(col("ida") < col("idb"))
      .withColumn("cos", round(
        graft.functions.VectorFunctions.dot(col("va"), col("vb"))
          / (col("na") * col("nb")), 6))
  }

  /** BM25 scores (k1 = 1.2, b = 0.75) over docs matching any of
    * `terms`, rounded at 6 — the rank-determinism grain (ranking must
    * order the ROUNDED value on both engines or rank ties land
    * differently). Shared by q_text_bm25 and the hybrid-retrieval
    * fusion (q_sim_hybrid_rrf). */
  private def bm25Scores(s: SparkSession, d: String,
      terms: Seq[String]): DataFrame = {
    // Doc-length table stage-cached (r21): it is per-corpus derived
    // data (the BM25 length normalizer — a maintained stat at 100 TB)
    // referenced twice per score call (global stats + the score join),
    // and each un-anchored reference re-ran the corpus tokenize;
    // shared by q_text_bm25 and q_sim_hybrid_rrf.
    val dl = docLens(s, d)
    val st = dl.agg(count(lit(1)).as("n_docs"), avg("len").as("avg_len"))
    // The tf side reads the SAME stage-cached TF table as q_text_tfidf
    // (r22, the r21 "Not yet optimized" #4): per-(doc, word) counts
    // filtered to the query terms are identical whether the filter
    // runs before or after the count — grouping is per (doc_id, word)
    // — and this removes the last full corpus tokenize each score
    // call paid. The term filter prunes on the narrow parquet scan.
    val tf = tfTable(s, d).filter(col("word").isin(terms: _*))
      .select(col("doc_id"), col("word").as("w"), col("tf"))
    val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
    tf.join(broadcast(df), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st))
      .groupBy("doc_id")
      .agg(sum(
        log(lit(1) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
          * col("tf") * 2.2
          / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("len") / col("avg_len"))))
        .as("score"))
      .select(col("doc_id"), round(col("score"), 6).as("bm25"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // ---- text analytics --------------------------------------------------

    q("q_text_tokens",
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS word
        |      FROM documents) t
        |GROUP BY word
        |ORDER BY n DESC, word""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(words).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
    },

    q("q_text_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS word
        |             FROM documents),
        |tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        |       FROM tok GROUP BY doc_id, word),
        |df AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |  round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        |FROM tf JOIN df ON tf.word = df.word CROSS JOIN n
        |ORDER BY tfidf DESC, tf.doc_id, tf.word
        |LIMIT 1000""") { (s, d) =>
      val docs = Tables.documents(s, d)
      // The TF table is per-corpus derived data referenced TWICE in
      // this plan (the df aggregate + the score join) with no subtree
      // sharing — stage-cached (r21), so the tokenize + (doc, word)
      // aggregate runs once per session instead of twice per run (at
      // 100 TB the TF table is the maintained inverted-index stat).
      val tf = tfTable(s, d)
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(df, "word")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          round(col("tf") * log(col("n_docs") / col("df")), 6).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("word"))
        .limit(1000)
    },

    // BM25 retrieval scoring for a fixed term set (k1=1.2, b=0.75) —
    // the standard relevance ranking over the same inverted index
    // tf-idf uses: per-term tf per doc, global df and average doc
    // length, all joined back broadcast-style. Constants and the idf
    // form (ln(1 + (N-df+0.5)/(df+0.5))) are spelled identically in
    // both engines; scores rounded to 6.
    q("q_text_bm25",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs, avg(len) AS avg_len
        |       FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('window', 'filter', 'hash') GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / st.avg_len)))
        |           AS score
        |       FROM tf JOIN df ON tf.w = df.w
        |               JOIN dl ON tf.doc_id = dl.doc_id
        |               CROSS JOIN st
        |       GROUP BY tf.doc_id)
        |SELECT doc_id, round(score, 6) AS bm25
        |FROM sc
        |ORDER BY bm25 DESC, doc_id
        |LIMIT 50""") { (s, d) =>
      bm25Scores(s, d, Seq("window", "filter", "hash"))
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(50)
    },

    // Hybrid retrieval by reciprocal rank fusion (k = 60, the standard
    // constant): the lexical ranking (BM25 over the fixed query terms)
    // and the semantic ranking (cosine against the vec_id-0 query
    // embedding) each contribute 1/(60 + rank); a doc missing from one
    // list contributes only the other — the fusion every RAG-ish
    // eval/decontamination pipeline runs when neither retriever alone
    // is trusted. Both lists CUT TO THEIR TOP 100 BEFORE fusing, which
    // is also the scale story: RRF only ever ranks per-retriever
    // candidate sets (each a TakeOrdered at any corpus size), never
    // the corpus. Ranks order by the ROUNDED score with id tie-breaks,
    // so both engines rank identical doubles (the bm25/cosine parity
    // is already hash-proven by their own queries).
    q("q_sim_hybrid_rrf",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |dl AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
        |st AS (SELECT count(*) AS n_docs, avg(len) AS avg_len FROM dl),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
        |       WHERE w IN ('window', 'filter', 'hash') GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |sc AS (SELECT tf.doc_id,
        |         round(sum(ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |           * tf.tf * 2.2
        |           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.len / st.avg_len))), 6)
        |           AS bm25
        |       FROM tf JOIN df ON tf.w = df.w
        |               JOIN dl ON tf.doc_id = dl.doc_id
        |               CROSS JOIN st
        |       GROUP BY tf.doc_id),
        |lr AS (SELECT doc_id,
        |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rl
        |       FROM sc QUALIFY rl <= 100),
        |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |vc AS (SELECT e.vec_id,
        |         round(list_cosine_similarity(
        |           CAST(e.embedding AS DOUBLE[]),
        |           CAST(q.embedding AS DOUBLE[])), 6) AS cos
        |       FROM embeddings e CROSS JOIN qv q
        |       WHERE e.vec_id <> 0),
        |vr AS (SELECT vec_id,
        |         row_number() OVER (ORDER BY cos DESC, vec_id) AS rv
        |       FROM vc QUALIFY rv <= 100)
        |SELECT coalesce(lr.doc_id, vr.vec_id) AS doc_id,
        |  CAST(coalesce(rl, 0) AS BIGINT) AS lex_rank,
        |  CAST(coalesce(rv, 0) AS BIGINT) AS vec_rank,
        |  round(coalesce(1.0 / (60 + rl), 0)
        |      + coalesce(1.0 / (60 + rv), 0), 6) AS rrf
        |FROM lr FULL OUTER JOIN vr ON lr.doc_id = vr.vec_id
        |ORDER BY rrf DESC, doc_id
        |LIMIT 20""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val lr = bm25Scores(s, d, Seq("window", "filter", "hash"))
        .withColumn("rl", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .filter(col("rl") <= 100)
        .select("doc_id", "rl")
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"),
          graft.functions.VectorFunctions.l2norm(col("embedding")).as("qn"))
      val vr = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(qv))
        .select(col("vec_id"), round(
          graft.functions.VectorFunctions.dot(col("embedding"), col("qe"))
            / (graft.functions.VectorFunctions.l2norm(col("embedding"))
              * col("qn")), 6).as("cos"))
        .withColumn("rv", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))))
        .filter(col("rv") <= 100)
        .select("vec_id", "rv")
      lr.join(vr, lr("doc_id") === vr("vec_id"), "full_outer")
        .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
          coalesce(col("rl"), lit(0)).cast("long").as("lex_rank"),
          coalesce(col("rv"), lit(0)).cast("long").as("vec_rank"),
          round(
            when(col("rl").isNotNull, lit(1.0) / (col("rl") + 60))
              .otherwise(lit(0.0))
              + when(col("rv").isNotNull, lit(1.0) / (col("rv") + 60))
                .otherwise(lit(0.0)), 6).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(20)
    },

    // Sequence packing (concatenate-and-chop) — the step that turns a
    // curated corpus into fixed-budget training sequences: documents
    // are concatenated in a deterministic order per language shard and
    // chopped every 512 tokens, so each doc lands at sequence
    // floor(prior_tokens / 512), spanning one or more sequences.
    // Zero-token docs still occupy a row (n_seqs 1) so corpus
    // accounting stays exact.
    //
    // SCALE-SAFE prefix sum (r12 — caught by the widened PlanShapeSpec
    // sweep): the r11 spelling was one exclusive-cumsum window
    // partitioned by lang directly over the fact — a corpus-sized sort
    // at |langs| parallelism. Now the classic TWO-LEVEL distributed
    // scan: doc_ids bucket by div 1024; per-(lang, bucket) token sums
    // aggregate map-side; the EXCLUSIVE bucket-offset cumsum runs over
    // that 1024×-smaller table (partitioned by lang — admitted by the
    // sweep: an Aggregate sits below, and the construction NESTS — the
    // same bucketing applies to the bucket table itself for another
    // 1024× per level, log₁₀₂₄(n) levels to any scale); the intra-
    // bucket exclusive cumsum windows over (lang, bucket) — a HIGH-
    // cardinality key whose partitions hold ≤1024 rows by
    // construction. cb values are identical integers to the single-
    // window form, so the oracle (which stays the naive window) and
    // every hash are unchanged.
    q("q_text_pack",
      """WITH tc AS (SELECT lang, doc_id,
        |    CAST(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT lang, doc_id, n,
        |  COALESCE(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM tc)
        |SELECT lang, doc_id, n AS n_tokens,
        |  CAST(cb // 512 AS BIGINT) AS seq_id,
        |  CAST((cb + greatest(n, 1) - 1) // 512 - cb // 512 + 1 AS BIGINT) AS n_seqs
        |FROM c
        |ORDER BY lang, doc_id""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tc = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          size(words).cast("long").as("n"),
          expr("doc_id div 1024").as("bk"))
      val wboff = Window.partitionBy("lang").orderBy("bk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val boff = tc.groupBy("lang", "bk").agg(sum("n").as("bn"))
        .withColumn("boff", coalesce(sum("bn").over(wboff), lit(0L)))
        .select("lang", "bk", "boff")
      val win = Window.partitionBy("lang", "bk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      tc.join(boff, Seq("lang", "bk"))
        .withColumn("cb",
          col("boff") + coalesce(sum("n").over(win), lit(0L)))
        .select(col("lang"), col("doc_id"), col("n").as("n_tokens"),
          expr("cb div 512").as("seq_id"),
          (expr("(cb + greatest(n, 1) - 1) div 512")
            - expr("cb div 512") + 1).as("n_seqs"))
        .orderBy("lang", "doc_id")
    },

    // Zipf fit per language — the corpus-health check a curation
    // pipeline runs after every major filter: rank the top-100 terms by
    // frequency and fit ln(freq) ~ ln(rank); a healthy natural-language
    // slice sits near slope -1, while boilerplate/template floods
    // flatten the curve. One (lang, word) hash aggregation (the same
    // shuffle shape as tf-idf's df stage), a per-lang top-100 window on
    // the tiny term table, then a 100-point regression per lang —
    // output rows = |langs|, independent of corpus size. Rank ties
    // break on the word for cross-engine determinism.
    q("q_text_zipf",
      """WITH tok AS (SELECT lang, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |tc AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS n
        |       FROM tok GROUP BY lang, w),
        |rk AS (SELECT lang, n,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY n DESC, w) AS r
        |       FROM tc)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
        |  round(regr_slope(ln(n), ln(r)), 6) AS zipf_slope,
        |  round(regr_r2(ln(n), ln(r)), 6) AS zipf_r2
        |FROM rk WHERE r <= 100
        |GROUP BY lang
        |ORDER BY lang""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tc = Tables.documents(s, d)
        .select(col("lang"), explode(words).as("w"))
        .groupBy("lang", "w")
        .agg(count(lit(1)).as("n"))
      val rk = tc.withColumn("r", row_number().over(
        Window.partitionBy("lang").orderBy(col("n").desc, col("w"))))
      rk.filter(col("r") <= 100)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_terms"),
          round(regr_slope(log(col("n")), log(col("r"))), 6).as("zipf_slope"),
          round(regr_r2(log(col("n")), log(col("r"))), 6).as("zipf_r2"))
        .orderBy("lang")
    },

    // Heaps'-law fit per language — vocabulary growth V ~ N^beta over
    // the corpus read in deterministic doc_id order; the companion
    // corpus-health check to q_text_zipf (template floods and boilerplate
    // push beta toward 0, genuinely diverse text sits near 0.5-0.7).
    // Each token's FIRST document (one (lang, token) aggregation) turns
    // into per-doc new-type counts, so both cumulative series are exact
    // integers riding one per-lang cumulative window; the regression
    // then fits ln V ~ ln N over the |docs|-sized checkpoint frame.
    // Scale note: the per-lang cumsum window funnels each language into
    // one partition — at 100 TB the checkpoints come from a doc_id
    // sample (the fit needs only ~1e3 points), exactly like
    // q_text_ppl_bucket's documented sampling cut-over; the token-level
    // stages (the actual volume) stay fully parallel hash aggregates.
    q("q_text_heaps",
      """WITH tok AS (SELECT lang, doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |n AS (SELECT lang, doc_id, count(*) AS n_tok FROM tok GROUP BY 1, 2),
        |f AS (SELECT lang, w, min(doc_id) AS fd FROM tok GROUP BY 1, 2),
        |nv AS (SELECT lang, fd AS doc_id, count(*) AS new_types
        |       FROM f GROUP BY 1, 2),
        |c AS (SELECT n.lang, n.doc_id,
        |    sum(n.n_tok) OVER (PARTITION BY n.lang ORDER BY n.doc_id)
        |      AS cum_n,
        |    sum(coalesce(nv.new_types, 0)) OVER (PARTITION BY n.lang
        |      ORDER BY n.doc_id) AS cum_v
        |  FROM n LEFT JOIN nv
        |    ON nv.lang = n.lang AND nv.doc_id = n.doc_id)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(regr_slope(ln(cum_v), ln(cum_n)), 6) AS heaps_beta,
        |  round(regr_r2(ln(cum_v), ln(cum_n)), 6) AS heaps_r2
        |FROM c WHERE cum_n > 0 AND cum_v > 0
        |GROUP BY lang
        |ORDER BY lang""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val tok = Tables.documents(s, d)
        .select(col("lang"), col("doc_id"), explode(words).as("w"))
      val n = tok.groupBy("lang", "doc_id").agg(count(lit(1)).as("n_tok"))
      val f = tok.groupBy("lang", "w").agg(min("doc_id").as("fd"))
      val nv = f.groupBy(col("lang"), col("fd").as("doc_id"))
        .agg(count(lit(1)).as("new_types"))
      val wl = Window.partitionBy("lang").orderBy("doc_id")
      val c = n.join(nv, Seq("lang", "doc_id"), "left")
        .select(col("lang"), col("doc_id"), col("n_tok"),
          coalesce(col("new_types"), lit(0L)).as("nt"))
        .select(col("lang"),
          sum("n_tok").over(wl).as("cum_n"),
          sum("nt").over(wl).as("cum_v"))
      c.filter(col("cum_n") > 0 && col("cum_v") > 0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(regr_slope(log(col("cum_v")), log(col("cum_n"))), 6)
            .as("heaps_beta"),
          round(regr_r2(log(col("cum_v")), log(col("cum_n"))), 6)
            .as("heaps_r2"))
        .orderBy("lang")
    },

    // Per-source Jensen-Shannon divergence from the corpus unigram
    // distribution — the drift detector a curation pipeline runs per
    // crawl/source before mixing (a source whose JSD jumps got template
    // floods, language shifts, or extraction bugs). The absent-word half
    // of the divergence is folded CLOSED-FORM into the present-word sum
    // (for w missing from the source, the term is q·ln2), so both
    // engines iterate ONLY (source, word) pairs that exist — one token
    // aggregation per keying (source-word, word, source), a
    // co-partitioned hash join on the word, and a singleton total
    // broadcast. Probabilities are exact integer ratios; the log terms
    // are identical per row, and round-6 absorbs summation-order wobble.
    q("q_text_jsd",
      """WITH tok AS (SELECT source, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS w
        |             FROM documents),
        |sw AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |st AS (SELECT source, sum(c) AS n FROM sw GROUP BY 1),
        |cw AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        |ct AS (SELECT count(*) AS n FROM tok),
        |j AS (SELECT sw.source,
        |    sw.c / st.n AS p, cw.c / ct.n AS q
        |  FROM sw JOIN st USING (source) JOIN cw USING (w) CROSS JOIN ct)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_types,
        |  round(0.5 * sum(p * ln(2 * p / (p + q)) + q * ln(2 * q / (p + q)))
        |    + 0.5 * ln(2) * (1 - sum(q)), 6) AS jsd
        |FROM j
        |GROUP BY source
        |ORDER BY source""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(words).as("w"))
      val sw = tok.groupBy("source", "w").agg(count(lit(1)).as("c"))
      val st = sw.groupBy("source").agg(sum("c").as("n"))
      val cw = tok.groupBy("w").agg(count(lit(1)).as("cc"))
      val ct = tok.agg(count(lit(1)).as("nt"))
      val j = sw.join(st, "source").join(cw, "w").crossJoin(broadcast(ct))
        .select(col("source"),
          (col("c") / col("n")).as("p"), (col("cc") / col("nt")).as("q"))
      val p = col("p"); val qq = col("q")
      j.groupBy("source")
        .agg(count(lit(1)).as("n_types"),
          round(lit(0.5) * sum(p * log(lit(2) * p / (p + qq))
              + qq * log(lit(2) * qq / (p + qq)))
            + lit(0.5) * log(lit(2.0)) * (lit(1) - sum(qq)), 6).as("jsd"))
        .orderBy("source")
    },

    q("q_text_stats",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(length(text)), 6) AS avg_len,
        |  count(DISTINCT source) AS n_sources
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          round(avg(length(col("text"))), 6).as("avg_len"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("lang")
    },

    // Flesch-style readability per (lang, source) — the legibility
    // screen a quality pipeline runs next to stopword/punct ratios.
    // Deliberately LATIN-LETTER scoped (words = [A-Za-z]+ runs,
    // syllable proxy = vowel-group runs, sentences = [.!?]+ runs with a
    // floor of 1): Flesch's formula is only defined for alphabetic
    // text, so CJK-only docs drop out via the w > 0 filter instead of
    // scoring garbage. Entirely per-row narrow compute + one hash
    // aggregate on (lang, source) — nothing here scales with anything
    // but the scan.
    q("q_text_readability",
      """WITH f AS (SELECT lang, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE) AS w,
        |    CAST(len(regexp_extract_all(text, '[AEIOUYaeiouy]+')) AS DOUBLE)
        |      AS sy,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS DOUBLE) AS st
        |  FROM documents),
        |r AS (SELECT lang, source, w, st,
        |    206.835 - 1.015 * (w / st) - 84.6 * (sy / w) AS flesch
        |  FROM f WHERE w > 0)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(avg(flesch), 6) AS avg_flesch,
        |  round(avg(w / st), 6) AS words_per_sent
        |FROM r
        |GROUP BY lang, source
        |ORDER BY lang, source""") { (s, d) =>
      val w = size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
        .cast("double")
      val sy = size(regexp_extract_all(col("text"), lit("[AEIOUYaeiouy]+"),
        lit(0))).cast("double")
      val st = greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"),
        lit(0))), lit(1)).cast("double")
      Tables.documents(s, d)
        .select(col("lang"), col("source"), w.as("w"), sy.as("sy"),
          st.as("st"))
        .filter(col("w") > 0)
        .select(col("lang"), col("source"), col("w"), col("st"),
          (lit(206.835) - lit(1.015) * (col("w") / col("st"))
            - lit(84.6) * (col("sy") / col("w"))).as("flesch"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("flesch"), 6).as("avg_flesch"),
          round(avg(col("w") / col("st")), 6).as("words_per_sent"))
        .orderBy("lang", "source")
    },

    // Language ID by signature-vocabulary hits (n-gram heuristic shape);
    // argmax with alphabetical tie-break, spelled identically in both
    // engines.
    q("q_text_langid",
      s"""$LangidPredSql
        |SELECT doc_id, lang, h_de, h_en, h_es, h_fr, h_zh, pred_lang
        |FROM p
        |ORDER BY doc_id""") { (s, d) =>
      langidPred(s, d).orderBy("doc_id")
    },

    // Language-ID confusion matrix: predicted vs labeled language over
    // the whole corpus — the evaluation a pipeline runs after changing
    // the classifier (or the corpus) to see WHICH languages bleed into
    // which. Shares q_text_langid's exact prediction spelling (one
    // refactored core in both engines, so the two queries can never
    // drift); the matrix itself is one |langs|² hash aggregate.
    q("q_text_lang_confusion",
      s"""$LangidPredSql
        |SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |FROM p
        |GROUP BY lang, pred_lang
        |ORDER BY lang, pred_lang""") { (s, d) =>
      langidPred(s, d)
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // Quality scoring: type-token ratio, word-length, length saturation.
    q("q_text_quality",
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS n_words,
        |  len(list_distinct(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0))) AS n_distinct,
        |  round(len(list_distinct(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)))
        |    / len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)), 6) AS ttr,
        |  round(length(replace(text, ' ', ''))
        |    / len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)), 6) AS avg_word_len,
        |  round(0.6 * (len(list_distinct(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)))
        |      / len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)))
        |    + 0.4 * least(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) / 50.0, 1.0), 6)
        |    AS quality
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      val nWords = size(words)
      val nDistinct = size(array_distinct(words))
      // nullif: zero-token docs (possible since the unicode tokenizer)
      // must score NULL, not raise ANSI DIVIDE_BY_ZERO; DuckDB's x/0
      // is NULL natively so the oracle agrees without a mirror guard.
      val safeN = nullif(nWords, lit(0))
      val ttr = nDistinct / safeN
      Tables.documents(s, d).select(col("doc_id"),
        nWords.as("n_words"),
        nDistinct.as("n_distinct"),
        round(ttr, 6).as("ttr"),
        round(length(regexp_replace(col("text"), " ", "")) / safeN, 6)
          .as("avg_word_len"),
        qualityScore.as("quality"))
        .orderBy("doc_id")
    },

    // Token counting: whitespace tokens + a BPE-ish regex chunking.
    q("q_text_tokcount",
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
        |  len(regexp_extract_all(text, '[a-z]{1,4}')) AS bpe_tokens,
        |  round(length(text) / len(regexp_extract_all(text, '[a-z]{1,4}')), 6)
        |    AS chars_per_tok
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        size(words).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)"))
          .as("alpha_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)"))
          .as("bpe_tokens"),
        round(length(col("text")) / nullif(
          size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")), lit(0)), 6)
          .as("chars_per_tok"))
        .orderBy("doc_id")
    },

    // Learned-BPE token accounting — the real-tokenizer step behind
    // q_text_tokcount's BPE-ish regex proxy: train a BPE on the
    // corpus WORD-FREQUENCY table (the standard trainer input — one
    // corpus-scale groupBy, Heaps-bounded and top-64k-capped, then a
    // driver-side INCREMENTAL merge loop over that bounded table;
    // Sennrich et al. 2016, subword-nmt-style index maintenance —
    // see Bpe.train), broadcast the learned ranks, and tokenize every
    // document under them in a narrow per-partition map with a
    // distinct-word memo. Merge count is a session knob
    // (spark.graft.bpe.merges, default 128 — the golden-pinned
    // operating point; real vocabularies run 8k-32k, which the
    // incremental trainer sustains — wall measured in SCALE.md).
    // Output: per-doc whitespace vs learned-BPE token counts and the
    // ratio — the budget signal an actual tokenizer yields.
    // ORACLE-CHECKED since r18 (verdict #3; golden-only before): the
    // whole trainer unrolls in DuckDB — see [[bpeOracle]] — and the
    // oracle/golden pin the default 128-merge operating point (the
    // kmeans "K rides the session knob" convention). Training replay
    // vs the naive reference recount, greedy-application round-trip,
    // and merge-monotonicity stay pinned in BpeSpec.
    q("q_text_bpe", bpeOracle) { (s, d) =>
      val nMerges = s.conf.getOption("spark.graft.bpe.merges")
        .map(_.toInt).getOrElse(128)
      val wf = Tables.documents(s, d)
        .select(explode(words).as("w"))
        .groupBy("w").agg(count(lit(1)).as("f"))
        .orderBy(col("f").desc, col("w")).limit(65536)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val ranks = Bpe.train(wf, nMerges).zipWithIndex.toMap
      val bc = s.sparkContext.broadcast(ranks)
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), words.as("ws"))
        .as[(Long, Seq[String])]
        .mapPartitions { it =>
          val memo = scala.collection.mutable.HashMap.empty[String, Int]
          it.map { case (id, ws) =>
            val nBpe = ws.iterator.map(w =>
              memo.getOrElseUpdate(w, Bpe.encode(w, bc.value).length)).sum
            (id, ws.length.toLong, nBpe.toLong)
          }
        }
        .toDF("doc_id", "n_ws_tokens", "n_bpe_tokens")
        // nullif: a zero-token doc must yield NULL, not NaN, so the
        // oracle's x/0 -> NULL agrees (none exist at the fixture
        // tiers, but the guard is the q_text_stats convention)
        .withColumn("ratio", round(col("n_bpe_tokens") /
          nullif(col("n_ws_tokens"), lit(0)).cast("double"), 6))
        .orderBy("doc_id")
    },

    // Document fingerprint: min MD5 over sliding char 8-grams (winnowing
    // shape). MD5 hex is identical cross-engine, unlike hash()/xxhash64.
    // The min is a native rolling-digest kernel (graftnative.MinGramMd5):
    // the prior `array_min(transform(sequence(...), md5(...)))` spelling
    // allocated ~|text| 32-char hex strings per row — the r9 driver
    // bench's second-heaviest allocator — where only one 16-byte digest
    // per window is needed (unsigned digest order ≡ hex order).
    q("q_text_fingerprint",
      """SELECT doc_id,
        |  list_min([md5(substr(text, CAST(i AS INT), 8))
        |    for i in range(1, greatest(length(text) - 7, 1) + 1)]) AS fp,
        |  md5(text) AS full_md5
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.VectorFunctions.minGramMd5(col("text"), 8).as("fp"),
        md5(col("text")).as("full_md5"))
        .orderBy("doc_id")
    },

    // Deterministic hash-based stratified sampling — the reproducible
    // train/eval-split idiom for training-data pipelines: membership
    // depends only on the stable doc_id (md5 is identical cross-engine,
    // unlike either engine's RNG), so the sample is stable under
    // repartitioning, re-runs, and engine changes. Rates per stratum:
    // en 25% (first two hex chars < '40'), other languages ~10% (< '1a').
    q("q_sample_stratified",
      """SELECT doc_id, lang,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |  < CASE WHEN lang = 'en' THEN '40' ELSE '1a' END
        |ORDER BY doc_id""") { (s, d) =>
      val bucket = substring(md5(col("doc_id").cast("string")), 1, 2)
      Tables.documents(s, d)
        .withColumn("bucket", bucket)
        .filter(col("bucket") <
          when(col("lang") === "en", "40").otherwise("1a"))
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    },

    // Intra-document repetition (the Gopher-style quality filter):
    // duplicate word-3-gram fraction per document — high repetition is
    // the classic low-quality-text signal. Raw (non-distinct) grams.
    q("q_text_repetition",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g AS (SELECT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
        |        for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |        CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct
        |      FROM g GROUP BY doc_id)
        |SELECT doc_id, n_grams, n_distinct,
        |  round(1 - n_distinct / CAST(n_grams AS DOUBLE), 6) AS rep_ratio
        |FROM r
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), normTokens(col("text")).as("ws"))
        .select(col("doc_id"), explode(wordGrams3("ws")).as("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("gram")).as("n_distinct"))
        .withColumn("rep_ratio",
          round(lit(1) - col("n_distinct") / col("n_grams"), 6))
        .orderBy("doc_id")
    },

    // Character-level Shannon entropy per document — the cheap
    // perplexity proxy: gibberish and boilerplate sit at the entropy
    // extremes. All of a document's characters live in ONE row, so
    // this is a pure narrow map: one native single-pass kernel
    // (code-point histogram + the H = log2(tot) − Σ n·log2 n / tot
    // identity) per document, no explode, no shuffle before the
    // output sort. The r6–r9 plan (per-char explode → two grouped
    // aggs → self-join) materialized ~|text| rows per doc and was the
    // registry's heaviest allocator; same values, round(·,6) absorbs
    // summation-order ulp drift (§2.13 rule 2) exactly as before.
    // The oracle mirrors the identity so both engines sum n·log2 n.
    q("q_text_entropy",
      """WITH c AS (SELECT doc_id,
        |    unnest([substr(text, CAST(i AS INT), 1)
        |      for i in range(1, length(text) + 1)]) AS ch
        |  FROM documents),
        |f AS (SELECT doc_id, ch, count(*) AS n FROM c GROUP BY doc_id, ch)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_distinct_chars,
        |  round(log2(CAST(sum(n) AS DOUBLE))
        |    - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 6) AS entropy
        |FROM f
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.VectorFunctions.charEntropy(col("text")).as("st"))
        .select(col("doc_id"),
          col("st.n_distinct_chars").as("n_distinct_chars"),
          round(col("st.entropy"), 6).as("entropy"))
        .orderBy("doc_id")
    },

    // Unigram-LM quality score — the cheapest LM-based filter a
    // training pipeline runs: each document's mean negative log2
    // probability of its words under the CORPUS unigram distribution
    // (MLE; every probe word exists in the corpus by construction
    // since the corpus defines it). Boilerplate scores low, rare-word
    // gibberish high. Scale shape: the vocabulary table is one hash
    // aggregation; scoring joins tokens to it ON THE WORD KEY — a
    // shuffle join by design, since a real vocabulary outgrows
    // broadcast — and the grand-total token count rides in as a
    // broadcast singleton. log2 cross-engine parity is established by
    // q_text_entropy (§2.13 rehearsal).
    q("q_text_unigram_nll",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS word
        |            FROM documents),
        |f AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        |      FROM tok GROUP BY word),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(avg(-log2(CAST(n AS DOUBLE) / total)), 6) AS avg_nll
        |FROM tok JOIN f USING (word) CROSS JOIN t
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(words).as("word"))
      // The vocabulary table reads the stage-cached TF stat (r22):
      // count of a word over all tokens == Σ its per-doc tf — EXACT
      // integer equality, so n/total and every downstream double are
      // bit-identical — and the second full tokenize this query paid
      // per run disappears. The scoring side keeps its own token
      // explode: the avg is over token instances by definition.
      val f = tfTable(s, d).groupBy("word").agg(sum("tf").as("n"))
      val t = f.agg(sum("n").as("total"))
      tok.join(f, "word")
        .crossJoin(broadcast(t))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log2(col("n").cast("double") / col("total"))), 6)
            .as("avg_nll"))
        .orderBy("doc_id")
    },

    // Perplexity bucketing (CCNet, Wenzek et al. 2020): per language,
    // docs split into head/middle/tail TERTILES of their per-doc
    // unigram NLL — the curation step that keeps "head" (fluent) text
    // and drops or downweights "tail" (garbled) text per language
    // rather than with one global threshold that would gut low-resource
    // langs. Reuses q_text_unigram_nll's per-doc score (rounded at 6,
    // already hash-proven cross-engine) as the ntile input, ordered
    // (nll, doc_id) for total determinism; bucket stats are count +
    // min/max of the rounded scores, all order-insensitive. The ntile
    // needs a per-lang sort — exact-by-contract here; at 100 TB the
    // same cut points come from approx_percentile over a per-lang
    // sample (CCNet itself thresholds on a held-out-sample fit), so
    // the full sort is never the scale story.
    q("q_text_ppl_bucket",
      """WITH tok AS (SELECT doc_id, lang, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS word
        |            FROM documents),
        |f AS (SELECT word, CAST(count(*) AS BIGINT) AS n
        |      FROM tok GROUP BY word),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM f),
        |nll AS (SELECT doc_id, lang,
        |          round(avg(-log2(CAST(n AS DOUBLE) / total)), 6) AS nll
        |        FROM tok JOIN f USING (word) CROSS JOIN t
        |        GROUP BY doc_id, lang),
        |b AS (SELECT lang, nll,
        |        ntile(3) OVER (PARTITION BY lang ORDER BY nll, doc_id)
        |          AS bucket
        |      FROM nll)
        |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(nll) AS min_nll, max(nll) AS max_nll
        |FROM b GROUP BY lang, bucket
        |ORDER BY lang, bucket""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(words).as("word"))
      // Same TF-stat vocabulary read as q_text_unigram_nll (r22):
      // Σtf == the exploded count exactly, one fewer corpus tokenize.
      val f = tfTable(s, d).groupBy("word").agg(sum("tf").as("n"))
      val t = f.agg(sum("n").as("total"))
      val nll = tok.join(f, "word")
        .crossJoin(broadcast(t))
        .groupBy("doc_id", "lang")
        .agg(round(avg(-log2(col("n").cast("double") / col("total"))), 6)
          .as("nll"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy(col("nll"), col("doc_id"))
      nll.withColumn("bucket", ntile(3).over(w))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("nll").as("min_nll"), max("nll").as("max_nll"))
        .orderBy("lang", "bucket")
    },

    // Bigram-LM quality scoring — the sequel to q_text_unigram_nll:
    // mean -log2 P(w2 | w1) under the corpus MLE (count(w1 w2) /
    // count(w1-as-predecessor)). Catches what unigram NLL can't —
    // shuffled or machine-garbled text keeps its unigram profile but
    // its bigrams crater. Bigrams come from a per-doc lead() window
    // (state bounded by doc length); both count joins key on the
    // bigram/word — shuffle joins BY DESIGN, a real vocabulary
    // outgrows broadcast. The oracle derives the identical pairs by
    // slicing the word array.
    q("q_text_bigram_nll",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |p0 AS (SELECT doc_id,
        |        unnest([array_to_string(ws[i:i+1], ' ')
        |          for i in range(1, greatest(len(ws) - 1, 0) + 1)]) AS bg
        |      FROM w),
        |p AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM p0),
        |c12 AS (SELECT bg, CAST(count(*) AS BIGINT) AS n12
        |        FROM p GROUP BY bg),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1
        |       FROM p GROUP BY w1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  round(avg(-log2(CAST(n12 AS DOUBLE) / n1)), 6) AS avg_nll
        |FROM p JOIN c12 USING (bg) JOIN c1 USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""") { (s, d) =>
      // Reads the SHARED stage-cached corpus bigram table (see
      // bigramTable) — one materialized narrow transform serving this
      // query's three references AND q_text_pmi's; the parquet memo
      // replaced per-query localCheckpoints (executor-ephemeral,
      // built twice).
      val p = bigramTable(s, d).select("doc_id", "w1", "bg")
      val c12 = p.groupBy("bg").agg(count(lit(1)).as("n12"))
      val c1 = p.groupBy("w1").agg(count(lit(1)).as("n1"))
      p.join(c12, "bg").join(c1, "w1")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log2(col("n12").cast("double") / col("n1"))), 6)
            .as("avg_nll"))
        .orderBy("doc_id")
    },

    // Benchmark decontamination — the training-pipeline step that
    // removes eval-set leakage: source 'src0' plays the held-out
    // benchmark; a training doc is contaminated when it shares >= 3
    // distinct word-3-grams with ANY benchmark doc. Runs through the
    // shared-gram inverted index (train grams hash-join the benchmark
    // gram set — grams 64-bit-hashed on the Spark side so the shuffle
    // keys are fixed-width; the oracle joins the strings, same result).
    q("q_text_decontaminate",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |d AS (SELECT doc_id, source FROM documents),
        |ev AS (SELECT DISTINCT g0.gram FROM g0
        |       JOIN d ON g0.doc_id = d.doc_id WHERE d.source = 'src0'),
        |tr AS (SELECT g0.doc_id, g0.gram FROM g0
        |       JOIN d ON g0.doc_id = d.doc_id WHERE d.source <> 'src0'),
        |c AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM tr JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id)
        |SELECT doc_id, n_shared,
        |  CAST(CASE WHEN n_shared >= 3 THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM c
        |ORDER BY doc_id""") { (s, d) =>
      // both subtrees read the materialized [[docGrams]] stage — the
      // full-corpus tokenize pass runs once per session, not once per
      // consuming subtree (r15 verdict #3)
      val g0 = docGrams(s, d)
      val ev = g0.filter(col("source") === "src0").select("gram").distinct()
      // The benchmark gram set is the small side BY CONSTRUCTION (eval
      // sets are fixed-size; the training corpus is the 100 TB side) —
      // broadcast it so decontamination never shuffles the corpus.
      g0.filter(col("source") =!= "src0")
        .join(broadcast(ev), "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("contaminated",
          when(col("n_shared") >= 3, 1).otherwise(0))
        .orderBy("doc_id")
    },

    // Bloom-pruned decontamination — the same computation when the
    // benchmark gram SET is too big to broadcast raw (at 10 bits/key a
    // 10^9-gram eval suite is a ~1.2 GB filter vs an 8+ GB exact set):
    // the corpus probes a broadcast Bloom filter of the eval grams
    // (might_contain false = definitely clean, so candidate docs are a
    // SUPERSET — zero false negatives by construction), and only the
    // surviving sliver takes the exact shuffle join that removes the
    // false positives. Deliberately NOT a broadcast on the verify join:
    // pruning before the shuffle is the whole point at scale. The
    // filter reaches the probe as a SCALAR SUBQUERY (might_contain
    // requires a constant/subquery filter side — the same shape the
    // runtime-filter rule injects, Dataset.scalar()). The output is
    // therefore IDENTICAL to q_text_decontaminate — same oracle text,
    // and the same-result equality is also pinned in PlanShapeSpec
    // along with the plan shape (bloom probe before the exchange).
    q("q_text_decontam_bloom",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |d AS (SELECT doc_id, source FROM documents),
        |ev AS (SELECT DISTINCT g0.gram FROM g0
        |       JOIN d ON g0.doc_id = d.doc_id WHERE d.source = 'src0'),
        |tr AS (SELECT g0.doc_id, g0.gram FROM g0
        |       JOIN d ON g0.doc_id = d.doc_id WHERE d.source <> 'src0'),
        |c AS (SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_shared
        |      FROM tr JOIN ev ON tr.gram = ev.gram GROUP BY tr.doc_id)
        |SELECT doc_id, n_shared,
        |  CAST(CASE WHEN n_shared >= 3 THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM c
        |ORDER BY doc_id""") { (s, d) =>
      // reads the materialized [[docGrams]] stage like its exact twin
      val g0 = docGrams(s, d)
      // ev is referenced twice (Bloom build + exact verify) and there
      // is no cross-subtree sharing — checkpoint it so the eval-set
      // gram build runs once, not once per reference.
      val ev = g0.filter(col("source") === "src0").select("gram").distinct()
        .localCheckpoint(true)
      // Sized for ~1M grams at 8 bits/key (1 MB serialized — a fixed
      // pipeline constant, NOT data-dependent; at 10^9 grams this knob
      // is what grows, never the exact set's broadcast).
      val bloom = ev.agg(graft.functions.SketchFunctions
        .bloomAgg(col("gram"), 1L << 20, 1L << 23).as("bf")).scalar()
      g0.filter(col("source") =!= "src0")
        .filter(graft.functions.SketchFunctions
          .bloomMightContain(bloom, col("gram")))
        .select("doc_id", "gram")
        .join(ev, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("contaminated",
          when(col("n_shared") >= 3, 1).otherwise(0))
        .orderBy("doc_id")
    },

    // Domain mixing weights: per-source document and token counts with
    // the token-share sampling weight — the corpus-mixing table every
    // training-data pipeline derives before sampling.
    // Deterministic hash split — the train/val/test assignment every
    // pipeline materializes before anything touches the data. Split
    // by a hash OF THE DOC ID, not by position or random(): the
    // assignment is then (a) reproducible across engines and runs,
    // (b) STABLE UNDER CORPUS GROWTH — ingesting tomorrow's crawl
    // never reshuffles today's docs across splits (the leakage
    // mechanism of ratio-based resplits), and (c) join-free per row.
    // The hash is the first md5 hex nibble of the decimal id string —
    // byte-identical in both engines, 16 buckets: 0..b train (75%),
    // c..d val, e..f test. Output is the per-(source, split) manifest
    // (docs + chars) a pipeline ships with the split definition.
    q("q_mix_split",
      """WITH s AS (SELECT source, n_chars,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars
        |FROM s GROUP BY source, split
        |ORDER BY source, split""") { (s, d) =>
      val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
      Tables.documents(s, d)
        .select(col("source"), col("n_chars"),
          when(nib <= "b", "train").when(nib <= "d", "val")
            .otherwise("test").as("split"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
        .orderBy("source", "split")
    },

    // Split-leakage audit — the "did dedup run BEFORE splitting" check
    // every pipeline owes its eval: an exact duplicate whose copies
    // land in different splits (by the id-hash assignment, which is
    // blind to content) leaks training text into val/test. Per split:
    // docs, docs whose exact text (md5) also appears in ANOTHER split,
    // and the leaked fraction. Non-vacuous on the fixtures (the corpus
    // plants exact dups; id-hash scatters them across splits). Scale
    // shape: one (text-hash → distinct-split count) aggregate + one
    // hash join back on the text hash — both key on md5(text), the
    // exact-dedup family's shuffle key; no window, no product.
    q("q_mix_split_leakage",
      """WITH s AS (SELECT doc_id, md5(text) AS h,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'd'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |x AS (SELECT h, count(DISTINCT split) AS nsp
        |      FROM s GROUP BY h)
        |SELECT s.split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN x.nsp > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leaked,
        |  round(sum(CASE WHEN x.nsp > 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS leak_frac
        |FROM s JOIN x USING (h)
        |GROUP BY s.split
        |ORDER BY s.split""") { (s, d) =>
      val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
      val sdf = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"),
          when(nib <= "b", "train").when(nib <= "d", "val")
            .otherwise("test").as("split"))
      val x = sdf.groupBy("h").agg(countDistinct("split").as("nsp"))
      sdf.join(x, "h")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nsp") > 1, 1).otherwise(0)).as("n_leaked"),
          round(sum(when(col("nsp") > 1, 1).otherwise(0))
            / count(lit(1)).cast("double"), 6).as("leak_frac"))
        .orderBy("split")
    },

    // Dedup-BEFORE-split — the operator that FIXES what
    // q_mix_split_leakage detects (r14 verdict #4; the ONE Spark
    // spelling of the keep_id convention + nibble thresholds lives in
    // [[dedupKeyedSplit]], shared with the q_mix_split_neardup audit
    // so the audit can never desynchronize from the split it audits):
    // split assignment
    // is computed on the exact-dedup group's keep_id (min doc_id per
    // md5(text), the q_dedup_exact convention), so every copy of a
    // text lands in the SAME split by construction and cross-split
    // exact-dup leakage is structurally zero (pinned on its own output
    // in PipelineOpsSpec, and non-vacuous: on the fixtures some docs
    // provably move relative to the naive id-hash split). Same md5
    // nibble thresholds as q_mix_split (a..b train, c..d val, e..f
    // test) applied to the keep_id. Scale shape: one groupBy + one
    // hash join back, both keyed on md5(text) — the exact-dedup
    // family's shuffle key; no window, no product.
    q("q_mix_split_dedup",
      """WITH k AS (SELECT doc_id, md5(text) AS h FROM documents),
        |g AS (SELECT h, min(doc_id) AS keep_id FROM k GROUP BY h)
        |SELECT k.doc_id, g.keep_id,
        |  CASE WHEN substr(md5(CAST(g.keep_id AS VARCHAR)), 1, 1) <= 'b'
        |         THEN 'train'
        |       WHEN substr(md5(CAST(g.keep_id AS VARCHAR)), 1, 1) <= 'd'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM k JOIN g ON g.h = k.h
        |ORDER BY k.doc_id""") { (s, d) =>
      dedupKeyedSplit(s, d).orderBy("doc_id")
    },

    // NEAR-dup split-leakage audit — what dedup-before-split does NOT
    // fix: q_mix_split_dedup provably zeroes EXACT cross-split dups
    // (same md5 ⇒ same split), but near-duplicates have different
    // hashes, get independent split assignments, and still leak
    // train-adjacent text into val/test. Per split (the DEDUP-KEYED
    // assignment — auditing the pipeline's best practice, not the
    // naive one): docs, docs with a jac ≥ 0.5 near-dup in ANOTHER
    // split, leaked fraction. Non-vacuous at every tier (8/12/104
    // cross-split edges at sf0.001/0.01/0.1) — the finding that
    // motivates fuzzy decontamination. Scale shape: rides the
    // stage-cached postings-bounded edge artifact (the dedup family's
    // candidate pipeline, measured ~linear in SCALE.md) + the md5
    // split join; the only new work is |edges|-bounded.
    q("q_mix_split_neardup",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id),
        |e AS (SELECT ida, idb FROM p
        |      JOIN sz sa ON p.ida = sa.doc_id
        |      JOIN sz sb ON p.idb = sb.doc_id
        |      WHERE round(c / (sa.n + sb.n - c), 6) >= $NearDupJac),
        |k AS (SELECT doc_id, md5(text) AS h FROM documents),
        |gk AS (SELECT h, min(doc_id) AS keep_id FROM k GROUP BY h),
        |sp AS (SELECT k.doc_id,
        |    CASE WHEN substr(md5(CAST(gk.keep_id AS VARCHAR)), 1, 1) <= 'b'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(gk.keep_id AS VARCHAR)), 1, 1) <= 'd'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM k JOIN gk ON gk.h = k.h),
        |x AS (SELECT DISTINCT doc_id FROM (
        |    SELECT e.ida AS doc_id FROM e
        |      JOIN sp sa ON e.ida = sa.doc_id
        |      JOIN sp sb ON e.idb = sb.doc_id WHERE sa.split <> sb.split
        |    UNION ALL
        |    SELECT e.idb FROM e
        |      JOIN sp sa ON e.ida = sa.doc_id
        |      JOIN sp sb ON e.idb = sb.doc_id WHERE sa.split <> sb.split))
        |SELECT sp.split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(x.doc_id) AS BIGINT) AS n_leaked_near,
        |  round(count(x.doc_id) / CAST(count(*) AS DOUBLE), 6) AS leak_frac
        |FROM sp LEFT JOIN x ON x.doc_id = sp.doc_id
        |GROUP BY sp.split
        |ORDER BY sp.split""") { (s, d) =>
      val sp = dedupKeyedSplit(s, d).select("doc_id", "split")
      val ej = nearDupEdges(s, d)
        .join(sp.toDF("ida", "sa"), "ida")
        .join(sp.toDF("idb", "sb"), "idb")
        .filter(col("sa") =!= col("sb"))
      val x = ej.select(col("ida").as("doc_id"))
        .unionAll(ej.select(col("idb").as("doc_id")))
        .distinct().withColumn("leak", lit(1))
      sp.join(x, Seq("doc_id"), "left")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          count(col("leak")).as("n_leaked_near"),
          round(count(col("leak")) / count(lit(1)).cast("double"), 6)
            .as("leak_frac"))
        .orderBy("split")
    },

    // Split decontamination — the fix-side counterpart of the
    // q_mix_split_neardup audit: after dedup-keyed splitting, flag
    // train/val docs sharing ≥ 3 distinct word-3-grams with ANY
    // test-split document (the q_text_decontaminate bar, aimed at
    // one's own held-out split instead of an external benchmark
    // source — fuzzy decontamination, which catches near-dups exact
    // split-keying cannot). The two bars differ BY DESIGN: ≥ 3 shared
    // grams fires far below jaccard 0.5 (every neardup-audit hit
    // SURFACES here — ≥ 1 shared gram by edge construction, the
    // PipelineOpsSpec coverage pin — but a tiny doc can be a
    // jac ≥ 0.5 twin on 2 grams and sit below the 3-gram flag bar);
    // a pipeline tunes the bar to its leak tolerance. Scale shape:
    // UNLIKE q_text_decontaminate's fixed external benchmark, a
    // 12.5%-nibble test split's gram set grows WITH the corpus, so
    // no broadcast is forced — the planner takes a hash join on the
    // fixed-width 64-bit gram keys (AQE broadcasts while the split is
    // small; at 100 TB it shuffles both sides, and the bloom-pruned
    // probe-before-exchange treatment q_text_decontam_bloom
    // demonstrates is the drop-in upgrade). Grams are hashed on the
    // Spark side, string-joined in the oracle — same counts. Output:
    // one row per non-test doc sharing ≥ 1 gram with the test split,
    // flagged at the ≥ 3 bar.
    q("q_mix_decontam_split",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |k AS (SELECT doc_id, md5(text) AS h FROM documents),
        |gk AS (SELECT h, min(doc_id) AS keep_id FROM k GROUP BY h),
        |sp AS (SELECT k.doc_id,
        |    CASE WHEN substr(md5(CAST(gk.keep_id AS VARCHAR)), 1, 1) <= 'b'
        |           THEN 'train'
        |         WHEN substr(md5(CAST(gk.keep_id AS VARCHAR)), 1, 1) <= 'd'
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM k JOIN gk ON gk.h = k.h),
        |ev AS (SELECT DISTINCT g0.gram FROM g0
        |       JOIN sp ON g0.doc_id = sp.doc_id WHERE sp.split = 'test'),
        |tr AS (SELECT g0.doc_id, sp.split, g0.gram FROM g0
        |       JOIN sp ON g0.doc_id = sp.doc_id WHERE sp.split <> 'test')
        |SELECT tr.doc_id, tr.split, CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(CASE WHEN count(*) >= 3 THEN 1 ELSE 0 END AS INT)
        |    AS contaminated
        |FROM tr JOIN ev ON tr.gram = ev.gram
        |GROUP BY tr.doc_id, tr.split
        |ORDER BY tr.doc_id""") { (s, d) =>
      // Both subtrees (the ev build and the non-test branch) read the
      // MATERIALIZED [[docGrams]] stage (r15 verdict #3; an eager
      // localCheckpoint here had measured strictly worse — the stage
      // is the columnar, prunable spelling of the same sharing): the
      // tokenize→gram→distinct pipeline runs once per session, and at
      // 100 TB it is the maintained gram table this family owns.
      val g0 = docGrams(s, d).select("doc_id", "gram")
      val sp = dedupKeyedSplit(s, d).select("doc_id", "split")
      val gs = g0.join(sp, "doc_id")
      val ev = gs.filter(col("split") === "test")
        .select("gram").distinct()
      gs.filter(col("split") =!= "test")
        .join(ev, "gram")
        .groupBy("doc_id", "split")
        .agg(count(lit(1)).as("n_shared"))
        .withColumn("contaminated",
          when(col("n_shared") >= 3, 1).otherwise(0))
        .orderBy("doc_id")
    },

    // Per-source frequency capping — the "at most K documents per
    // domain" rule every crawl-curation pipeline applies, spelled
    // SCALE-SAFE via the shared [[cappedKeepByHashPriority]]
    // mechanism (the naive form is a row_number window partitioned by
    // the low-cardinality source over the fact scan — the exact shape
    // the PlanShapeSpec sweep outlaws; the DuckDB oracle IS that
    // naive window — same semantics, different plan).
    q("q_mix_source_cap",
      """WITH p AS (SELECT doc_id, source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS pr
        |  FROM documents),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY pr, doc_id)
        |      AS rn
        |  FROM p)
        |SELECT doc_id, source, rn <= 20 AS kept
        |FROM r ORDER BY doc_id""") { (s, d) =>
      cappedKeepByHashPriority(
          Tables.documents(s, d).select("doc_id", "source"),
          keyCol = "source", idCol = "doc_id", cap = 20)
        .select("doc_id", "source", "kept")
        .orderBy("doc_id")
    },

    // Curriculum staging — quality-bucketed training order (the
    // "easy/clean first, noisy later" curriculum every staged training
    // run derives). Stage by FIXED quality thresholds (quality ∈ [0,1]
    // → 4 equal bands), NOT by ntile: a global-order window would be
    // the single-partition-window shape PlanShapeSpec outlaws, while
    // fixed thresholds are embarrassingly parallel AND stable under
    // corpus growth (tomorrow's crawl never reshuffles today's stage
    // assignments — the q_mix_split stability argument applied to the
    // curriculum). Intra-stage order is the md5-prefix sampling
    // priority (the q_mix_source_cap convention): a pipeline sorts by
    // (stage, pr) at write time — a partitioned sort, no window.
    // Zero-token docs score NULL quality → NULL stage (the q_curate
    // floor drops them; a curriculum must not silently stage junk).
    q("q_mix_curriculum",
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS n,
        |    len(list_distinct(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0))) AS nd
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    round(0.6 * (nd / n) + 0.4 * least(n / 50.0, 1.0), 6) AS quality
        |  FROM t)
        |SELECT doc_id, quality,
        |  CAST(CASE WHEN quality IS NULL THEN NULL
        |       ELSE least(CAST(floor(quality * 4) AS INT), 3) END AS INT)
        |    AS stage,
        |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 13) AS pr
        |FROM q
        |ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
          qualityScore.as("quality"))
        // explicit NULL branch (r16 review): least() SKIPS nulls in
        // both engines, so least(floor(NULL*4), 3) would silently
        // stage a zero-token junk doc at 3 — the TOP quality band
        .withColumn("stage",
          when(col("quality").isNotNull,
            least(floor(col("quality") * 4).cast("int"), lit(3))))
        .withColumn("pr",
          substring(md5(col("doc_id").cast("string")), 1, 13))
        .orderBy("doc_id")
    },

    q("q_mix_weights",
      """WITH t AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_tokens) AS total FROM t)
        |SELECT source, n_docs, n_tokens,
        |  round(n_tokens / CAST(total AS DOUBLE), 6) AS weight
        |FROM t CROSS JOIN tot
        |ORDER BY source""") { (s, d) =>
      val t = sourceTokenStats(s, d)
      t.crossJoin(broadcast(t.agg(sum("n_tokens").as("total"))))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens") / col("total"), 6).as("weight"))
        .orderBy("source")
    },

    // Temperature-scaled language mixing — the multilingual-training
    // standard (exponential smoothing with alpha = 0.3, the
    // mBERT/XLM-R recipe): w_l proportional to p_l^alpha, which
    // upsamples tail languages relative to their raw token share so a
    // dominant language can't starve the rest. Companion to
    // q_mix_weights' raw proportional split. Two tiny aggregates
    // (per-lang token counts, then the normalizer over |langs| rows —
    // broadcast both); the only corpus-scale work is the one token
    // count, a narrow map + lang groupBy at any size.
    q("q_mix_temperature",
      """WITH t AS (SELECT lang,
        |    CAST(sum(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM t),
        |p AS (SELECT lang, n_tokens, n_tokens / total AS p
        |      FROM t CROSS JOIN tot),
        |z AS (SELECT sum(pow(p, 0.3)) AS z FROM p)
        |SELECT lang, n_tokens, round(p, 6) AS p,
        |  round(pow(p, 0.3) / z, 6) AS w
        |FROM p CROSS JOIN z
        |ORDER BY lang""") { (s, d) =>
      val t = langTokenStats(s, d)
      val p = t.crossJoin(broadcast(t.agg(
          sum("n_tokens").cast("double").as("total"))))
        .select(col("lang"), col("n_tokens"),
          (col("n_tokens") / col("total")).as("p"))
      p.crossJoin(broadcast(p.agg(sum(pow(col("p"), 0.3)).as("z"))))
        .select(col("lang"), col("n_tokens"), round(col("p"), 6).as("p"),
          round(pow(col("p"), 0.3) / col("z"), 6).as("w"))
        .orderBy("lang")
    },

    // Epoch allocation — the step AFTER choosing mixture weights: how
    // many times each source is actually repeated to hit its smoothed
    // target share (the LLaMA-style per-source epochs table). Natural
    // token shares are smoothed with alpha = 0.5 (sqrt upsampling of
    // tail sources), epochs = target/natural capped at 4.0 (repeating
    // a tiny source more than ~4x degrades quality faster than it
    // balances the mix), effective tokens = epochs x tokens, and the
    // REALIZED share the cap actually yields. Scale shape: everything
    // after the one corpus-wide token count runs on |sources| rows —
    // two broadcast normalizers, no second corpus pass.
    q("q_mix_epochs",
      """WITH t AS (SELECT source,
        |    CAST(sum(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total FROM t),
        |p AS (SELECT source, n_tokens, n_tokens / total AS p
        |      FROM t CROSS JOIN tot),
        |z AS (SELECT sum(sqrt(p)) AS z FROM p),
        |e AS (SELECT source, n_tokens, p,
        |        least(4.0, (sqrt(p) / z) / p) AS epochs
        |      FROM p CROSS JOIN z),
        |eff AS (SELECT source, n_tokens, p, epochs,
        |          CAST(round(epochs * n_tokens) AS BIGINT) AS eff_tokens
        |        FROM e),
        |efft AS (SELECT CAST(sum(eff_tokens) AS DOUBLE) AS et FROM eff)
        |SELECT source, n_tokens, round(p, 6) AS p,
        |  round(epochs, 6) AS epochs, eff_tokens,
        |  round(eff_tokens / et, 6) AS realized
        |FROM eff CROSS JOIN efft
        |ORDER BY source""") { (s, d) =>
      val t = sourceTokenStats(s, d).select("source", "n_tokens")
      val p = t.crossJoin(broadcast(
          t.agg(sum("n_tokens").cast("double").as("total"))))
        .select(col("source"), col("n_tokens"),
          (col("n_tokens") / col("total")).as("p"))
      val e = p.crossJoin(broadcast(p.agg(sum(sqrt(col("p"))).as("z"))))
        .select(col("source"), col("n_tokens"), col("p"),
          least(lit(4.0), (sqrt(col("p")) / col("z")) / col("p"))
            .as("epochs"))
      val eff = e.withColumn("eff_tokens",
        round(col("epochs") * col("n_tokens")).cast("long"))
      eff.crossJoin(broadcast(
          eff.agg(sum("eff_tokens").cast("double").as("et"))))
        .select(col("source"), col("n_tokens"), round(col("p"), 6).as("p"),
          round(col("epochs"), 6).as("epochs"), col("eff_tokens"),
          round(col("eff_tokens") / col("et"), 6).as("realized"))
        .orderBy("source")
    },

    // Corpus-internal boilerplate detection — the template/navigation
    // screen a crawl pipeline runs BEFORE dedup: a distinct word-8-gram
    // appearing in >= 5 documents is boilerplate (real text repeats
    // within a doc, templates repeat ACROSS docs); each doc reports its
    // boilerplate-gram fraction. Same inverted-index shape as
    // decontamination: one distinct-gram explode -> df aggregation ->
    // join back through the gram key, never doc x doc. At 100 TB the
    // hot-gram table is the small side (df >= 5 of 8-grams is rare)
    // and broadcasts.
    q("q_text_boilerplate",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+7], ' ')
        |          for i in range(1, greatest(len(ws) - 7, 0) + 1)]) AS gram
        |      FROM w),
        |hot AS (SELECT gram FROM g GROUP BY gram
        |        HAVING CAST(count(*) AS BIGINT) >= 5),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
        |      FROM g GROUP BY doc_id),
        |h AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hot
        |      FROM g JOIN hot ON g.gram = hot.gram GROUP BY g.doc_id)
        |SELECT n.doc_id, n.n_grams,
        |  COALESCE(h.n_hot, 0) AS n_hot,
        |  round(COALESCE(h.n_hot, 0) / CAST(n.n_grams AS DOUBLE), 6)
        |    AS boilerplate_frac
        |FROM n LEFT JOIN h ON n.doc_id = h.doc_id
        |ORDER BY n.doc_id""") { (s, d) =>
      // Hashed 8-grams via the codegen kernel (r21): `gram` is an
      // internal grouping/distinct key only — n_grams/n_hot count
      // equal-classes, which match the oracle's string grams up to the
      // ~n²/2^64 collision odds every hashed-gram query declares. The
      // per-run string-gram fan-out this replaces allocated an
      // 8-element array + joined string per window AND, referenced by
      // three consumers with no subtree sharing, ran the whole
      // tokenize+explode+distinct three times per run — the distinct
      // gram table is per-corpus derived data, so it is stage-cached
      // like the bigram table (one build per session, then three
      // column-pruned parquet reads).
      val g = grams8(s, d)
      val hot = g.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 5).select("gram")
      val n = g.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val h = g.join(broadcast(hot), "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hot"))
      n.join(h, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hot"), lit(0L)).as("n_hot"),
          round(coalesce(col("n_hot"), lit(0L))
            / col("n_grams").cast("double"), 6).as("boilerplate_frac"))
        .orderBy("doc_id")
    },

    // Vocabulary pruning + OOV accounting — the tokenizer-training
    // prefilter: keep corpus words with document frequency in
    // [2, 50% of docs] (hapax noise and stop-like saturation both cut)
    // and report each document's kept-token fraction, the signal that
    // flags docs written almost entirely in pruned vocabulary
    // (gibberish or boilerplate). The vocab build is one (word -> df)
    // hash aggregation; scoring joins tokens to the kept vocab ON THE
    // WORD KEY — a shuffle join by design, since a real vocabulary
    // outgrows broadcast (the same contract as q_text_unigram_nll).
    q("q_text_vocab_prune",
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0)) AS word
        |             FROM documents),
        |nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |       FROM tok),
        |df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM tok GROUP BY word),
        |kept AS (SELECT word FROM df CROSS JOIN nd
        |         WHERE df >= 2 AND df <= n_docs * 0.5),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
        |      FROM tok GROUP BY doc_id),
        |k AS (SELECT tok.doc_id, CAST(count(*) AS BIGINT) AS n_kept
        |      FROM tok JOIN kept ON tok.word = kept.word
        |      GROUP BY tok.doc_id)
        |SELECT n.doc_id, n.n_tokens, COALESCE(k.n_kept, 0) AS n_kept,
        |  round(1 - COALESCE(k.n_kept, 0) / CAST(n.n_tokens AS DOUBLE), 6)
        |    AS oov_rate
        |FROM n LEFT JOIN k ON n.doc_id = k.doc_id
        |ORDER BY n.doc_id""") { (s, d) =>
      val (tok, kept) = vocabPruneFrames(s, d)
      vocabPruneScore(tok, tok, kept)
    },

    // PII redaction — the scrub step every training pipeline runs
    // before anything else: emails, IPv4s, SSN-shaped and card-shaped
    // digit runs replaced by a sentinel, with the hit count per doc.
    // One alternation regex, applied once per document — a pure narrow
    // map, no shuffle at any scale. The regex subset (char classes,
    // \b, \d, bounded repetition, alternation) behaves identically in
    // Java regex and DuckDB's RE2; the clean fixture corpus contains
    // no PII (clean_md5 == md5(text), n_pii == 0 — the oracle pins the
    // pass-through parity), and RedactSpec pins the actual redaction
    // behavior on synthetic PII rows.
    q("q_text_redact",
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '$PiiRegex')) AS INT) AS n_pii,
        |  md5(regexp_replace(text, '$PiiRegex', '<pii>', 'g')) AS clean_md5
        |FROM documents
        |ORDER BY doc_id""") { (s, d) =>
      // Column-form regex calls only: an expr() string literal would
      // re-interpret the pattern's backslashes in the SQL parser.
      Tables.documents(s, d).select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(PiiRegex), lit(0)))
          .as("n_pii"),
        md5(regexp_replace(col("text"), PiiRegex, "<pii>")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // Encoding-damage detection (r20) — the crawl-hygiene scan (the
    // ftfy problem class) that runs before any text op: per-source
    // counts of (1) U+FFFD replacement characters (lossy transcode
    // happened upstream), (2) the UTF-8-read-as-Latin-1 mojibake
    // signature (U+00C3 followed by a codepoint in the continuation
    // range U+0080-00BF — 'cafÃ©'), and (3) bare control characters
    // (C0 minus tab/newline/CR, DEL, C1). The fixture corpus is
    // ASCII, so like the SEA-segmentation family the query splices
    // CONSTANT artifacts onto deterministic doc_id classes INSIDE the
    // query (1/7 of docs each) — non-vacuous at every SF, and the
    // oracle replays the same splice with chr(). All three patterns
    // are spelled with ASCII-only \x{hhhh} escapes, which Java regex
    // and DuckDB's RE2 interpret identically. Scale shape: a narrow
    // per-row regexp-count map + one tiny per-source rollup — no
    // shuffle of document text at any corpus size.
    q("q_text_encoding",
      s"""WITH t AS (SELECT source,
        |    CASE WHEN doc_id % 7 = 0 THEN text || ' caf' || chr(65533) || 's'
        |         WHEN doc_id % 7 = 1 THEN text || ' caf' || chr(195) || chr(169)
        |         WHEN doc_id % 7 = 2 THEN text || ' bad' || chr(7) || 'text'
        |         ELSE text END AS t2 FROM documents),
        |c AS (SELECT source,
        |    len(regexp_extract_all(t2, '$FffdRegex')) AS f,
        |    len(regexp_extract_all(t2, '$MojiRegex')) AS m,
        |    len(regexp_extract_all(t2, '$CtrlRegex')) AS k
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN f + m + k > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_damaged,
        |  CAST(sum(f) AS BIGINT) AS n_fffd,
        |  CAST(sum(m) AS BIGINT) AS n_moji,
        |  CAST(sum(k) AS BIGINT) AS n_ctrl
        |FROM c GROUP BY source ORDER BY source""") { (s, d) =>
      val spliced = Tables.documents(s, d).withColumn("t2",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" caf\uFFFDs")))
          .when(col("doc_id") % 7 === 1,
            concat(col("text"), lit(" caf\u00C3\u00A9")))
          .when(col("doc_id") % 7 === 2,
            concat(col("text"), lit(" bad\u0007text")))
          .otherwise(col("text")))
      def cnt(pat: String): Column =
        size(regexp_extract_all(col("t2"), lit(pat), lit(0))).cast("long")
      spliced
        .select(col("source"), cnt(FffdRegex).as("f"),
          cnt(MojiRegex).as("m"), cnt(CtrlRegex).as("k"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("f") + col("m") + col("k") > 0, 1L).otherwise(0L))
            .as("n_damaged"),
          sum("f").as("n_fffd"), sum("m").as("n_moji"),
          sum("k").as("n_ctrl"))
        .orderBy("source")
    },

    // Chunk-level dedup — line/paragraph dedup for a corpus whose docs
    // are single-line: deterministic 10-word chunks stand in for lines.
    // An occurrence is a duplicate when an earlier occurrence of the
    // SAME chunk text exists anywhere in the corpus (earlier = smaller
    // (doc_id, idx), encoded as doc_id*1e6+idx). Per doc: chunk count,
    // duplicated-chunk count, duplicated fraction — the Gopher/C4-style
    // boilerplate signal, and the removal map for chunk-level cleaning.
    // Scale shape: one explode + one groupBy on the chunk key + one
    // hash join back — at 100 TB the group key would be the chunk's
    // 128-bit hash rather than its text, same plan.
    q("q_dedup_chunks",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |c0 AS (SELECT doc_id, unnest([{'idx': i - 1,
        |         'chunk': array_to_string(ws[(i-1)*10+1:(i-1)*10+10], ' ')}
        |         for i in range(1, CAST(ceil(len(ws) / 10.0) AS BIGINT) + 1)])
        |         AS u
        |       FROM w),
        |c AS (SELECT doc_id, u.idx AS idx, u.chunk AS chunk FROM c0),
        |k AS (SELECT chunk, min(doc_id * 1000000 + idx) AS keep_key
        |      FROM c GROUP BY chunk)
        |SELECT c.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN c.doc_id * 1000000 + c.idx <> k.keep_key
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(sum(CASE WHEN c.doc_id * 1000000 + c.idx <> k.keep_key
        |    THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS dup_frac
        |FROM c JOIN k ON c.chunk = k.chunk
        |GROUP BY c.doc_id
        |ORDER BY c.doc_id""") { (s, d) =>
      // The chunk text never reaches the output (only counts do), so
      // the group/join key is its 64-bit hash — fixed-width shuffle
      // keys instead of 10-word strings, the same argument as the
      // hashed gram keys (collision odds ~1e-7 at 3e6 chunks, far
      // below any other error source; the oracle groups the strings).
      val chunked = Tables.documents(s, d)
        .select(col("doc_id"), normTokens(col("text")).as("ws"))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, CAST(ceil(size(ws) / 10.0) AS INT) - 1)," +
            " i -> array_join(slice(ws, i * 10 + 1, 10), ' '))"))
          .as(Seq("idx", "chunk")))
        .select(col("doc_id"), col("idx"), xxhash64(col("chunk")).as("ck"))
      val posKey = col("doc_id") * 1000000L + col("idx")
      val keeper = chunked.groupBy("ck")
        .agg(min(posKey).as("keep_key"))
      chunked.join(keeper, "ck")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(posKey =!= col("keep_key"), 1).otherwise(0)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_chunks"), 6))
        .orderBy("doc_id")
    },

    // Content-DEFINED chunking dedup — the insertion-robust sibling of
    // q_dedup_chunks' fixed-size grid: a chunk starts wherever
    // md5(token) begins with '0' (P = 1/16, ~14-token chunks on the
    // fixtures), so inserting a sentence perturbs ONLY its own chunk
    // while every downstream boundary re-synchronizes — fixed grids
    // shift every later chunk and miss the reuse. The boundary
    // predicate is md5 because both engines spell the IDENTICAL hex
    // (DuckDB md5(varchar), Spark md5(binary-cast)), making a fully
    // hash-checked oracle for a CDC pipeline. Chunking itself is a
    // NARROW per-row array pass (no window, no per-doc shuffle); the
    // only exchange is the final chunk groupBy — at 100 TB, chunks
    // hash-partition like any dedup key.
    q("q_dedup_cdc",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |t AS (SELECT doc_id, unnest(ws) AS tok,
        |             unnest(range(1, len(ws) + 1)) AS i FROM w),
        |c AS (SELECT doc_id, i, tok,
        |        sum(CASE WHEN i = 1 OR md5(tok) LIKE '0%' THEN 1 ELSE 0
        |            END) OVER (PARTITION BY doc_id ORDER BY i) AS cid
        |      FROM t),
        |ch AS (SELECT doc_id, cid, string_agg(tok, ' ' ORDER BY i) AS chunk
        |       FROM c GROUP BY doc_id, cid)
        |SELECT chunk, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_occ
        |FROM ch GROUP BY chunk
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY chunk""") { (s, d) =>
      cdcChunks(Tables.documents(s, d))
        .groupBy("chunk")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") >= 2)
        .orderBy("chunk")
    },

    // EXACT-SUBSTRING dedup, the rolling-window spelling: every k-token
    // window (k=8 here; the published recipe uses 50-grams on crawl
    // text — Lee et al. 2022, "Deduplicating Training Data Makes
    // Language Models Better") is hashed, and a window whose text
    // occurs more than once ANYWHERE in the corpus (another doc or a
    // repeat inside the same doc) marks its instance as duplicated.
    // Output is the per-doc duplicated-window fraction — the signal
    // that recipe thresholds on before cutting spans. The paper builds
    // a corpus suffix array; distributed, the same detection is ONE
    // exchange of the window instances on the 64-bit window hash with
    // a count-over-partition window function attaching each instance's
    // corpus-wide occurrence count, then one doc_id agg. No suffix
    // array, no quadratic stage, no driver state — the shape survives
    // 100 TB unchanged. (The r10 spelling joined the instance table to
    // a separate count aggregate of ITSELF: the tokenize+hash explode
    // ran twice, and at scale — measured on the round-11 open-vocab
    // 10x corpus, where distinct windows grow with the corpus — the
    // count side outgrew broadcast and the join became a second full
    // sort-merge of the same rows. The window-function spelling
    // computes the explode once and joins nothing.) Window text never
    // reaches the output, so Spark shuffles xxhash64 keys
    // (q_dedup_chunks' argument; the oracle groups the strings
    // themselves). Docs shorter than k tokens have no windows and
    // drop on both sides.
    q("q_dedup_substring",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |wn AS (SELECT doc_id,
        |         unnest([array_to_string(ws[i:i+7], ' ')
        |           for i in range(1, greatest(len(ws) - 7, 0) + 1)]) AS win
        |       FROM w),
        |c AS (SELECT win, count(*) AS c FROM wn GROUP BY win)
        |SELECT wn.doc_id, CAST(count(*) AS BIGINT) AS n_win,
        |  CAST(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(sum(CASE WHEN c.c > 1 THEN 1 ELSE 0 END) / count(*), 6)
        |    AS dup_frac
        |FROM wn JOIN c USING (win)
        |GROUP BY wn.doc_id
        |ORDER BY doc_id""") { (s, d) =>
      val k = 8
      // Window hashes via the one-pass codegen kernel (r21): equal
      // windows hash equal, distinct windows collide at ~n²/2^64 —
      // the same internal-key contract as the 3-gram postings; the
      // interpreted transform+slice+array_join+xxhash64 HOF it
      // replaces allocated an 8-element array and a joined string per
      // window (oracle-checked unchanged at both tiers).
      val win = Tables.documents(s, d)
        .select(col("doc_id"), normTokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= k)
        .select(col("doc_id"), explode(
          graft.functions.VectorFunctions.wordKGramHashes(col("ws"), k))
          .as("wh"))
      val byWh = org.apache.spark.sql.expressions.Window.partitionBy("wh")
      win.withColumn("c", count(lit(1)).over(byWh))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_win"),
          sum(when(col("c") > 1, 1).otherwise(0)).as("n_dup"))
        .withColumn("dup_frac", round(col("n_dup") / col("n_win"), 6))
        .orderBy("doc_id")
    },

    // The CUT step that completes exact-substring dedup (q_dedup_substring
    // is the detect step): every duplicated window instance covers its 8
    // token positions; the union of covered positions per doc gives how
    // much text the span-cut would remove — n_tokens, n_covered, and the
    // kept fraction a pipeline thresholds on (cut spans vs drop doc).
    // Interval union is spelled as position explosion + DISTINCT: work
    // is <= 8x the duplicated-window instances, independent of corpus
    // size beyond the detect step's own shuffles; the distinct and the
    // doc agg both key on doc_id, so the tail of the plan is one
    // exchange. Same k=8 / same-dup-definition as the detect query, so
    // the two reports reconcile row for row.
    q("q_dedup_spans",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |wn AS (SELECT doc_id, u.i AS i, u.win AS win
        |       FROM (SELECT doc_id,
        |         unnest([{'i': i, 'win': array_to_string(ws[i:i+7], ' ')}
        |           for i in range(1, greatest(len(ws) - 7, 0) + 1)]) AS u
        |       FROM w) t),
        |c AS (SELECT win, count(*) AS c FROM wn GROUP BY win),
        |cov AS (SELECT DISTINCT doc_id, p FROM (
        |         SELECT wn.doc_id, unnest(range(wn.i, wn.i + 8)) AS p
        |         FROM wn JOIN c USING (win) WHERE c.c > 1) x),
        |nc AS (SELECT doc_id, count(*) AS n_cov FROM cov GROUP BY doc_id),
        |len AS (SELECT doc_id, len(ws) AS n_tokens FROM w
        |        WHERE len(ws) >= 8)
        |SELECT l.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(coalesce(n_cov, 0) AS BIGINT) AS n_covered,
        |  round((n_tokens - coalesce(n_cov, 0))
        |    / CAST(n_tokens AS DOUBLE), 6) AS keep_frac
        |FROM len l LEFT JOIN nc USING (doc_id)
        |ORDER BY doc_id""") { (s, d) =>
      val k = 8
      val ws = Tables.documents(s, d)
        .select(col("doc_id"), normTokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= k)
      val lens = ws.select(col("doc_id"), size(col("ws")).as("n_tokens"))
      // Same codegen window-hash kernel as the detect query (r21) —
      // the two reports must agree window for window, so they share
      // the hash function by construction.
      val win = ws.select(col("doc_id"), posexplode(
          graft.functions.VectorFunctions.wordKGramHashes(col("ws"), k))
          .as(Seq("idx", "wh")))
        .select(col("doc_id"), (col("idx") + 1).as("i"), col("wh"))
      // Occurrence counts attach by a count-over-partition window on
      // the one wh exchange, so the explode is not re-run by a
      // self-join against aggregated counts (that spelling measured no
      // faster, see OPTIMIZATION_r22.md).
      val byWh = org.apache.spark.sql.expressions.Window.partitionBy("wh")
      val covered =
        win.withColumn("c", count(lit(1)).over(byWh)).filter(col("c") > 1)
      val ncov = covered
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
        .distinct()
        .groupBy("doc_id").agg(count(lit(1)).as("n_cov"))
      lens.join(ncov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_cov"), lit(0L)).as("n_covered"),
          round((col("n_tokens") - coalesce(col("n_cov"), lit(0L)))
            / col("n_tokens").cast("double"), 6).as("keep_frac"))
        .orderBy("doc_id")
    },

    // ---- deduplication ---------------------------------------------------

    q("q_dedup_exact",
      """SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n,
        |  min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY text
        |ORDER BY keep_id""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy("text")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
        .select(md5(col("text")).as("text_md5"), col("n"), col("keep_id"))
        .orderBy("keep_id")
    },

    // Normalized near-exact dedup — the first REAL dedup pass of every
    // pipeline (raw-md5 exact dedup misses trivial variants): texts are
    // canonicalized (lower, punctuation runs to one space, whitespace
    // collapsed, trimmed) before grouping, so case/spacing/punctuation
    // twins collapse into one group. Same one-shuffle shape as
    // q_dedup_exact, keyed on the canonical form's md5. The regex
    // subset ([^a-z0-9]+ on lowered text) is Java/RE2-identical; on
    // the clean fixture corpus normalization is near-identity, so the
    // group structure matches exact dedup — the SPELLING is what this
    // row pins (MaskDedupSpec-style variant behavior is covered by the
    // charMaskDocs capability).
    q("q_dedup_norm",
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS canon
        |  FROM documents)
        |SELECT md5(canon) AS canon_md5, CAST(count(*) AS BIGINT) AS n,
        |  min(doc_id) AS keep_id
        |FROM n
        |GROUP BY canon
        |ORDER BY keep_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
            .as("canon"))
        .groupBy("canon")
        .agg(count(lit(1)).as("n"), min("doc_id").as("keep_id"))
        .select(md5(col("canon")).as("canon_md5"), col("n"), col("keep_id"))
        .orderBy("keep_id")
    },

    // Per-source label-balance entropy — the class-mix health check a
    // curation pipeline runs on every partition key (here: language
    // mix per source): H = log2(n_s) for a perfectly even mix, 0 for a
    // single-language source. Same Σ n·log2 n identity as
    // q_text_entropy (rule-2 rounding absorbs order drift); one tiny
    // (source, lang) aggregation then |sources| rows.
    q("q_agg_shannon",
      """WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY source, lang)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_langs,
        |  CAST(sum(n) AS BIGINT) AS n_docs,
        |  round(log2(CAST(sum(n) AS DOUBLE))
        |    - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 6) AS lang_entropy
        |FROM c
        |GROUP BY source
        |ORDER BY source""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source", "lang").agg(count(lit(1)).as("n"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_langs"), sum("n").as("n_docs"),
          round(log2(sum("n").cast("double"))
            - sum(col("n") * log2(col("n").cast("double"))) / sum("n"), 6)
            .as("lang_entropy"))
        .orderBy("source")
    },

    // Token-budget concentration (Gini) per language — "is this slice
    // dominated by a few huge documents?": G = 2·Σ(rank·len)/(n·Σlen)
    // − (n+1)/n over length-ranked docs. High Gini flags slices whose
    // token budget a handful of megadocs would monopolize under
    // doc-level sampling.
    //
    // SCALE-SAFE spelling (r12 — caught by the widened PlanShapeSpec
    // sweep): the naive per-lang rank window sorts the whole corpus at
    // |langs| parallelism. Instead the rank SUM per length value has a
    // closed form: a value v with c occurrences ending at cumulative
    // position `cum` occupies ranks (cum−c, cum], so
    // Σ rank·v over the run = v·(c·cum − c·(c−1)/2) — ranks never
    // need materializing per document. Counts-by-value pre-aggregate
    // (bounded by the n_chars domain), cumulative window on the
    // bounded table, closed-form contribution, per-lang aggregate.
    // All rank arithmetic stays in LONG (integer-exact; the oracle's
    // double sum of integer-valued terms < 2^53 is exact too), so the
    // result is bit-identical to the window oracle — hashes unchanged.
    // The oracle's doc_id tie-break inside equal lengths is
    // immaterial: Σ rank·v over a tie run does not depend on which
    // doc got which rank.
    q("q_agg_gini",
      """WITH r AS (SELECT lang, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars, doc_id) AS rk
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(2.0 * sum(rk * CAST(n_chars AS DOUBLE))
        |      / (count(*) * sum(CAST(n_chars AS DOUBLE)))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r
        |GROUP BY lang
        |ORDER BY lang""") { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .groupBy(col("lang"), col("n_chars").as("v"))
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum("c").over(w))
        // Σ rank·v over this value's run of ranks (cum−c, cum].
        // `div` (integer division; c·(c−1) is always even so it is
        // exact) keeps the whole term LONG — Spark's `/` is Divide,
        // which would cast to DOUBLE and silently demote rsum to the
        // oracle's <2^53 exactness bound.
        .withColumn("rsum",
          col("v") * (col("c") * col("cum")
            - expr("c * (c - 1) div 2")))
        .groupBy("lang")
        .agg(sum("c").as("n_docs"),
          sum(col("v") * col("c")).as("total_chars"),
          sum("rsum").as("s"))
        .select(col("lang"), col("n_docs"), col("total_chars"),
          round(lit(2.0) * col("s").cast("double")
              / (col("n_docs") * col("total_chars").cast("double"))
            - (col("n_docs") + lit(1.0)) / col("n_docs"), 6).as("gini"))
        .orderBy("lang")
    },

    // Source-priority canonical selection: the "keep the best copy" step
    // every multi-source corpus runs after candidate grouping. Duplicate
    // groups are bag-of-words signatures (sorted distinct tokens — order
    // -insensitive, so shuffled word-salad twins group; probed
    // non-vacuous: 446 groups / 500 docs at sf0.01, 3935/5000 at
    // sf0.1); within a group the keeper is the doc from the
    // lowest-numbered source (src0 beats src9 beats src10), doc_id as
    // final tie-break. One shuffle on the signature + a rank-1 window —
    // the same single-pass shape at any corpus size; no pairwise stage
    // at all, unlike the near-dup family.
    q("q_dedup_priority",
      """WITH s AS (SELECT doc_id, source,
        |    array_to_string(list_sort(list_distinct(
        |      string_split(text, ' '))), ' ') AS sig
        |  FROM documents),
        |r AS (SELECT doc_id, source, sig,
        |    row_number() OVER (PARTITION BY sig
        |      ORDER BY CAST(substr(source, 4) AS INT), doc_id) AS rk,
        |    count(*) OVER (PARTITION BY sig) AS grp_n
        |  FROM s)
        |SELECT doc_id, source, CAST(grp_n AS BIGINT) AS n_dups,
        |  md5(sig) AS sig_md5
        |FROM r WHERE rk = 1
        |ORDER BY doc_id""") { (s, d) =>
      val sig = array_join(
        sort_array(array_distinct(split(col("text"), " "))), " ")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), sig.as("sig"))
      val byPriority = Window.partitionBy("sig")
        .orderBy(substring(col("source"), 4, 10).cast("int"), col("doc_id"))
      docs
        .withColumn("rk", row_number().over(byPriority))
        .withColumn("grp_n",
          count(lit(1)).over(Window.partitionBy("sig")))
        .filter(col("rk") === 1)
        .select(col("doc_id"), col("source"),
          col("grp_n").cast("long").as("n_dups"),
          md5(col("sig")).as("sig_md5"))
        .orderBy("doc_id")
    },

    // Edit-distance near-dup, candidate-generation + verify shape: pairs
    // exist only through the shared-rare-gram inverted index (>= 3
    // shared word-3-grams, stop-gram df cap 100), then the verify step
    // runs a THRESHOLD-BOUNDED Levenshtein (band-limited DP, early exit
    // above 20 — ~len/threshold-fold cheaper than the full O(n*m) DP).
    // This replaces round 1's blocked all-pairs formulation, which was
    // quadratic within blocks (118 s at sf0.1, and block populations
    // grow linearly with corpus size — a scale-killer at 100 TB).
    q("q_dedup_lev",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws FROM documents),
        |g0 AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
        |         for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |       FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT ida, idb, CAST(levenshtein(da.text, db.text) AS INT) AS dist
        |FROM cand
        |JOIN documents da ON cand.ida = da.doc_id
        |JOIN documents db ON cand.idb = db.doc_id
        |WHERE levenshtein(da.text, db.text) <= 20
        |ORDER BY ida, idb""") { (s, d) =>
      val cand = sharedGramPairStats(s, d).filter(col("c") >= 3)
        .select("ida", "idb")
      val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
      cand
        .join(texts.toDF("ida", "text_a"), "ida")
        .join(texts.toDF("idb", "text_b"), "idb")
        .withColumn("dist", levenshtein(col("text_a"), col("text_b"), 20))
        .filter(col("dist").between(0, 20))
        .select("ida", "idb", "dist")
        .orderBy("ida", "idb")
    },

    // Multi-metric string-distance verification of near-dup candidates
    // (Q-DEDUP-STRDIST, r8). The same stage-cached gram-index
    // candidates as q_dedup_lev, verified with three native byte-level
    // kernels (graftnative.StringDistances): Jaro-Winkler — the
    // transposition-tolerant score record-linkage pipelines reach for
    // when Levenshtein's unit costs over-penalize swapped words —
    // gated at 0.85; full Damerau-Levenshtein (unrestricted
    // transpositions, the variant that prices "ca"->"abc" at 2, not
    // OSA's 3) bounded at 60; and the byte-Hamming distance of the
    // common-length prefix as the alignment-free quick signal. The
    // kernels are byte-oriented like DuckDB's, and Jaro-Winkler is
    // fuzz-verified BIT-identical, so the raw-double >= 0.85 gate
    // cannot straddle the engines. Scale shape: candidate generation
    // is the bounded inverted-index join (no all-pairs stage); the
    // O(len²) DL verify runs only on the few pairs past the JW gate.
    q("q_dedup_strdist",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws FROM documents),
        |g0 AS (SELECT DISTINCT doc_id, unnest([array_to_string(ws[i:i+2], ' ')
        |         for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |       FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |cand AS (SELECT a.doc_id AS ida, b.doc_id AS idb
        |         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2 HAVING count(*) >= 3),
        |p AS (SELECT ida, idb, da.text AS ta, db.text AS tb
        |      FROM cand
        |      JOIN documents da ON cand.ida = da.doc_id
        |      JOIN documents db ON cand.idb = db.doc_id)
        |SELECT ida, idb,
        |  round(jaro_winkler_similarity(ta, tb), 6) AS jw,
        |  CAST(damerau_levenshtein(ta, tb) AS INT) AS dl,
        |  CAST(hamming(ta[1:least(length(ta), length(tb))],
        |               tb[1:least(length(ta), length(tb))]) AS INT) AS pham
        |FROM p
        |WHERE jaro_winkler_similarity(ta, tb) >= 0.85
        |  AND damerau_levenshtein(ta, tb) <= 60
        |ORDER BY ida, idb""") { (s, d) =>
      import graft.functions.VectorFunctions
      val cand = sharedGramPairStats(s, d).filter(col("c") >= 3)
        .select("ida", "idb")
      val texts = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val n = least(length(col("ta")), length(col("tb")))
      cand
        .join(texts.toDF("ida", "ta"), "ida")
        .join(texts.toDF("idb", "tb"), "idb")
        .withColumn("jw_raw", VectorFunctions.jaroWinkler(col("ta"), col("tb")))
        .filter(col("jw_raw") >= 0.85)
        .withColumn("dl", VectorFunctions.damerauLevenshtein(col("ta"), col("tb")))
        .filter(col("dl") <= 60)
        .select(col("ida"), col("idb"),
          round(col("jw_raw"), 6).as("jw"),
          col("dl"),
          VectorFunctions.hammingDist(
            col("ta").substr(lit(1), n), col("tb").substr(lit(1), n)).as("pham"))
        .orderBy("ida", "idb")
    },

    // Char-set Jaccard (DuckDB's jaccard() semantics) within blocks.
    //
    // The pair stage runs over DISTINCT (lang, block, charset) triples,
    // not documents: the r2 formulation paired documents within each
    // block, and block populations grow linearly with the corpus —
    // pairs quadratically, the last structurally all-pairs stage in the
    // dedup family. Distinct char SETS are bounded by the alphabet's
    // power set regardless of corpus size (a few thousand in practice),
    // so the quadratic join is over a capped key space and documents
    // fan back in via two hash joins keyed on their (lang, block, cs).
    //
    // Per-pair similarity is alphabet-general (charMaskDocs): pairs of
    // alphanumeric-only docs compare by 63-bit-mask popcounts (the
    // codegen fast path — fixture corpus AND ordinary digit/uppercase
    // text); any pair touching an out-of-alphabet doc computes exact
    // set ops on the canonical charset string, so punctuation/Unicode
    // are never silently
    // dropped. Orientation: for cs_a < cs_b each unordered doc pair
    // appears exactly once (one doc matched each side); for
    // cs_a = cs_b the ida < idb filter keeps one of the two orderings.
    // [[MaskDedupSpec]] pins equality with the direct all-pairs exact
    // form (fixtures AND a mixed-alphabet fixture) and the distinct-
    // charset compression rate.
    q("q_dedup_jaccard",
      """SELECT a.doc_id AS ida, b.doc_id AS idb,
        |  round(jaccard(a.text, b.text), 6) AS jac
        |FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND (a.n_chars // 100) = (b.n_chars // 100)
        |  AND a.doc_id < b.doc_id
        |WHERE round(jaccard(a.text, b.text), 6) >= 0.9
        |ORDER BY ida, idb""") { (s, d) =>
      val docs = charMaskDocs(s, d)
      val keys = docs.select("lang", "blk", "cs", "cm", "clean").distinct()
      val maskJac =
        bit_count(col("cm_a").bitwiseAND(col("cm_b"))).cast("double") /
          bit_count(col("cm_a").bitwiseOR(col("cm_b")))
      val exactJac =
        size(array_intersect(split(col("cs_a"), ""), split(col("cs_b"), "")))
          .cast("double") /
          size(array_union(split(col("cs_a"), ""), split(col("cs_b"), "")))
      val csPairs = keys.toDF("lang", "blk", "cs_a", "cm_a", "clean_a")
        .join(keys.toDF("lang_b", "blk_b", "cs_b", "cm_b", "clean_b"),
          col("lang") === col("lang_b") && col("blk") === col("blk_b")
            && col("cs_a") <= col("cs_b"))
        .withColumn("jac", round(
          when(col("clean_a") && col("clean_b"), maskJac)
            .otherwise(exactJac), 6))
        .filter(col("jac") >= 0.9)
        .select("lang", "blk", "cs_a", "cs_b", "jac")
      val slim = docs.select("doc_id", "lang", "blk", "cs")
      csPairs
        .join(slim.toDF("ida", "lang", "blk", "cs_a"),
          Seq("lang", "blk", "cs_a"))
        .join(slim.toDF("idb", "lang", "blk", "cs_b"),
          Seq("lang", "blk", "cs_b"))
        .filter(col("cs_a") < col("cs_b") || col("ida") < col("idb"))
        .select(least(col("ida"), col("idb")).as("ida"),
          greatest(col("ida"), col("idb")).as("idb"), col("jac"))
        .orderBy("ida", "idb")
    },

    // Word-3-gram Jaccard through the shared-gram inverted index: pairs
    // exist only for documents sharing a RARE gram (stop-gram df cap —
    // without it one high-df gram emits O(df²) pairs, a skew bomb) —
    // the exact-counting counterpart of MinHash-LSH, and the formulation
    // that scales (hash-shuffles only, no all-pairs). Jaccard is over
    // the capped gram space, identically in both engines.
    q("q_dedup_ngram",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT ida, idb, round(c / (sa.n + sb.n - c), 6) AS jac
        |FROM p JOIN sz sa ON p.ida = sa.doc_id
        |       JOIN sz sb ON p.idb = sb.doc_id
        |WHERE round(c / (sa.n + sb.n - c), 6) >= 0.1
        |ORDER BY ida, idb""") { (s, d) =>
      ngramJaccardPairs(s, d, 0.1).orderBy("ida", "idb")
    },

    // CONTAINMENT dedup — the asymmetric companion to jaccard: a short
    // quote or a doc fully embedded in a larger one scores low
    // resemblance (jaccard dilutes by the union) but containment
    // c / min(na, nb) ~ 1. The crawl shape this catches: wrapper pages
    // republishing a smaller article, quotes, boilerplate-padded
    // copies. Same stage-cached pair stats as the jaccard family plus
    // one cheap per-doc gram-count agg over the memoized postings —
    // no new quadratic stage; at 100 TB this is the identical
    // postings-driven candidate pipeline. Threshold 0.9 is
    // non-vacuous at every tier (28 / 25 / 256 pairs, probed).
    q("q_dedup_contain",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id)
        |SELECT ida, idb, CAST(c AS BIGINT) AS shared,
        |  round(greatest(c / sa.n, c / sb.n), 6) AS cont
        |FROM p JOIN sz sa ON p.ida = sa.doc_id
        |       JOIN sz sb ON p.idb = sb.doc_id
        |WHERE round(greatest(c / sa.n, c / sb.n), 6) >= 0.9
        |ORDER BY ida, idb""") { (s, d) =>
      val sz = gramIndex(s, d, DfCap)
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      sharedGramPairStats(s, d)
        .join(sz.toDF("ida", "na"), "ida")
        .join(sz.toDF("idb", "nb"), "idb")
        .withColumn("cont", round(
          greatest(col("c") / col("na"), col("c") / col("nb")), 6))
        .filter(col("cont") >= 0.9)
        .select(col("ida"), col("idb"), col("c").as("shared"), col("cont"))
        .orderBy("ida", "idb")
    },

    // Pairwise SOURCE overlap: shared distinct df-capped word-3-grams
    // and the gram-set jaccard for every source pair — the
    // mirrored-site / template-farm detector a crawl-curation pipeline
    // reads before deciding which domains to collapse (doc-level
    // near-dup thresholds miss sources that copy each other loosely
    // but pervasively). Scale shape: the only fact-scale work is the
    // distinct (gram, source) projection of the stage-cached postings;
    // the self-join keys on gram and each gram's source set is bounded
    // by the df cap (≤ DfCap docs ⇒ ≤ DfCap sources), so per-gram pair
    // expansion is ≤ C(DfCap, 2) — no hot key at any corpus size — and
    // the output is |sources|² bounded. Grams are the same 64-bit
    // hashed space as the dedup family (counts agree with the oracle's
    // string grams; collision odds ~1e-8 — the declared trade).
    q("q_source_overlap",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sg AS (SELECT DISTINCT d.source, g.gram
        |      FROM g JOIN documents d USING (doc_id)),
        |ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |      FROM sg GROUP BY 1),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b,
        |        CAST(count(*) AS BIGINT) AS shared
        |      FROM sg a JOIN sg b
        |        ON a.gram = b.gram AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT pr.source_a, pr.source_b, pr.shared,
        |  round(CAST(pr.shared AS DOUBLE) / (na.n + nb.n - pr.shared), 6)
        |    AS jaccard
        |FROM pr JOIN ns na ON na.source = pr.source_a
        |        JOIN ns nb ON nb.source = pr.source_b
        |ORDER BY source_a, source_b""") { (s, d) =>
      // The distinct (source, gram) projection is per-corpus derived
      // data referenced THREE times in this plan (both self-join sides
      // + the size table) with no subtree sharing — stage-cached (r21)
      // like the bigram table, so the fact-scale distinct runs once
      // per session instead of three times per run.
      val sg = srcGrams(s, d)
      val ns = sg.groupBy("source").agg(count(lit(1)).as("n"))
      val pr = sg.as("a").join(sg.as("b"),
          col("a.gram") === col("b.gram") &&
            col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      pr.join(broadcast(ns.toDF("source_a", "na")), "source_a")
        .join(broadcast(ns.toDF("source_b", "nb")), "source_b")
        .select(col("source_a"), col("source_b"), col("shared"),
          round(col("shared").cast("double")
            / (col("na") + col("nb") - col("shared")), 6).as("jaccard"))
        .orderBy("source_a", "source_b")
    },

    // Collocation mining by pointwise mutual information over the
    // corpus bigram table: pmi(a,b) = log2( p(ab) / (p(a)p(b)) ) with
    // both unigram probabilities taken over the SAME first-position
    // bigram distribution, so one count table serves numerator and
    // denominator — spelled as n12 * B / (n1a * n1b), every product
    // exact in double (< 2^53 at any corpus the 64-bit ids fit).
    // Support floor n12 >= 5 kills one-off pairings; top-100 by
    // (pmi DESC, bg) is a bounded TakeOrderedAndProject, never a full
    // sort at scale. The narrow per-row bigram transform and the two
    // count shuffles are q_text_bigram_nll's exact plan shape.
    q("q_text_pmi",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |p0 AS (SELECT doc_id,
        |        unnest([array_to_string(ws[i:i+1], ' ')
        |          for i in range(1, greatest(len(ws) - 1, 0) + 1)]) AS bg
        |      FROM w),
        |p AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
        |             string_split(bg, ' ')[2] AS w2 FROM p0),
        |c12 AS (SELECT bg, w1, w2, CAST(count(*) AS BIGINT) AS n12
        |        FROM p GROUP BY bg, w1, w2),
        |c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1
        |       FROM p GROUP BY w1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS b FROM p)
        |SELECT bg, n12 AS n,
        |  round(log2((CAST(n12 AS DOUBLE) * b)
        |    / (CAST(ca.n1 AS DOUBLE) * cb.n1)), 6) AS pmi
        |FROM c12
        |JOIN c1 ca ON c12.w1 = ca.w1
        |JOIN c1 cb ON c12.w2 = cb.w1
        |CROSS JOIN tot
        |WHERE n12 >= 5
        |ORDER BY pmi DESC, bg
        |LIMIT 100""") { (s, d) =>
      // Same shared bigram stage as q_text_bigram_nll (see
      // bigramTable) — closes VERDICT r7 "what's wrong" #2: the
      // localCheckpoint spelling was executor-ephemeral storage and a
      // second build of the identical transform.
      val p = bigramTable(s, d).select("bg", "w1", "w2")
      val c12 = p.groupBy("bg", "w1", "w2").agg(count(lit(1)).as("n12"))
      val c1 = p.groupBy("w1").agg(count(lit(1)).as("n1"))
      val tot = p.agg(count(lit(1)).as("b"))
      c12.join(c1.toDF("w1", "n1a"), "w1")
        .join(c1.toDF("w2", "n1b"), "w2")
        .crossJoin(broadcast(tot))
        .filter(col("n12") >= 5)
        .withColumn("pmi", round(log2(
          (col("n12").cast("double") * col("b"))
            / (col("n1a").cast("double") * col("n1b"))), 6))
        .select(col("bg"), col("n12").as("n"), col("pmi"))
        .orderBy(col("pmi").desc, col("bg"))
        .limit(100)
    },

    // Keyphrase extraction — each document's top-3 bigrams by in-doc
    // frequency (ties broken by bigram text): the cheap doc-tagging
    // signal a curation pipeline attaches before routing or sampling.
    // Reads the SAME stage-cached bigram table as q_text_bigram_nll /
    // q_text_pmi (one materialized build serves all three), one
    // groupBy + one per-doc window — both shuffles key on doc_id-
    // derived keys, nothing corpus-global. ORDER BY covers every
    // output column (§2.13 rule 1).
    q("q_text_keyphrase",
      """WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\p{Han}\p{Hiragana}\p{Katakana}])', ' \1 ', 'g'), '[^\p{L}\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |p AS (SELECT doc_id,
        |        unnest([array_to_string(ws[i:i+1], ' ')
        |          for i in range(1, greatest(len(ws) - 1, 0) + 1)]) AS bg
        |      FROM w),
        |c AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS n
        |      FROM p GROUP BY doc_id, bg),
        |r AS (SELECT doc_id, bg, n, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY n DESC, bg) AS BIGINT) AS rnk
        |      FROM c)
        |SELECT doc_id, bg, n, rnk FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk, bg, n""") { (s, d) =>
      val wKey = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("n").desc, col("bg"))
      bigramTable(s, d)
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(wKey).cast("long"))
        .filter(col("rnk") <= 3)
        .select("doc_id", "bg", "n", "rnk")
        .orderBy("doc_id", "rnk", "bg", "n")
    },

    // Transitive dedup clusters: min-label propagation over the
    // jac >= 0.5 near-dup graph, unrolled to a FIXED two rounds so the
    // plan is static and both engines run the identical computation.
    // Two rounds converge a component iff every node is within 2 hops
    // of its minimum-id node — true for the fixture graph (asserted as
    // a fixpoint check in SketchesSpec); deeper components need more
    // rounds, so at scale the same round is iterated to a fixpoint with
    // a driver loop over cached frames (log-diameter rounds).
    q("q_dedup_cluster", TextSim.ClusterOracleSql) { (s, d) =>
      clusterLabels(s, d).orderBy("doc_id")
    },

    // End-to-end curation pipeline — the library's purpose in one
    // declarative plan: score document quality, keep only each
    // near-dup cluster's representative (cluster label == own id),
    // apply the quality floor, and attach the embedding-table label —
    // text analytics + transitive dedup + multimodal join composed,
    // every stage the same operator the standalone queries use.
    q("q_curate",
      s"""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0) AS ws
        |           FROM documents),
        |g0 AS (SELECT DISTINCT doc_id,
        |        unnest([array_to_string(ws[i:i+2], ' ')
        |          for i in range(1, greatest(len(ws) - 2, 0) + 1)]) AS gram
        |      FROM w),
        |ok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= $DfCap),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN ok USING (gram)),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |p AS (SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS c
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY a.doc_id, b.doc_id),
        |j AS (SELECT ida, idb
        |      FROM p JOIN sz sa ON p.ida = sa.doc_id
        |             JOIN sz sb ON p.idb = sb.doc_id
        |      WHERE round(c / (sa.n + sb.n - c), 6) >= 0.5),
        |e AS (SELECT ida AS a, idb AS b FROM j
        |      UNION ALL SELECT idb, ida FROM j),
        |l1 AS (SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(e.b), d.doc_id)) AS l
        |       FROM documents d LEFT JOIN e ON e.a = d.doc_id
        |       GROUP BY d.doc_id),
        |l2 AS (SELECT v.doc_id,
        |         least(v.l, coalesce(min(u.l), v.l)) AS cluster
        |       FROM l1 v LEFT JOIN e ON e.a = v.doc_id
        |                 LEFT JOIN l1 u ON u.doc_id = e.b
        |       GROUP BY v.doc_id, v.l),
        |q AS (SELECT doc_id, lang,
        |        round(0.6 * (len(list_distinct(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)))
        |            / len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)))
        |          + 0.4 * least(len(list_filter(regexp_split_to_array(regexp_replace(lower(nfc_normalize(text)), '([\\p{Han}\\p{Hiragana}\\p{Katakana}])', ' \\1 ', 'g'), '[^\\p{L}\\p{N}]+'), x -> len(x) > 0)) / 50.0, 1.0), 6)
        |          AS quality
        |      FROM documents)
        |SELECT q.doc_id, q.lang, q.quality, emb.label
        |FROM q
        |JOIN l2 ON q.doc_id = l2.doc_id AND l2.cluster = q.doc_id
        |JOIN embeddings emb ON q.doc_id = emb.vec_id
        |WHERE q.quality >= 0.62
        |ORDER BY q.doc_id""") { (s, d) =>
      val reps = clusterLabels(s, d)
        .filter(col("cluster") === col("doc_id")).select("doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), qualityScore.as("quality"))
        .filter(col("quality") >= 0.62)
        .join(reps, "doc_id")
        .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("quality"), col("label"))
        .orderBy("doc_id")
    },

    // ---- vector similarity ----------------------------------------------

    q("q_sim_norm",
      """SELECT vec_id, label,
        |  CAST(len(embedding) AS INT) AS dim,
        |  round(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[])), 6) AS dot_self,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |    CAST(embedding AS DOUBLE[]))), 6) AS norm
        |FROM embeddings
        |ORDER BY vec_id""") { (s, d) =>
      val dot = expr("aggregate(embedding, 0D, (acc, x) -> acc + x * x)")
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(dot, 6).as("dot_self"),
        round(sqrt(dot), 6).as("norm"))
        .orderBy("vec_id")
    },

    // Per-label centroid cohesion — the k-means E/M-step shape and the
    // standard embedding-cluster QA readout (how tight is each label's
    // cluster?). Element-wise: posexplode each vector, average per
    // (label, idx) into the centroid table (|labels| x dim rows — tiny,
    // broadcast back), then one member-side aggregation computes each
    // vector's cosine to its own centroid and a final rollup summarizes
    // per label. Two narrow hash aggregations + one broadcast join; at
    // 100 TB the only shuffle is the (label, idx) partial-agg, which
    // map-side-combines down to |labels| x dim regardless of row count.
    // Subscript origin differs (posexplode 0-based, generate_subscripts
    // 1-based) but idx is only ever a within-engine join key.
    q("q_embed_centroid",
      """WITH e AS (SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) AS idx,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |c AS (SELECT label, idx, avg(x) AS cx FROM e GROUP BY 1, 2),
        |v AS (SELECT e.vec_id, e.label,
        |    sum(e.x * c.cx) AS dot,
        |    sqrt(sum(e.x * e.x)) AS nv,
        |    sqrt(sum(c.cx * c.cx)) AS nc
        |  FROM e JOIN c ON e.label = c.label AND e.idx = c.idx
        |  GROUP BY 1, 2)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  round(avg(dot / (nv * nc)), 6) AS avg_cos,
        |  round(min(dot / (nv * nc)), 6) AS min_cos
        |FROM v GROUP BY label
        |ORDER BY label""") { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("idx", "x")))
      val c = e.groupBy("label", "idx").agg(avg("x").as("cx"))
      val v = e.join(broadcast(c), Seq("label", "idx"))
        .groupBy("vec_id", "label")
        .agg(sum(col("x") * col("cx")).as("dot"),
          sqrt(sum(col("x") * col("x"))).as("nv"),
          sqrt(sum(col("cx") * col("cx"))).as("nc"))
      val cosine = col("dot") / (col("nv") * col("nc"))
      v.groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(avg(cosine), 6).as("avg_cos"),
          round(min(cosine), 6).as("min_cos"))
        .orderBy("label")
    },

    // Per-label embedding outliers: Euclidean distance to the label
    // centroid, flagged past mean + 2*sigma — the mislabeled-cluster /
    // corrupt-embedding screen a curation pipeline runs before training
    // on labeled vectors. Same one-shuffle shape as q_embed_centroid
    // (dims explode, labels x dims centroid broadcast back), plus a
    // second labels-sized broadcast of the per-label distance stats —
    // the fact-scale frame shuffles once on vec_id and never again.
    // Threshold compare happens on raw doubles in both engines; both
    // derive dist from the identical (label, idx) centroid join, so the
    // values agree far inside round-6 (two-tier hash runs pin it).
    q("q_embed_outlier",
      """WITH e AS (SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) AS idx,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |c AS (SELECT label, idx, avg(x) AS cx FROM e GROUP BY 1, 2),
        |v AS (SELECT e.vec_id, e.label,
        |    sqrt(sum((e.x - c.cx) * (e.x - c.cx))) AS dist
        |  FROM e JOIN c ON e.label = c.label AND e.idx = c.idx
        |  GROUP BY 1, 2),
        |t AS (SELECT label, avg(dist) AS mu, stddev_samp(dist) AS sd
        |  FROM v GROUP BY 1)
        |SELECT v.label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v.dist > t.mu + 2 * t.sd THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_out,
        |  round(avg(v.dist), 6) AS avg_dist,
        |  round(max(v.dist), 6) AS max_dist
        |FROM v JOIN t ON v.label = t.label
        |GROUP BY v.label
        |ORDER BY v.label""") { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("idx", "x")))
      val c = e.groupBy("label", "idx").agg(avg("x").as("cx"))
      val v = e.join(broadcast(c), Seq("label", "idx"))
        .groupBy("vec_id", "label")
        .agg(sqrt(sum((col("x") - col("cx")) * (col("x") - col("cx"))))
          .as("dist"))
      val t = v.groupBy("label")
        .agg(avg("dist").as("mu"), stddev_samp(col("dist")).as("sd"))
      v.join(broadcast(t), Seq("label"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(when(col("dist") > col("mu") + lit(2) * col("sd"), 1)
            .otherwise(0)).cast("long").as("n_out"),
          round(avg("dist"), 6).as("avg_dist"),
          round(max("dist"), 6).as("max_dist"))
        .orderBy("label")
    },

    // Int8 scalar-quantization error report per label — the fidelity
    // check run before shipping embeddings at 1/4 the bytes (the
    // serving-memory lever everywhere ANN indexes get large). Each
    // dimension gets its own symmetric scale (corpus max-abs / 127, the
    // standard per-channel scheme); elements quantize to
    // round(x/scale) clamped to ±127 and the report aggregates
    // |x - q·scale| per label. The dims-sized scale frame is a
    // broadcast back onto one fact-scale explode — q_embed_centroid's
    // exact shuffle shape. round() on the quantize step is identical
    // half-away-from-zero in both engines; float32-derived inputs never
    // land on exact halves.
    // First principal component of the embedding corpus — the
    // dimensionality-health check (and whitening prep) an embedding
    // pipeline runs after every model/encoder change: a top component
    // that explains most of the variance means collapsed, anisotropic
    // embeddings that will break cosine retrieval. Semantics = the
    // DECLARED integer recurrence (the kmeans/PageRank/logreg
    // oracle discipline, r17 verdict #2 — this row was golden-only
    // before): vectors quantized by the shared kmeans scheme
    // (trunc((x+4)*1e6), Clustering.quantize), integer truncating
    // mean, centered integer covariance downscaled by 10n (scale
    // 1e11 relative to the raw covariance), then PcaIters rounds of
    // fixed-point power iteration from the deterministic uniform
    // start. Every step is exact BIGINT arithmetic plus ONE
    // correctly-rounded IEEE-754 sqrt per round (identical in the
    // JVM and DuckDB by the standard), so the CTE unroll below
    // replays it bit-for-bit and the driver hash-matches at both
    // tiers. Like every fixed-point recurrence here, the output is
    // the recurrence's own value — within quantization+truncation
    // error of float PCA (PipelineOpsSpec pins the variance-
    // maximization property against the FLOAT covariance).
    //
    // Scale shape (the classic treeAggregate covariance): one pass
    // accumulates the per-dim integer sums, a second the CENTERED
    // outer-product sums[d*d] — the only corpus-scale work — and the
    // partials merge EXECUTOR-SIDE in a depth-2 tree (treeAggregate),
    // so the driver receives one already-combined accumulator
    // regardless of partition count. At 100 TB (~10^5-10^6 input
    // splits) a flat collect of 33 KB-per-partition partials would be
    // GBs at the driver; the tree combine keeps the driver's share at
    // the intermediate fan-in (~sqrt(P) rows, MBs). The driver then
    // power-iterates only the tiny d x d integer matrix. No shuffle
    // at all over the vectors.
    //
    // Exactness bound, stated loudly: |dx| <= ~1.2e6 for unit-norm
    // inputs, so the Long outer accumulator is exact to n ~ 4e6
    // vectors; every add/multiply is Math.addExact/multiplyExact and
    // a larger corpus REFUSES with ArithmeticException rather than
    // wrapping. That is the right contract for this verb: a PCA
    // health readout at 100 TB runs on a deterministic sample (the
    // q_embed_sample machinery — direction estimates converge at
    // sqrt(n), so 10^6 vectors already saturate a 6-decimal readout),
    // not on 10^11 rows.
    //
    // Refuse-vs-pass ASYMMETRY near the bound (r18 advice): this side
    // refuses the moment any Long PARTIAL would overflow, while the
    // DuckDB oracle sums in HUGEINT and only errors casting the final
    // total to BIGINT — so within a narrow band around ~4e6 vectors
    // (or under heavy cancellation across partitions) Spark can
    // refuse while DuckDB passes. The divergence is only ever in
    // refuse-vs-pass behavior, never in emitted values; every fixture
    // tier sits orders of magnitude inside the bound, and a corpus
    // near it should run this verb on the documented sample anyway.
    q("q_embed_pca", pcaOracle) { (s, d) =>
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val vecs = Tables.embeddings(s, d)
        .select(transform(col("embedding"),
          graft.ops.Clustering.quantize _).as("xq"))
      // pass 1: n + per-dim integer sums (arrays allocated on first row)
      val (n, sums) = vecs.rdd.treeAggregate(
        (0L, null: Array[Long]))(
        (acc, r) => {
          val v = r.getSeq[Long](0)
          val s1 = if (acc._2 == null) new Array[Long](v.length) else acc._2
          var i = 0
          while (i < v.length) { s1(i) = Math.addExact(s1(i), v(i)); i += 1 }
          (acc._1 + 1, s1)
        },
        (a, b) =>
          if (a._2 == null) b
          else if (b._2 == null) a
          else {
            var i = 0
            while (i < a._2.length) {
              a._2(i) = Math.addExact(a._2(i), b._2(i)); i += 1
            }
            (a._1 + b._1, a._2)
          }, 2)
      require(n > 0, "empty embeddings table")
      val dim = sums.length
      val mu = sums.map(_ / n) // truncating division = DuckDB //
      // pass 2: centered outer-product sums, exact Long (see bound above)
      val op = vecs.rdd.treeAggregate(null: Array[Long])(
        (acc, r) => {
          val v = r.getSeq[Long](0)
          val a = if (acc == null) new Array[Long](dim * dim) else acc
          val dx = new Array[Long](dim)
          var i = 0
          while (i < dim) { dx(i) = v(i) - mu(i); i += 1 }
          i = 0
          while (i < dim) {
            val di = dx(i)
            var j = 0
            while (j < dim) {
              a(i * dim + j) = Math.addExact(a(i * dim + j),
                Math.multiplyExact(di, dx(j)))
              j += 1
            }
            i += 1
          }
          a
        },
        (a, b) =>
          if (a == null) b
          else if (b == null) a
          else {
            var i = 0
            while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
            a
          }, 2)
      // driver: the fixed-point recurrence the oracle unrolls
      val cq = op.map(_ / (10L * n)) // covariance scale 1e11
      var v = Array.fill(dim)(1000000L / Math.round(Math.sqrt(dim.toDouble)))
      var it = 0
      while (it < PcaIters) {
        val wd = new Array[Long](dim)
        var i = 0
        while (i < dim) {
          var w = 0L
          var j = 0
          while (j < dim) {
            w = Math.addExact(w, Math.multiplyExact(cq(i * dim + j), v(j)))
            j += 1
          }
          wd(i) = w / 1000000000L
          i += 1
        }
        var n2 = 0L
        i = 0
        while (i < dim) {
          n2 = Math.addExact(n2, Math.multiplyExact(wd(i), wd(i))); i += 1
        }
        val nrm = Math.round(Math.sqrt(n2.toDouble))
        v = if (nrm == 0) new Array[Long](dim)
            else wd.map(x => x * 1000000L / nrm)
        it += 1
      }
      // readout under the SAME exact-ops contract as the rounds (r18
      // review #2: plain +/* here would silently wrap near the
      // documented bound where the oracle errors loudly)
      val wq = Array.tabulate(dim) { i =>
        var w = 0L
        var j = 0
        while (j < dim) {
          w = Math.addExact(w, Math.multiplyExact(cq(i * dim + j), v(j)))
          j += 1
        }
        w / 1000000L
      }
      var lamAcc = 0L
      var li = 0
      while (li < dim) {
        lamAcc = Math.addExact(lamAcc, Math.multiplyExact(v(li), wq(li)))
        li += 1
      }
      val lamq = lamAcc / 1000000L // eigenvalue at scale 1e11
      var traceq = 0L
      var ti = 0
      while (ti < dim) {
        traceq = Math.addExact(traceq, cq(ti * dim + ti)); ti += 1
      }
      // Deterministic sign: the largest-|component| coordinate positive.
      val piv = v.indices.maxBy(i => (math.abs(v(i)), -i))
      val sgn = if (v(piv) < 0) -1L else 1L
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = (0 until dim).map { i =>
        Row(i.toLong,
          r6((mu(i) - 4000000L) / 1000000.0),
          r6(sgn * v(i) / 1000000.0),
          r6(lamq / 100000000000.0),
          r6(lamq.toDouble / traceq))
      }
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), StructType(Seq(
        StructField("idx", LongType, nullable = false),
        StructField("mean_d", DoubleType, nullable = false),
        StructField("pc1", DoubleType, nullable = false),
        StructField("eigenvalue", DoubleType, nullable = false),
        StructField("var_explained", DoubleType, nullable = false))))
        .orderBy("idx")
    },

    q("q_embed_quantize",
      """WITH e AS (SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) AS idx,
        |    unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |s AS (SELECT idx,
        |    CASE WHEN max(abs(x)) = 0 THEN 1.0
        |         ELSE max(abs(x)) / 127 END AS scale
        |  FROM e GROUP BY idx),
        |r AS (SELECT e.label,
        |    abs(e.x - greatest(least(round(e.x / s.scale), 127), -127)
        |      * s.scale) AS err
        |  FROM e JOIN s USING (idx))
        |SELECT label, CAST(count(*) AS BIGINT) AS n_elems,
        |  round(avg(err), 6) AS avg_abs_err,
        |  round(max(err), 6) AS max_abs_err
        |FROM r
        |GROUP BY label
        |ORDER BY label""") { (s, d) =>
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("idx", "x")))
      val sc = e.groupBy("idx").agg(
        when(max(abs(col("x"))) === 0, 1.0)
          .otherwise(max(abs(col("x"))) / 127).as("scale"))
      val err = abs(col("x") -
        greatest(least(round(col("x") / col("scale")), lit(127)), lit(-127))
          * col("scale"))
      e.join(broadcast(sc), "idx")
        .select(col("label"), err.as("err"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_elems"),
          round(avg("err"), 6).as("avg_abs_err"),
          round(max("err"), 6).as("max_abs_err"))
        .orderBy("label")
    },

    // Brute-force cosine top-k over all pairs (rehearsed SURVEY §8.3-QC)
    // — the exactness baseline; the LSH/IVF variants are the scale path.
    q("q_sim_cosine_knn",
      """SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |ORDER BY cos DESC, ida, idb
        |LIMIT 100""") { (s, d) =>
      cosinePairs(s, d)
        .select("ida", "idb", "cos")
        .orderBy(col("cos").desc, col("ida"), col("idb"))
        .limit(100)
    },

    // Embedding-cosine near-dup: canonical representative per vector =
    // the smallest vec_id among its above-threshold neighbors (one-hop
    // single-link, not transitive closure — deterministic and
    // oracle-expressible). θ=0.4 is fixture-calibrated so duplicate
    // groups are non-trivial on the synthetic vectors.
    q("q_dedup_cosine",
      """SELECT e.vec_id,
        |  coalesce(min(a.vec_id), e.vec_id) AS keep_id,
        |  count(a.vec_id) AS n_nbrs
        |FROM embeddings e LEFT JOIN embeddings a
        |  ON a.vec_id < e.vec_id
        |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(e.embedding AS DOUBLE[])), 6) >= 0.4
        |GROUP BY e.vec_id
        |ORDER BY e.vec_id""") { (s, d) =>
      val nbrs = cosinePairs(s, d).filter(col("cos") >= 0.4)
        .select(col("ida"), col("idb"))
      Tables.embeddings(s, d).select(col("vec_id"))
        .join(nbrs, col("vec_id") === col("idb"), "left")
        .groupBy("vec_id")
        .agg(coalesce(min("ida"), col("vec_id")).as("keep_id"),
          count(col("ida")).as("n_nbrs"))
        .orderBy("vec_id")
    },

    q("q_sim_threshold",
      """SELECT a.label AS label_a, b.label AS label_b, count(*) AS n
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |    CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
        |GROUP BY a.label, b.label
        |ORDER BY label_a, label_b""") { (s, d) =>
      cosinePairs(s, d)
        .filter(col("cos") >= 0.4)
        .groupBy("label_a", "label_b")
        .agg(count(lit(1)).as("n"))
        .orderBy("label_a", "label_b")
    }
  )
}
