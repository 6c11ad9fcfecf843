package graft.queries

import graft.{GQuery, QueryGroup, Tables}
import graft.operators.{Dedup, Incremental, IndexRoute, Layout, Multimodal, Relational, Sampling, Similarity, Sketches, TextAnalysis}
import graft.streaming.EventsStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline extension operators (BASELINE.json north star) over
  * the documents / embeddings / events fixtures. Oracle SQL is GENERATED
  * from the same Scala constants the Spark operators use (hash moduli,
  * marker sets, LSH hyperplanes, rolling-hash powers), so engine and
  * oracle can't drift.
  *
  * Determinism ground rules (see Registry.scala): integer math everywhere
  * hashes are involved; float reductions are ordered folds mirrored with
  * DuckDB list_reduce; aggregate sums of doubles are rounded at a digit
  * where the two engines' summation orders cannot disagree.
  */
object ExtQueries extends QueryGroup {

  // Shared SQL fragments ---------------------------------------------------

  /** Distinct (doc_id, shingle) pairs — DuckDB twin of Dedup.shingleEdges
    * (1-based list indexing vs Spark's 0-based). Parameterized by source
    * relation so composites can shingle a prefiltered subset.
    */
  private def edgesSqlFrom(src: String, cte: String = "edges") =
    s"""$cte AS (
       SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(string_split(text, ' ')) >= 3
           THEN list_transform(range(1, len(string_split(text, ' ')) - 1),
                i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                     || ' ' || string_split(text, ' ')[i+2])
           ELSE []::VARCHAR[] END) AS shingle
       FROM $src)"""

  private val edgesSql = edgesSqlFrom("documents")

  private val sizesSql =
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM edges GROUP BY doc_id)"

  /** DuckDB twin of Dedup.polyHash: the identical integer character fold
    * (acc*31 + codepoint) mod P — shingle ids with no vocabulary CTE.
    */
  private def polyHashSql(s: String) =
    s"""list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_extract_all($s, '(?s).'),
             c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % ${Dedup.MinhashMod})"""

  private val polyIdsSql =
    s"ids AS (SELECT doc_id, ${polyHashSql("shingle")} AS sid FROM edges)"

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs. */
  private def verifySql(tau: Double) =
    s"""inter AS (
         SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, count(*) AS i
         FROM cand JOIN edges ea ON cand.doc_a = ea.doc_id
         JOIN edges eb ON cand.doc_b = eb.doc_id AND ea.shingle = eb.shingle
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, i / (sa.n_sh + sb.n_sh - i) AS jaccard
       FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       JOIN sizes sb ON doc_b = sb.doc_id
       WHERE i / (sa.n_sh + sb.n_sh - i) >= $tau"""

  /** Embeddings widened to double + squared norms (ordered fold). */
  private val vecsSql =
    """v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings),
       n AS (SELECT vec_id, vec,
               list_reduce(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]),
                           (a, b) -> a + b) AS nsq
             FROM v)"""

  /** Ordered-fold dot product over two aliased vec columns. */
  private def dotOf(l: String, r: String): String =
    s"list_reduce(list_transform(range(1, len($l) + 1), i -> $l[i] * $r[i]), (x, y) -> x + y)"

  private val dotSql = dotOf("a.vec", "b.vec")

  // ---------------------------------------------------------- text analysis

  /** THE quality formula as SQL, parameterized by the count expressions —
    * single source shared by ext_text_stats and ext_corpus_clean (twin of
    * TextAnalysis.qualityScore).
    */
  private def qualitySqlOver(nTypes: String, nTokens: String, nStop: String): String =
    s"round(0.4 * ($nTypes / $nTokens) + 0.6 * (1.0 - $nStop / $nTokens), 6)"

  private val stopListSql = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")

  private def textStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val nTok = TextAnalysis.tokenCount(t)
    val nTyp = TextAnalysis.typeCount(t)
    val nStop = TextAnalysis.markerCount(t, TextAnalysis.Stopwords)
    Tables.documents(s, d).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      nTyp.as("n_types"),
      TextAnalysis.bpeishCount(t).as("n_bpeish"),
      round(nTyp / nTok, 6).as("ttr"),
      round(nStop / nTok, 6).as("stop_ratio"),
      TextAnalysis.qualityScore(t).as("quality"))
  }

  private val textStatsSql =
    s"""WITH b AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
           CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS INTEGER) AS n_bpeish,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql))) AS INTEGER) AS n_stop
         FROM documents)
       SELECT doc_id, n_tokens, n_types, n_bpeish,
         round(n_types / n_tokens, 6) AS ttr,
         round(n_stop / n_tokens, 6) AS stop_ratio,
         ${qualitySqlOver("n_types", "n_tokens", "n_stop")} AS quality
       FROM b"""

  private def textLangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("pred_lang"), col("lang"))

  /** Marker-count select-list (s0..sN) — twin of TextAnalysis.markerCount
    * per language class; shared by ext_text_langid and ext_corpus_clean.
    */
  private lazy val langScoresSql = TextAnalysis.LangMarkers.zipWithIndex
    .map { case ((_, ms), i) =>
      val set = ms.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS s$i"
    }.mkString(", ")

  /** Argmax-with-priority CASE over s0..sN — twin of TextAnalysis.langId. */
  private lazy val langCaseSql = {
    val n = TextAnalysis.LangMarkers.size
    val cases = TextAnalysis.LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      val later = (i + 1 until n).map(j => s"s$i >= s$j")
      val conds = (s"s$i > 0" +: later).mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"CASE $cases ELSE 'unk' END"
  }

  private lazy val textLangIdSql =
    s"""SELECT doc_id, $langCaseSql AS pred_lang, lang
       FROM (SELECT doc_id, lang, $langScoresSql FROM documents) t"""

  private def textFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprint(Tables.documents(s, d), "doc_id", "text")

  private lazy val textFingerprintSql = {
    val pows = TextAnalysis.FpPows.mkString("[", ", ", "]")
    val p = TextAnalysis.FpMod
    s"""WITH w AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
         FROM documents),
       c AS (SELECT doc_id,
               (${polyHashSql("word")} + 1) * ($pows)[(pos % 8) + 1] % $p AS contrib
             FROM w)
       SELECT doc_id, CAST(sum(contrib) % $p AS BIGINT) AS fingerprint
       FROM c GROUP BY doc_id"""
  }

  private val TfidfK = 3

  private def textTfidf(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topTfidf(Tables.documents(s, d), "doc_id", "text", TfidfK)

  private val textTfidfSql =
    s"""WITH terms AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tfs AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
       dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
       scored AS (
         SELECT doc_id, term, tf,
                round(tf * ln((SELECT count(*) FROM documents) / df), 6) AS tfidf
         FROM tfs JOIN dfs USING (term))
       SELECT doc_id, rnk, term, tfidf
       FROM (SELECT doc_id, term, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TfidfK"""

  private val TopTermsK = 5

  private def textTopTerms(s: SparkSession, d: String): DataFrame = {
    val terms = Tables.documents(s, d)
      .select(col("lang"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("lang", "term").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("term").asc)
    terms.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= TopTermsK)
      .select("lang", "rnk", "term", "cnt")
  }

  private val textTopTermsSql =
    s"""WITH terms AS (
         SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents),
       counts AS (SELECT lang, term, count(*) AS cnt FROM terms GROUP BY lang, term)
       SELECT lang, rnk, term, cnt
       FROM (SELECT lang, term, cnt,
               CAST(row_number() OVER (PARTITION BY lang
                 ORDER BY cnt DESC, term ASC) AS INTEGER) AS rnk
             FROM counts) r
       WHERE rnk <= $TopTermsK"""

  /** First BPE merge iteration over the corpus: the frequency of every
    * ADJACENT CHARACTER PAIR, weighted by word occurrence count — the
    * statistic a byte-pair-encoding tokenizer trainer computes each
    * round to pick its next merge. The 100 TB shape is the point: the
    * corpus-sized work is one word groupBy (the same aggregate every
    * token count runs); the per-character explosion then runs over the
    * DISTINCT-WORD vocabulary only (bounded, ≪ corpus) with counts
    * carried as weights — pair counting never re-touches the raw text.
    * Top pairs by (freq desc, pair asc), deterministic.
    */
  private val BpePairsK = 20

  private def textBpeMerges(s: SparkSession, d: String): DataFrame = {
    val wc = Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("c"))
    val pairs = wc.select(col("c"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("c")).as("freq"))
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("pair").asc)
    pairs.withColumn("rnk", row_number().over(win).cast("int"))
      .where(col("rnk") <= BpePairsK)
      .select("rnk", "pair", "freq")
  }

  private val textBpeMergesSql =
    s"""WITH wc AS (
         SELECT w, count(*) AS c
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         WHERE len(w) >= 2 GROUP BY w),
       pairs AS (
         SELECT substring(w, i, 2) AS pair, c
         FROM wc, unnest(range(1, len(w))) AS r(i)),
       agg AS (SELECT pair, CAST(sum(c) AS BIGINT) AS freq FROM pairs GROUP BY 1)
       SELECT CAST(row_number() OVER (ORDER BY freq DESC, pair ASC) AS INTEGER) AS rnk,
              pair, freq
       FROM agg
       ORDER BY freq DESC, pair ASC LIMIT $BpePairsK"""

  /** Iterated BPE merge TRAINING (TextAnalysis.bpeTrain): K fixed merge
    * rounds, each applying the argmax pair as a vocabulary merge and
    * recounting — the CC/PageRank oracle-unrolling discipline (fixed
    * schedule, one CTE triple per round, deterministic tiebreak freq
    * desc / pair asc). Both engines share the padded double-space symbol
    * string representation, so the greedy merge is a plain replace() in
    * each.
    */
  private val BpeTrainRounds = 3

  private def textBpeTrain(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeTrain(Tables.documents(s, d), "text", BpeTrainRounds)

  private val textBpeTrainSql: String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS (
           SELECT syms[i] || ' ' || syms[i + 1] AS pair,
                  CAST(sum(c) AS BIGINT) AS freq
           FROM (SELECT string_split(trim(repr), '  ') AS syms, c
                 FROM v${r - 1}) t,
                unnest(range(1, len(syms))) AS u$r(i)
           GROUP BY 1),
         b$r AS (SELECT pair, freq FROM p$r
                 ORDER BY freq DESC, pair ASC LIMIT 1),
         v$r AS (
           SELECT replace(repr, ' ' || replace(pair, ' ', '  ') || ' ',
                                ' ' || replace(pair, ' ', '') || ' ') AS repr, c
           FROM v${r - 1}, b$r)"""
    }.mkString(",\n")
    val out = (1 to BpeTrainRounds)
      .map(r => s"SELECT $r AS round, pair, freq FROM b$r")
      .mkString(" UNION ALL ")
    s"""WITH wc AS (
         SELECT w, count(*) AS c
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         WHERE len(w) >= 2 GROUP BY w),
       v0 AS (
         SELECT ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                  i -> substring(w, i, 1)), '  ') || ' ' AS repr, c
         FROM wc),
       $rounds
       $out"""
  }

  /** Tokenizer APPLICATION (TextAnalysis.bpeApplyBudget): per-source token
    * BUDGET under the K-merge trained vocabulary — docs, words, chars, BPE
    * tokens, chars-per-token. The oracle re-runs the identical unrolled
    * merge chain (carrying the word through the vocab CTEs) and joins the
    * segmented vocab back onto a per-(source, word) count.
    */
  private def textBpeApply(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeApplyBudget(Tables.documents(s, d), "source", "text", BpeTrainRounds)

  private val textBpeApplySql: String = {
    val rounds = (1 to BpeTrainRounds).map { r =>
      s"""p$r AS (
           SELECT syms[i] || ' ' || syms[i + 1] AS pair,
                  CAST(sum(c) AS BIGINT) AS freq
           FROM (SELECT string_split(trim(repr), '  ') AS syms, c
                 FROM v${r - 1}) t,
                unnest(range(1, len(syms))) AS u$r(i)
           GROUP BY 1),
         b$r AS (SELECT pair, freq FROM p$r
                 ORDER BY freq DESC, pair ASC LIMIT 1),
         v$r AS (
           SELECT w, replace(repr, ' ' || replace(pair, ' ', '  ') || ' ',
                                   ' ' || replace(pair, ' ', '') || ' ') AS repr, c
           FROM v${r - 1}, b$r)"""
    }.mkString(",\n")
    s"""WITH wc AS (
         SELECT w, count(*) AS c
         FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
         WHERE len(w) >= 2 GROUP BY w),
       v0 AS (
         SELECT w, ' ' || array_to_string(list_transform(range(1, len(w) + 1),
                  i -> substring(w, i, 1)), '  ') || ' ' AS repr, c
         FROM wc),
       $rounds,
       seg AS (
         SELECT w, CAST(len(string_split(trim(repr), '  ')) AS INTEGER) AS n_sym
         FROM v$BpeTrainRounds),
       wcs AS (
         SELECT source, w, count(*) AS cw
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) t
         GROUP BY 1, 2),
       budget AS (
         SELECT source,
                CAST(sum(cw) AS BIGINT) AS n_words,
                CAST(sum(cw * len(w)) AS BIGINT) AS n_chars,
                CAST(sum(cw * coalesce(n_sym, 1)) AS BIGINT) AS n_tokens
         FROM wcs LEFT JOIN seg USING (w) GROUP BY 1),
       d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
       SELECT source, n_docs, n_words, n_chars, n_tokens,
              round(n_chars / n_tokens, 6) AS chars_per_token
       FROM d JOIN budget USING (source)"""
  }

  private def textBigramLm(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramLogProb(Tables.documents(s, d), "doc_id", "text")

  private val textBigramLmSql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       bi AS (
         SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
         FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w) t),
       bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
       uc AS (SELECT w1, count(*) AS cu FROM bi GROUP BY 1)
       SELECT doc_id, count(*) AS n_bigrams,
              round(avg(ln(cb / cu)), 4) AS avg_logprob
       FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1)
       GROUP BY doc_id"""

  /** Intra-document repetition profile (Gopher/C4-style quality rules):
    * repeated-3-gram fraction, top-3-gram coverage, repeated-token
    * fraction. Spark side is a ZERO-shuffle per-row fold
    * (TextAnalysis.repetitionStats); the oracle computes the same
    * numbers the readable way (unnest + two GROUP BYs) — identical
    * results, different plan shape.
    */
  private def textRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionStats(Tables.documents(s, d), "doc_id", "text")

  private val textRepetitionSql =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (SELECT doc_id,
               unnest(list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
             FROM t WHERE len(ws) >= 3),
       c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
       d AS (SELECT doc_id, CAST(sum(cnt) AS INTEGER) AS n_grams,
                    CAST(count(*) AS INTEGER) AS n_distinct,
                    CAST(max(cnt) AS INTEGER) AS top_cnt
             FROM c GROUP BY 1),
       w AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                    CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types
             FROM documents WHERE len(string_split(text, ' ')) >= 3)
       SELECT doc_id, n_grams, n_distinct, top_cnt,
         round((n_grams - n_distinct) / n_grams, 6) AS dup_gram_frac,
         round(top_cnt / n_grams, 6) AS top_gram_frac,
         round((n_tokens - n_types) / n_tokens, 6) AS dup_token_frac
       FROM d JOIN w USING (doc_id)"""

  private val ClassifyDim = 1024

  private def textClassify(s: SparkSession, d: String): DataFrame =
    TextAnalysis.hashedLinearScore(Tables.documents(s, d), "doc_id", "text",
      ClassifyDim)

  /** Twin of TextAnalysis.hashedLinearScore: identical polyhash bucket,
    * Knuth-mix weight, and exact BIGINT token fold.
    */
  private lazy val textClassifySql =
    s"""WITH s AS (
         SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                 t -> ((${polyHashSql("t")} % $ClassifyDim) * 2654435761
                        + 12345) % 1001 - 500)),
             (a, b) -> a + b) AS score
         FROM documents)
       SELECT doc_id, n_tokens, score,
              CASE WHEN score >= 0 THEN 1 ELSE 0 END AS label,
              round(score / n_tokens, 6) AS mean_cents
       FROM s"""

  /** BM25 retrieval against a fixed three-term query, top-20 — the
    * lexical retrieval scorer (TextAnalysis.bm25). Rank by the ROUNDED
    * score (then doc_id) so the ordering is engine-independent; the
    * limit plans as TakeOrderedAndProject (per-partition heaps, driver
    * merge of k rows).
    */
  private val Bm25Terms = Seq("join", "stream", "hash")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val Bm25TopN = 20

  private def textBm25(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25(Tables.documents(s, d), "doc_id", "text",
        Bm25Terms, Bm25K1, Bm25B)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(Bm25TopN)

  private lazy val textBm25Sql = {
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN list_contains(ws, '${Bm25Terms(i)}') THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(", ")
    val termScores = Bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE)"
      s"""ln((n - df$i + 0.5) / (df$i + 0.5) + 1.0)
         * ($tf * ${Bm25K1 + 1}) /
         ($tf + $Bm25K1 * (${1 - Bm25B} + $Bm25B * dl / avgdl))"""
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       st AS (SELECT count(*) AS n, CAST(sum(len(ws)) AS BIGINT) AS sumdl, $dfCols
              FROM t),
       sc AS (SELECT doc_id, round($termScores, 6) AS bm25
              FROM (SELECT doc_id, ws, CAST(len(ws) AS DOUBLE) AS dl,
                      n, sumdl / n AS avgdl,
                      ${Bm25Terms.indices.map(i => s"df$i").mkString(", ")}
                    FROM t, st) x)
       SELECT doc_id, bm25 FROM sc
       ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopN"""
  }

  /** Cross-document boilerplate detection: word 3-grams appearing in at
    * least `BoilerplateMinDf` documents (the repeated headers/footers/
    * templates a training pipeline strips before dedup). One explode +
    * one partial/final aggregate over the shingle edge list — the same
    * inverted index the near-dup family builds on.
    */
  private val BoilerplateMinDf = 5

  private def textBoilerplate(s: SparkSession, d: String): DataFrame =
    Dedup.shingleEdges(Tables.documents(s, d), "doc_id", "text")
      .groupBy("shingle")
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("first_doc"))
      .where(col("df") >= BoilerplateMinDf)

  private val textBoilerplateSql =
    s"""WITH $edgesSql
       SELECT shingle, count(*) AS df, min(doc_id) AS first_doc
       FROM edges GROUP BY shingle HAVING count(*) >= $BoilerplateMinDf"""

  /** PII-style redaction: mask number runs, report the redaction count
    * and an oracle-checkable fingerprint of the redacted text (the
    * graft_polyhash char fold — same kernel as the dedup shingle ids).
    */
  private def textRedact(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val red = regexp_replace(col("text"), "[0-9]+", "<num>")
    Tables.documents(s, d).select(
      col("doc_id"),
      size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_redactions"),
      Dedup.polyHash(red).as("redacted_hash"))
  }

  private val textRedactSql =
    s"""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_redactions,
         ${polyHashSql("regexp_replace(text, '[0-9]+', '<num>', 'g')")} AS redacted_hash
       FROM documents"""

  /** Corpus stats over all (lang, source) slices at once — CUBE grouping
    * sets; the null-marker rows are the per-lang / per-source / grand
    * totals (keys are non-null in the corpus, so markers are unambiguous,
    * as in q19_rollup).
    */
  private def corpusCube(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))

  private val corpusCubeSql =
    """SELECT lang, source, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents GROUP BY CUBE (lang, source)"""

  /** Deterministic train/val/test corpus split: the polyhash char fold of
    * (text + salt) is an engine-independent PRNG, so the assignment —
    * unlike `DataFrame.sample` or rand(seed) — reproduces bit-for-bit in
    * any engine, across partitionings, and in the oracle. 80/10/10 by
    * hash bucket; emitted as per (lang, split) counts.
    */
  private val SplitSalt = "|graft-split-42"

  private def corpusSplit(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
  }

  private val corpusSplitSql =
    s"""SELECT lang,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         count(*) AS n_docs
       FROM (SELECT lang, ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS b
             FROM documents) t
       GROUP BY 1, 2"""

  /** Stratified (lang, source) sample with a WEIGHTED quota — src0 is
    * double-sampled, modeling a source-mixing boost. See
    * operators/Sampling.scala for the determinism + WindowGroupLimit
    * scale story.
    */
  private val SampleSalt = "|graft-sample-7"
  private val SampleQuota = 2
  private val SampleBoostQuota = 4

  private def corpusSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratified(Tables.documents(s, d), Seq("lang", "source"),
        "doc_id", "text",
        when(col("source") === "src0", SampleBoostQuota).otherwise(SampleQuota),
        SampleSalt, quotaCap = Some(SampleBoostQuota))
      .select("lang", "source", "smp_rank", "doc_id")

  private val corpusSampleSql =
    s"""SELECT lang, source, smp_rank, doc_id
       FROM (SELECT lang, source, doc_id,
               CAST(row_number() OVER (PARTITION BY lang, source
                 ORDER BY ${polyHashSql(s"'$SampleSalt' || text")}, doc_id) AS INTEGER) AS smp_rank
             FROM documents) t
       WHERE smp_rank <= CASE WHEN source = 'src0'
                              THEN $SampleBoostQuota ELSE $SampleQuota END"""

  /** Sequence packing: concat-then-chunk documents into fixed char
    * budgets per language, emitted as per-pack occupancy stats (docs,
    * chars, boundary-spanning count). See Sampling.packSequences.
    */
  private val PackSalt = "|graft-pack-3"
  private val PackBudget = 4096L

  private def corpusPack(s: SparkSession, d: String): DataFrame =
    Sampling.packSequences(Tables.documents(s, d), Seq("lang"),
        "doc_id", "n_chars", PackBudget, PackSalt)
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("spans_next")).cast("long").as("n_spanning"))

  private val corpusPackSql =
    s"""WITH ordered AS (
         SELECT lang, doc_id, n_chars,
           sum(n_chars) OVER (PARTITION BY lang
             ORDER BY ${polyHashSql(s"'$PackSalt' || CAST(doc_id AS VARCHAR)")}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM documents),
       packed AS (
         SELECT lang, n_chars,
           CAST(floor((cum - n_chars) / $PackBudget) AS BIGINT) AS pack_id,
           CASE WHEN CAST(floor((cum - 1) / $PackBudget) AS BIGINT)
                   > CAST(floor((cum - n_chars) / $PackBudget) AS BIGINT)
                THEN 1 ELSE 0 END AS spans_next
         FROM ordered)
       SELECT lang, pack_id, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(spans_next) AS BIGINT) AS n_spanning
       FROM packed GROUP BY 1, 2"""

  /** Perplexity-band corpus filter (Sampling.perplexityBands): the CCNet
    * step — bigram-LM score per doc, per-language perplexity deciles
    * (histogram form), keep-the-middle-band selection with kept/dropped
    * doc and token mass telemetry.
    */
  private val PplKeepLo = 4
  private val PplKeepHi = 7

  private def corpusPplFilter(s: SparkSession, d: String): DataFrame =
    Sampling.perplexityBands(Tables.documents(s, d), "lang", "doc_id",
      "text", PplKeepLo, PplKeepHi)

  private lazy val corpusPplFilterSql =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       bi AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
              FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w) t),
       bc AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
       uc AS (SELECT w1, count(*) AS cu FROM bi GROUP BY 1),
       lp AS (SELECT doc_id, count(*) AS n_bigrams,
                     round(avg(ln(cb / cu)), 4) AS alp
              FROM bi JOIN bc USING (w1, w2) JOIN uc USING (w1)
              GROUP BY doc_id),
       h AS (SELECT lang, alp, count(*) AS cnt, sum(n_bigrams) AS mass
             FROM lp JOIN documents USING (doc_id) GROUP BY 1, 2),
       c AS (SELECT lang, alp, cnt, mass,
               sum(cnt) OVER (PARTITION BY lang ORDER BY alp DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS tot
             FROM h),
       banded AS (SELECT lang, alp, cnt, mass,
               CASE WHEN CAST((10 * cum + tot - 1) // tot AS INTEGER) < $PplKeepLo THEN 'head'
                    WHEN CAST((10 * cum + tot - 1) // tot AS INTEGER) <= $PplKeepHi THEN 'middle'
                    ELSE 'tail' END AS band
             FROM c)
       SELECT lang, band,
              CAST(sum(cnt) AS BIGINT) AS n_docs,
              CAST(sum(mass) AS BIGINT) AS mass,
              min(alp) AS min_lp, max(alp) AS max_lp,
              CAST(band = 'middle' AS INTEGER) AS kept
       FROM banded GROUP BY lang, band"""

  /** Per-language quality deciles over THE quality score — the curation
    * threshold table ("keep the top-3 deciles of each language"). Value-
    * based buckets via the histogram formulation (the windows run over a
    * per-(lang, score) aggregate, never the raw corpus — see
    * Sampling.valueDeciles for the NTILE-at-100TB argument).
    */
  private def corpusDeciles(s: SparkSession, d: String): DataFrame =
    Sampling.valueDeciles(
      Tables.documents(s, d)
        .select(col("lang"), TextAnalysis.qualityScore(col("text")).as("q")),
      "lang", col("q"))

  private lazy val corpusDecilesSql =
    s"""WITH b AS (
         SELECT lang,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
           CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql))) AS INTEGER) AS n_stop
         FROM documents),
       q AS (SELECT lang, ${qualitySqlOver("n_types", "n_tokens", "n_stop")} AS q FROM b),
       h AS (SELECT lang, q, count(*) AS cnt FROM q GROUP BY 1, 2),
       c AS (SELECT lang, q, cnt,
               sum(cnt) OVER (PARTITION BY lang ORDER BY q DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS tot
             FROM h)
       SELECT lang, CAST((10 * cum + tot - 1) // tot AS INTEGER) AS decile,
              CAST(sum(cnt) AS BIGINT) AS n_docs, max(q) AS max_q, min(q) AS min_q
       FROM c GROUP BY 1, 2"""

  /** Temperature mixture over the `source` domain column (the corpus's
    * provenance axis). α fixed at 1/2 — see Sampling.mixtureWeights for
    * why that exact exponent (sqrt is correctly rounded; pow is not).
    */
  private def corpusMix(s: SparkSession, d: String): DataFrame =
    Sampling.mixtureWeights(Tables.documents(s, d), "source", col("text"))

  /** Twin of Sampling.mixtureWeights: same 10^6 integer grid for the
    * sqrt-mass normalizer, same floor(+0.5) quantization.
    */
  private val corpusMixSql =
    """WITH dom AS (
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1),
       g AS (SELECT source, n_docs, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS s
             FROM dom),
       t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                    CAST(sum(s) AS BIGINT) AS stot FROM g)
       SELECT source, n_docs, n_tokens,
              round(n_tokens / tot, 6) AS p_raw,
              round(s / stot, 6) AS p_temp,
              round((s / stot) / (n_tokens / tot), 6) AS boost
       FROM g CROSS JOIN t"""

  /** Per-source unigram total-variation drift (see
    * Sampling.domainDivergence for the exact-integer formulation).
    */
  private def corpusDrift(s: SparkSession, d: String): DataFrame =
    Sampling.domainDivergence(Tables.documents(s, d), "source", col("text"))

  /** Twin of Sampling.domainDivergence: HUGEINT is DuckDB's exact
    * wide-integer counterpart to Spark's DECIMAL(38,0) sums.
    */
  private val corpusDriftSql =
    """WITH wc AS (
         SELECT source, unnest(string_split(text, ' ')) AS word
         FROM documents),
       cnt AS (SELECT source, word, count(*) AS cs FROM wc GROUP BY 1, 2),
       wcc AS (SELECT source, word, cs,
                 sum(cs) OVER (PARTITION BY word) AS c,
                 sum(cs) OVER (PARTITION BY source) AS ns
               FROM cnt),
       nt AS (SELECT count(*) AS n FROM wc),
       agg AS (
         SELECT source, max(ns) AS n_tokens, max(n) AS nn,
                sum(abs(CAST(cs AS HUGEINT) * n - CAST(c AS HUGEINT) * ns)) AS num1,
                sum(CAST(c AS HUGEINT)) AS cg
         FROM wcc CROSS JOIN nt GROUP BY 1)
       SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
              round(CAST(num1 + CAST(n_tokens AS HUGEINT) * (nn - cg) AS DOUBLE)
                    / (2.0 * n_tokens * nn), 6) AS tv_dist
       FROM agg"""

  /** Z-order layout audit over events: user_id x day-number, 16-bit
    * interleave, 2^10 buckets — each bucket must confine BOTH dims to an
    * aligned 32-value window (the Morton rectangle property, also
    * spec-pinned in RelationalSpec).
    */
  private val ZDayNs = 86400000000000L

  /** Per-run-unique scratch path for the persisted-state queries
    * (minhash/IVF index lifecycles, mergeable sketch states): keyed by
    * the dataset dir AND the SparkSession's applicationId so two
    * concurrent harness runs over the same dataset never overwrite each
    * other's durable state mid-query (overwrite during another run's
    * read = wrong or failed results). Unsigned rendering avoids the
    * '-' path component `math.abs(Int.MinValue)` would produce.
    *
    * SPARK_GRAFT_STATE_DIR overrides the base dir AND drops the
    * applicationId component — the explicit SINGLE-WRITER opt-in for
    * cross-run reuse of rebuilt index/sketch state (the applicationId
    * key, correct by default, forces every run to rebuild persisted
    * state from scratch; a benchmark or serving loop that owns its
    * state dir shouldn't pay that). The collision-safe default stands
    * whenever the variable is unset.
    */
  private def scratchPath(s: SparkSession, tag: String, d: String): String =
    sys.env.get("SPARK_GRAFT_STATE_DIR") match {
      case Some(base) =>
        s"$base/graft_${tag}_${Integer.toUnsignedString(d.hashCode)}"
      case None =>
        s"${sys.props("java.io.tmpdir")}/graft_${tag}_" +
          s"${Integer.toUnsignedString(d.hashCode)}_${s.sparkContext.applicationId}"
    }

  private def layoutZorder(s: SparkSession, d: String): DataFrame =
    Layout.zOrderAudit(
      Tables.events(s, d)
        .select(col("user_id"), expr(s"ts div $ZDayNs").as("day")),
      "user_id", "day")

  /** Twin of Layout.zOrderAudit: DuckDB's bit operators repeat the
    * interleave fold; ts arrives as TIMESTAMP_NS, so epoch_ns // day.
    */
  private val layoutZorderSql = {
    val z = (0 until 16).map(i =>
      s"(((user_id >> $i) & 1) << ${2 * i}) + (((day >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $ZDayNs AS day FROM events),
       zv AS (SELECT user_id, day, CAST($z AS BIGINT) AS z FROM e)
       SELECT z // 1024 AS zbucket, CAST(count(*) AS BIGINT) AS n_rows,
              min(user_id) AS a_min, max(user_id) AS a_max,
              min(day) AS b_min, max(day) AS b_max
       FROM zv GROUP BY 1"""
  }

  /** Zone-map manifest over the same (user, day) dims as the z-order
    * audit: z-block files vs 4-day natural ingest files, with the
    * per-file skippable flag for the rectangle predicate
    * user_id IN [2, 5] AND day within the first 8 days of the fixture.
    */
  private def layoutManifest(s: SparkSession, d: String): DataFrame =
    Layout.zoneManifest(
      Tables.events(s, d)
        .select(col("user_id"), expr(s"ts div $ZDayNs").as("day")),
      "user_id", "day", 16, 1024L, 4L, 2L, 5L, 8L)

  /** Twin of Layout.zoneManifest: the same interleave fold, one GROUPING
    * SETS aggregate over (zf) and (nf), and the rectangle-overlap flag
    * off the per-file stats.
    */
  private val layoutManifestSql = {
    val z = (0 until 16).map(i =>
      s"(((user_id >> $i) & 1) << ${2 * i}) + (((day >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $ZDayNs AS day FROM events),
       f AS (SELECT user_id, day,
               CAST($z AS BIGINT) // 1024 AS zf, day // 4 AS nf FROM e),
       b0 AS (SELECT min(day) AS d0 FROM f),
       m AS (
         SELECT CASE WHEN GROUPING(nf) = 1 THEN 'zorder' ELSE 'natural' END AS layout,
                coalesce(zf, nf) AS file_id,
                count(*) AS n_rows,
                min(user_id) AS a_min, max(user_id) AS a_max,
                min(day) AS b_min, max(day) AS b_max
         FROM f GROUP BY GROUPING SETS ((zf), (nf)))
       SELECT layout, file_id, n_rows, a_min, a_max, b_min, b_max,
              (a_max < 2 OR a_min > 5 OR b_min > d0 + 7 OR b_max < d0) AS skippable
       FROM m, b0"""
  }

  private val NumShards = 16

  /** Export shard-balance audit: content-hashed shards (see
    * Layout.shardAudit) sized in documents and character mass.
    */
  private def layoutShards(s: SparkSession, d: String): DataFrame =
    Layout.shardAudit(Tables.documents(s, d), "text", "n_chars", NumShards)

  private val layoutShardsSql =
    s"""WITH ps AS (
         SELECT ${polyHashSql("text")} % $NumShards AS shard,
                count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS mass
         FROM documents GROUP BY 1)
       SELECT shard, n_docs, mass,
              round(n_docs * $NumShards * 1.0 / sum(n_docs) OVER (), 6) AS doc_balance,
              round(CASE WHEN sum(mass) OVER () = 0 THEN 0.0
                    ELSE mass * $NumShards * 1.0 / sum(mass) OVER () END, 6)
                AS mass_balance
       FROM ps"""

  private val CompactTarget = 20000L

  /** Compaction planner over (source, lang) partition cells (see
    * Layout.compactionPlan) — contiguous next-fit bins of ~20k chars.
    */
  private def layoutCompact(s: SparkSession, d: String): DataFrame =
    Layout.compactionPlan(Tables.documents(s, d), Seq("source", "lang"),
      col("n_chars"), CompactTarget)

  /** Twin of Layout.compactionPlan: same ordered cumsum, same next-fit
    * bin rule, arg_min/arg_max on the cell sequence number.
    */
  private val layoutCompactSql =
    s"""WITH cells AS (
         SELECT source, lang, CAST(count(*) AS BIGINT) AS docs,
                CAST(sum(n_chars) AS BIGINT) AS cmass
         FROM documents GROUP BY 1, 2),
       seqd AS (SELECT *,
           CAST(sum(cmass) OVER (ORDER BY source, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           row_number() OVER (ORDER BY source, lang) AS seq,
           source || '/' || lang AS cell
         FROM cells)
       SELECT CAST((cum - cmass) // $CompactTarget AS BIGINT) AS bin,
              arg_min(cell, seq) AS cells_from, arg_max(cell, seq) AS cells_to,
              CAST(count(*) AS BIGINT) AS n_cells,
              CAST(sum(docs) AS BIGINT) AS n_docs,
              CAST(sum(cmass) AS BIGINT) AS mass,
              round(sum(cmass) * 1.0 / $CompactTarget, 6) AS fill
       FROM seqd GROUP BY 1"""

  /** PHYSICAL zone-map harvest: range-cluster events into 4 zbucket
    * files (bucket = user_id·4 div (max+1), the max attached by
    * broadcast — no driver scalar), then read the REAL parquet footers
    * back distributed (Layout.harvestZones) and roll them up per zone
    * with a pairwise-disjointness flag. The oracle computes the same
    * zones LOGICALLY from the table rows, so the gate pins physical
    * footer statistics ≡ logical zone bounds — exactly the claim a
    * layout rewrite must prove before a scanner is allowed to skip on
    * its files, and a cross-engine check of the footer reader itself
    * (DuckDB never opens the scratch files; a harvest that read the
    * wrong chunk or a write that broke clustering hash-mismatches).
    */
  private def layoutZonemap(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "zonemap", d)
    val ev = Tables.events(s, d).select("event_id", "user_id")
    val mxF = ev.agg((max("user_id") + lit(1L)).as("__m"))
    ev.crossJoin(broadcast(mxF))
      .withColumn("zbucket", expr("user_id * 4 div __m"))
      .drop("__m")
      .repartition(4, col("zbucket"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(path)
    val zones = Layout.harvestZones(s, path, "user_id")
      .withColumn("zbucket",
        regexp_extract(col("file"), "zbucket=(\\d+)", 1).cast("long"))
      .groupBy("zbucket")
      .agg(min("zmin").as("zone_min"), max("zmax").as("zone_max"),
        sum("rows").as("zone_rows"))
    val w = Window.orderBy("zbucket")
    zones.select(col("zbucket"), col("zone_min"), col("zone_max"),
      col("zone_rows"),
      // first zone has no predecessor — trivially disjoint (coalesced,
      // not NULL: engines stringify NULL booleans differently)
      coalesce(col("zone_min") > lag("zone_max", 1).over(w), lit(true))
        .as("zone_disjoint"))
  }

  /** Twin of layoutZonemap: the logical zones — same bucket rule, same
    * rollup, same lag-disjointness (first zone coalesced TRUE in both).
    */
  private val layoutZonemapSql =
    s"""WITH m AS (SELECT max(user_id) + 1 AS mm FROM events),
       z AS (SELECT user_id * 4 // mm AS zbucket, user_id FROM events, m),
       g AS (SELECT zbucket, min(user_id) AS zone_min,
               max(user_id) AS zone_max,
               CAST(count(*) AS BIGINT) AS zone_rows
             FROM z GROUP BY 1)
       SELECT zbucket, zone_min, zone_max, zone_rows,
              coalesce(zone_min > lag(zone_max) OVER (ORDER BY zbucket),
                       TRUE) AS zone_disjoint
       FROM g"""

  /** PHYSICAL Z-order audit — the footer-truth proof of what
    * ext_layout_zorder predicts: events written in equal-width Z-value
    * buckets (Morton interleave of (user, day); bounds attach by
    * broadcast, so the bucket rule is value-based and scale-free, never
    * a rank), then ONE footer read per file serves the chunk stats of
    * ALL THREE columns (Layout.harvestZonesCols) — the defining
    * Z-order claim is that BOTH dimensions have bounded per-file
    * ranges, so a one-column audit can't state it. Emits per bucket the
    * physical z/user/day ranges + z-disjointness; the oracle recomputes
    * every number logically from rows.
    */
  private def layoutZorderPhys(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "zophys", d)
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr(s"ts div $ZDayNs").as("day"))
      .withColumn("z", Layout.zValue("user_id", "day", 16))
    val mm = ev.agg(min("z").as("__z0"), (max("z") + lit(1L)).as("__z1"))
    ev.crossJoin(broadcast(mm))
      .withColumn("zbucket", expr("(z - __z0) * 8 div (__z1 - __z0)"))
      .select("user_id", "day", "z", "zbucket")
      .repartition(8, col("zbucket"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(path)
    val zones = Layout.harvestZonesCols(s, path, Seq("z", "user_id", "day"))
      .withColumn("zbucket",
        regexp_extract(col("file"), "zbucket=(\\d+)", 1).cast("long"))
      .groupBy("zbucket")
      .agg(
        min(when(col("column") === "z", col("zmin"))).as("zv_min"),
        max(when(col("column") === "z", col("zmax"))).as("zv_max"),
        min(when(col("column") === "user_id", col("zmin"))).as("a_min"),
        max(when(col("column") === "user_id", col("zmax"))).as("a_max"),
        min(when(col("column") === "day", col("zmin"))).as("b_min"),
        max(when(col("column") === "day", col("zmax"))).as("b_max"),
        sum(when(col("column") === "z", col("rows"))).as("n_rows"))
    val w = Window.orderBy("zbucket")
    zones.select(col("zbucket"), col("zv_min"), col("zv_max"),
      col("a_min"), col("a_max"), col("b_min"), col("b_max"), col("n_rows"),
      coalesce(col("zv_min") > lag("zv_max", 1).over(w), lit(true))
        .as("z_disjoint"))
  }

  /** Twin of layoutZorderPhys: the logical zones off the same Morton
    * fold, equal-width bucket rule, and lag-disjointness.
    */
  private val layoutZorderPhysSql = {
    val z = (0 until 16).map(i =>
      s"(((user_id >> $i) & 1) << ${2 * i}) + (((day >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) // $ZDayNs AS day FROM events),
       zv AS (SELECT user_id, day, CAST($z AS BIGINT) AS z FROM e),
       mm AS (SELECT min(z) AS z0, max(z) + 1 AS z1 FROM zv),
       b AS (SELECT user_id, day, z,
               (z - z0) * 8 // (z1 - z0) AS zbucket FROM zv, mm),
       g AS (SELECT zbucket, min(z) AS zv_min, max(z) AS zv_max,
               min(user_id) AS a_min, max(user_id) AS a_max,
               min(day) AS b_min, max(day) AS b_max,
               CAST(count(*) AS BIGINT) AS n_rows
             FROM b GROUP BY 1)
       SELECT zbucket, zv_min, zv_max, a_min, a_max, b_min, b_max, n_rows,
              coalesce(zv_min > lag(zv_max) OVER (ORDER BY zbucket),
                       TRUE) AS z_disjoint
       FROM g"""
  }

  private val EpochBudgetFactor = 2

  /** Epoch/repetition schedule from the temperature mixture (see
    * Sampling.epochSchedule) — budget = 2x the corpus.
    */
  private def corpusEpochs(s: SparkSession, d: String): DataFrame =
    Sampling.epochSchedule(Tables.documents(s, d), "source", col("text"),
      EpochBudgetFactor)

  /** Twin of Sampling.epochSchedule: HUGEINT product for the budget
    * split, BIGINT ceil-div for epochs.
    */
  private val corpusEpochsSql =
    s"""WITH dom AS (
         SELECT source,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         FROM documents GROUP BY 1),
       g AS (SELECT source, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS s
             FROM dom),
       t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot,
                    CAST(sum(s) AS BIGINT) AS stot FROM g),
       tgt AS (SELECT source, n_tokens,
                 CAST((CAST($EpochBudgetFactor AS HUGEINT) * tot * s) // stot
                   AS BIGINT) AS target_tokens
               FROM g CROSS JOIN t)
       SELECT source, n_tokens, target_tokens,
              CASE WHEN n_tokens = 0 THEN 0
                   ELSE (target_tokens + n_tokens - 1) // n_tokens
              END AS epochs,
              CASE WHEN n_tokens = 0 THEN 0.0
                   ELSE round(target_tokens * 1.0 / n_tokens, 6)
              END AS repetition
       FROM tgt"""

  private val ChunkTokens = 32
  private val ChunkOverlap = 8

  private def corpusChunk(s: SparkSession, d: String): DataFrame =
    Sampling.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
      ChunkTokens, ChunkOverlap)

  /** Twin of Sampling.chunkDocuments: same stride windows and the same
    * new-content rule for the trailing chunk.
    */
  private val corpusChunkSql = {
    val stride = ChunkTokens - ChunkOverlap
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       x AS (SELECT doc_id, ws,
               unnest(list_filter(range(0, len(ws) // $stride + 2),
                      i -> i = 0 OR i * $stride + $ChunkOverlap < len(ws))) AS chunk_id
             FROM t)
       SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
              CAST(len(list_slice(ws, chunk_id * $stride + 1,
                                  chunk_id * $stride + $ChunkTokens)) AS INTEGER) AS n_tokens,
              array_to_string(list_slice(ws, chunk_id * $stride + 1,
                                  chunk_id * $stride + $ChunkTokens), ' ') AS chunk_text
       FROM x"""
  }

  /** Per-language Tukey fences on document length — robust outlier
    * bounds from the n_chars histogram (exact type-7 quartiles as order
    * statistics over cumulative counts; see Sampling.robustFences for
    * the no-raw-value-buffering argument). k=1.5, the classic fence.
    */
  private val FenceK = 1.5

  private def corpusFences(s: SparkSession, d: String): DataFrame =
    Sampling.robustFences(Tables.documents(s, d), "lang", col("n_chars"), FenceK)

  private val corpusFencesSql =
    s"""WITH h AS (SELECT lang, n_chars AS v, count(*) AS cnt
                 FROM documents GROUP BY 1, 2),
       c AS (SELECT lang, v, cnt,
               sum(cnt) OVER (PARTITION BY lang ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(cnt) OVER (PARTITION BY lang) AS n
             FROM h),
       a AS (SELECT lang,
               min(CASE WHEN cum >= floor((n-1)*0.25) + 1 THEN v END) AS l25,
               min(CASE WHEN cum >= ceil((n-1)*0.25) + 1 THEN v END) AS u25,
               min(CASE WHEN cum >= floor((n-1)*0.75) + 1 THEN v END) AS l75,
               min(CASE WHEN cum >= ceil((n-1)*0.75) + 1 THEN v END) AS u75,
               max((n-1)*0.25 - floor((n-1)*0.25)) AS f25,
               max((n-1)*0.75 - floor((n-1)*0.75)) AS f75,
               max(n) AS n_rows
             FROM c GROUP BY 1),
       f AS (SELECT lang, n_rows,
               l25 + f25 * (u25 - l25) AS q1v,
               l75 + f75 * (u75 - l75) AS q3v
             FROM a),
       g AS (SELECT lang, n_rows, q1v, q3v,
               q1v - $FenceK * (q3v - q1v) AS lov,
               q3v + $FenceK * (q3v - q1v) AS hiv
             FROM f),
       cnts AS (SELECT h.lang,
                 sum(CASE WHEN h.v < g.lov THEN h.cnt ELSE 0 END) AS n_low,
                 sum(CASE WHEN h.v > g.hiv THEN h.cnt ELSE 0 END) AS n_high
                FROM h JOIN g USING (lang) GROUP BY 1)
       SELECT lang, round(q1v, 6) AS q1, round(q3v, 6) AS q3,
              round(lov, 6) AS lo_fence, round(hiv, 6) AS hi_fence,
              CAST(n_low AS BIGINT) AS n_low, CAST(n_high AS BIGINT) AS n_high,
              CAST(n_rows AS BIGINT) AS n_rows
       FROM g JOIN cnts USING (lang)"""

  // ------------------------------------------------------------------ dedup

  /** Benchmark decontamination over the SAME deterministic split the
    * train/val/test query defines: train bucket (< 80) probed by the
    * test bucket (>= 90) for shingle coverage — a hit is an eval doc
    * leaked into training data. Coverage threshold is LOW (0.3) on
    * purpose: decontamination errs toward recall.
    */
  private val ContamTau = 0.3

  private def dedupContaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    Dedup.crossContamination(
      docs.where(bucket < 80), docs.where(bucket >= 90),
      "doc_id", "text", ContamTau)
  }

  private lazy val dedupContaminateSql = {
    val bucketed =
      s"""b AS (SELECT doc_id, text,
            ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS bk
          FROM documents)"""
    s"""WITH $bucketed,
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk < 80)", "te")},
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk >= 90)", "ee")},
       es AS (SELECT doc_id, count(*) AS n_sh FROM ee GROUP BY doc_id),
       inter AS (
         SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS i
         FROM ee e JOIN te t ON e.shingle = t.shingle
         GROUP BY 1, 2)
       SELECT eval_id, train_id, i / es.n_sh AS coverage
       FROM inter JOIN es ON inter.eval_id = es.doc_id
       WHERE i / es.n_sh >= $ContamTau"""
  }

  /** Bloom sizing: 1024 lanes x 63 usable bits = 64512 bits. The sf0.01 eval bucket sets
    * ~3k distinct shingles x 3 probes → ~13% fill, FP ≈ 0.13³ ≈ 0.2%;
    * at larger eval sets `lanes` scales linearly (it is the one knob).
    */
  private val BloomLanes = 1024
  private val BloomProbes = 3

  private def dedupBloom(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    Dedup.bloomContamination(
      docs.where(bucket < 80), docs.where(bucket >= 90),
      "doc_id", "text", BloomLanes, BloomProbes, ContamTau)
  }

  /** Twin of Dedup.bloomContamination: identical double-hash probe
    * positions and per-lane bit_or bitset, so every false positive
    * reproduces bit-for-bit.
    */
  private lazy val dedupBloomSql = {
    val m = BloomLanes.toLong * 63L
    val k = BloomProbes
    def posOf(sid: String) = s"(($sid % $m) + r.i * (1 + $sid % ${m - 1})) % $m"
    s"""WITH b AS (SELECT doc_id, text,
            ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS bk
          FROM documents),
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk < 80)", "te")},
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk >= 90)", "ee")},
       es AS (SELECT ${polyHashSql("shingle")} AS sid
              FROM (SELECT DISTINCT shingle FROM ee)),
       ep AS (SELECT ${posOf("sid")} AS pos
              FROM es CROSS JOIN range(0, $k) r(i)),
       bloom AS (SELECT pos // 63 AS lane,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
                 FROM ep GROUP BY 1),
       ts AS (SELECT doc_id, shingle, ${polyHashSql("shingle")} AS sid FROM te),
       tp AS (SELECT doc_id, shingle, ${posOf("sid")} AS pos
              FROM ts CROSS JOIN range(0, $k) r(i)),
       tm AS (SELECT doc_id, shingle, pos // 63 AS lane,
                CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER) AS mask
              FROM tp),
       hit AS (SELECT doc_id, shingle
               FROM (SELECT t.doc_id, t.shingle, count(*) AS h
                     FROM tm t JOIN bloom USING (lane)
                     WHERE (t.mask & bloom.bits) = t.mask
                     GROUP BY 1, 2) g
               WHERE h = $k),
       sz AS (SELECT doc_id, count(*) AS n_sh FROM te GROUP BY 1),
       nh AS (SELECT doc_id, count(*) AS n_hit FROM hit GROUP BY 1)
       SELECT sz.doc_id, CAST(n_sh AS BIGINT) AS n_sh,
              CAST(n_hit AS BIGINT) AS n_hit, n_hit / n_sh AS coverage
       FROM sz JOIN nh USING (doc_id)
       WHERE n_hit / n_sh >= $ContamTau"""
  }

  /** MEASURED FALSE-POSITIVE RATE of the bloom decontamination filter —
    * the audit that turns "bloom FP ≈ 0.2% (sizing comment)" into a
    * measured number: every DISTINCT train shingle is probed against
    * the eval bitset AND exactly checked against the eval shingle set;
    * fpr = bloom-hits among true non-members / non-members. Also emits
    * the realized fill and fill^k, the standard FPR estimate off the
    * measured fill (a polyHash collision counts as a hit — correctly:
    * it IS part of the filter's error). One row; the filter's `lanes`
    * knob is tuned against exactly this number at 100 TB.
    */
  private def dedupBloomFpr(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val m = BloomLanes.toLong * 63L
    val k = BloomProbes
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    def sh(df: DataFrame): DataFrame =
      Dedup.shingleEdges(df, "doc_id", "text").select("shingle").distinct()
    val trainSh = sh(docs.where(bucket < 80))
      .withColumn("sid", Dedup.polyHash(col("shingle"))).localCheckpoint()
    val evalSh = sh(docs.where(bucket >= 90))
      .withColumn("sid", Dedup.polyHash(col("shingle"))).localCheckpoint()
    def probes(df: DataFrame): DataFrame = df
      .withColumn("__i", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("__pos",
        (col("sid") % m + col("__i") * (col("sid") % (m - 1) + lit(1L))) % m)
      .withColumn("lane", expr("__pos div 63"))
      .withColumn("mask",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(__pos % 63 AS INT))"))
    val bloom = probes(evalSh).groupBy("lane")
      .agg(expr("bit_or(mask)").as("bits"))
    val hit = probes(trainSh)
      .join(broadcast(bloom), Seq("lane"))
      .where(col("bits").bitwiseAND(col("mask")) === col("mask"))
      .groupBy("shingle").agg(count(lit(1)).as("__h"))
      .where(col("__h") === k).select("shingle")
    val fill = bloom.agg(sum(expr("bit_count(bits)")).as("n_bits_set"))
    trainSh
      .join(hit.withColumn("__hit", lit(1)), Seq("shingle"), "left")
      .join(evalSh.select(col("shingle"), lit(1).as("__mem")),
        Seq("shingle"), "left")
      .agg(count(lit(1)).as("n_probed"),
        sum(coalesce(col("__mem"), lit(0))).cast("long").as("n_member"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
        sum(when(col("__hit") === 1 && col("__mem").isNull, 1).otherwise(0))
          .cast("long").as("n_fp"))
      .crossJoin(broadcast(fill))
      .select(col("n_probed"), col("n_member"), col("n_hit"), col("n_fp"),
        round(col("n_fp") / (col("n_probed") - col("n_member")), 6)
          .as("fpr"),
        col("n_bits_set"),
        round(pow(col("n_bits_set") / lit(m.toDouble), k), 6)
          .as("fpr_est"))
  }

  private lazy val dedupBloomFprSql = {
    val m = BloomLanes.toLong * 63L
    val k = BloomProbes
    def posOf(sid: String) = s"(($sid % $m) + r.i * (1 + $sid % ${m - 1})) % $m"
    s"""WITH b AS (SELECT doc_id, text,
            ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS bk
          FROM documents),
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk < 80)", "te")},
       ${edgesSqlFrom("(SELECT doc_id, text FROM b WHERE bk >= 90)", "ee")},
       tsh AS (SELECT shingle, ${polyHashSql("shingle")} AS sid
               FROM (SELECT DISTINCT shingle FROM te)),
       esh AS (SELECT shingle, ${polyHashSql("shingle")} AS sid
               FROM (SELECT DISTINCT shingle FROM ee)),
       ep AS (SELECT ${posOf("sid")} AS pos
              FROM esh CROSS JOIN range(0, $k) r(i)),
       bloom AS (SELECT pos // 63 AS lane,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER)) AS bits
                 FROM ep GROUP BY 1),
       fill AS (SELECT CAST(sum(bit_count(bits)) AS BIGINT) AS n_bits_set
                FROM bloom),
       tp AS (SELECT shingle, ${posOf("sid")} AS pos
              FROM tsh CROSS JOIN range(0, $k) r(i)),
       hit AS (SELECT shingle FROM (
                 SELECT t.shingle, count(*) AS h
                 FROM (SELECT shingle, pos // 63 AS lane,
                         CAST(1 AS BIGINT) << CAST(pos % 63 AS INTEGER) AS mask
                       FROM tp) t
                 JOIN bloom USING (lane)
                 WHERE (t.mask & bloom.bits) = t.mask
                 GROUP BY 1) g
               WHERE h = $k),
       agg AS (
         SELECT CAST(count(*) AS BIGINT) AS n_probed,
                CAST(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_member,
                CAST(sum(CASE WHEN h.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hit,
                CAST(sum(CASE WHEN h.shingle IS NOT NULL AND e.shingle IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_fp
         FROM tsh t
         LEFT JOIN hit h ON h.shingle = t.shingle
         LEFT JOIN esh e ON e.shingle = t.shingle)
       SELECT n_probed, n_member, n_hit, n_fp,
              round(n_fp / (n_probed - n_member), 6) AS fpr,
              n_bits_set,
              round(pow(n_bits_set / ${m.toDouble}, $k), 6) AS fpr_est
       FROM agg CROSS JOIN fill"""
  }

  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d), "doc_id", "text")

  private val dedupExactSql =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
       FROM documents GROUP BY text"""

  private val JaccardTau = 0.5

  private def dedupJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, d), "doc_id", "text", JaccardTau)

  private val dedupJaccardSql =
    s"""WITH $edgesSql, $sizesSql,
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM edges a JOIN edges b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       ${verifySql(JaccardTau)}"""

  /** Top-k TF-IDF signature cosine: k=5 keeps the inverted index at 5
    * entries/doc; tau=0.9 keeps only topically-near-identical pairs.
    * Integer-grid weights make every sum exact (see
    * Dedup.tfidfCosinePairs).
    */
  private val TfidfCosK = 5
  private val TfidfCosTau = 0.9
  private val TfidfCosGrid = 10000L

  private def dedupTfidfCos(s: SparkSession, d: String): DataFrame =
    Dedup.tfidfCosinePairs(Tables.documents(s, d), "doc_id", "text",
      TfidfCosK, TfidfCosTau, TfidfCosGrid)

  private val dedupTfidfCosSql =
    s"""WITH terms AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       tfs AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
       dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY 1),
       sc AS (SELECT doc_id, term,
                round(tf * ln((SELECT count(*) FROM documents) / df), 6) AS tfidf
              FROM tfs JOIN dfs USING (term)),
       sig AS (SELECT doc_id, term,
                 CAST(round(tfidf * $TfidfCosGrid, 0) AS BIGINT) AS wq
               FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                       ORDER BY tfidf DESC, term ASC) AS rnk
                     FROM sc) r
               WHERE rnk <= $TfidfCosK AND tfidf > 0),
       norms AS (SELECT doc_id, sum(wq * wq) AS nsq FROM sig GROUP BY 1),
       dots AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wq * b.wq) AS dot
                FROM sig a JOIN sig b ON a.term = b.term AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(dot / sqrt(CAST(na.nsq AS DOUBLE) * nb.nsq), 6) AS cos_sim
       FROM dots JOIN norms na ON doc_a = na.doc_id
       JOIN norms nb ON doc_b = nb.doc_id
       WHERE round(dot / sqrt(CAST(na.nsq AS DOUBLE) * nb.nsq), 6) >= $TfidfCosTau"""

  /** Overlap-coefficient threshold: high on purpose — containment ~1
    * means one doc's shingle set sits (almost) wholly inside the other's,
    * the quote-inclusion case Jaccard misses.
    */
  private val ContainTau = 0.8

  private def dedupContain(s: SparkSession, d: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text", ContainTau)

  private val dedupContainSql =
    s"""WITH $edgesSql, $sizesSql,
       inter AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM edges a JOIN edges b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT doc_a, doc_b, i / least(sa.n_sh, sb.n_sh) AS containment
       FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       JOIN sizes sb ON doc_b = sb.doc_id
       WHERE i / least(sa.n_sh, sb.n_sh) >= $ContainTau"""

  /** DF cap for the scale-path Jaccard: candidate generation skips
    * shingles in > JaccardMaxDf docs (verification stays exact).
    */
  private val JaccardMaxDf = 20

  private def dedupJaccardCapped(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairsCapped(Tables.documents(s, d), "doc_id", "text",
      JaccardTau, JaccardMaxDf)

  private val dedupJaccardCappedSql =
    s"""WITH $edgesSql, $sizesSql,
       rare AS (
         SELECT shingle FROM edges GROUP BY shingle
         HAVING count(*) <= $JaccardMaxDf),
       re AS (SELECT doc_id, shingle FROM edges JOIN rare USING (shingle)),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM re a JOIN re b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       ${verifySql(JaccardTau)}"""

  /** Verbatim spans: 4-gram diagonals, spans >= 8 tokens, df cap 100
    * (the jaccardPairsCapped knob on the positional index).
    */
  private val SpanGramN = 4
  private val SpanMin = 8
  private val SpanMaxDf = 100

  private def dedupSpans(s: SparkSession, d: String): DataFrame =
    Dedup.verbatimSpans(Tables.documents(s, d), "doc_id", "text",
      SpanGramN, SpanMin, SpanMaxDf)

  /** Twin of Dedup.verbatimSpans: parallel-unnest positional grams, the
    * same df cap, and the identical pa - row_number() diagonal-run
    * grouping.
    */
  private val dedupSpansSql =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       g AS (SELECT doc_id,
               unnest(range(0, len(ws) - $SpanGramN + 1)) AS pos,
               unnest(list_transform(range(0, len(ws) - $SpanGramN + 1),
                  i -> array_to_string(list_slice(ws, i + 1, i + $SpanGramN), ' '))) AS gram
             FROM t WHERE len(ws) >= $SpanGramN),
       rare AS (SELECT gram FROM g GROUP BY gram HAVING count(*) <= $SpanMaxDf),
       rg AS (SELECT doc_id, pos, g.gram FROM g JOIN rare USING (gram)),
       sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
                     a.pos - b.pos AS diag
              FROM rg a JOIN rg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
       r AS (SELECT doc_a, doc_b, diag, pa,
               pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
             FROM sh),
       runs AS (SELECT doc_a, doc_b, diag, grp, count(*) AS run FROM r GROUP BY 1, 2, 3, 4)
       SELECT doc_a, doc_b, CAST(max(run + $SpanGramN - 1) AS BIGINT) AS max_span,
              CAST(sum(run) AS BIGINT) AS n_shared_grams
       FROM runs GROUP BY 1, 2 HAVING max(run + $SpanGramN - 1) >= $SpanMin"""

  private val MinhashPerms = 16
  private val MinhashRows = 2
  private val MinhashTau = 0.8

  private def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)

  /** The full MinHash CTE chain (edges .. candidate pairs) over `src`. */
  private def minhashCtesSql(src: String) =
    s"""${edgesSqlFrom(src)}, $sizesSql,
       $polyIdsSql,
       sig AS (
         SELECT doc_id, j, min(((37 * j + 11) * sid + 101 * j + 7) % ${Dedup.MinhashMod}) AS minh
         FROM ids, range($MinhashPerms) t(j) GROUP BY doc_id, j),
       buckets AS (
         SELECT doc_id, j // $MinhashRows AS band,
                string_agg(minh::VARCHAR, ',' ORDER BY j) AS bucket
         FROM sig GROUP BY doc_id, band),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM buckets a JOIN buckets b
           ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)"""

  private val dedupMinhashSql =
    s"""WITH ${minhashCtesSql("documents")},
       ${verifySql(MinhashTau)}"""

  /** Oracle for the XxHash (production-mode) LSH: the EXACT pair set at
    * the same threshold, candidates off the inverted index with no
    * banding. XxHash signatures are not SQL-expressible, so the gate
    * asserts something STRONGER than a pipeline restatement: that the
    * production path's verified output equals exact truth — i.e. band
    * recall is 100% at this operating point (16 perms, r=2, τ=0.8;
    * measured exact at sf0.001/0.01/0.1, and any future recall miss
    * fails the gate loudly instead of hiding in a rows-only check). The
    * raw XxHash signature values stay spec-asserted (DedupSpec) and
    * determinism-audited.
    */
  private val dedupMinhashFastSql =
    s"""WITH $edgesSql, $sizesSql,
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM edges a JOIN edges b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       ${verifySql(MinhashTau)}"""

  /** The rowsPerBand ladder of the LSH band-sweep (bands = 16/r): r=1 is
    * the loosest bucketing (most candidates, highest recall), r=4 the
    * tightest — the cost/recall operating points a deployment chooses
    * between.
    */
  private val BandLadder = Seq(1, 2, 4)

  private def dedupBandSweep(s: SparkSession, d: String): DataFrame =
    Dedup.minhashBandSweep(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, BandLadder, MinhashTau, Dedup.PolyHash)

  /** Twin of Dedup.minhashBandSweep: one shared signature CTE, one truth
    * CTE (exact all-pairs Jaccard >= tau off the inverted index), then a
    * bucket/candidate/hit CTE triple per ladder point and one output row
    * each via scalar-subquery counts.
    */
  private lazy val dedupBandSweepSql = {
    val bands = BandLadder.map { r =>
      s"""bkt$r AS (
           SELECT doc_id, j // $r AS band,
                  string_agg(minh::VARCHAR, ',' ORDER BY j) AS bucket
           FROM sig GROUP BY doc_id, band),
         cand$r AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bkt$r a JOIN bkt$r b
             ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         hit$r AS (SELECT doc_a, doc_b FROM cand$r
                   INTERSECT SELECT doc_a, doc_b FROM truth)"""
    }.mkString(",\n")
    val pts = BandLadder.map { r =>
      s"""SELECT $r AS rows_per_band, ${MinhashPerms / r} AS n_bands,
             (SELECT CAST(count(*) AS BIGINT) FROM cand$r) AS n_cand,
             (SELECT CAST(count(*) AS BIGINT) FROM hit$r) AS n_pairs,
             round((SELECT count(*) FROM hit$r) * 1.0 /
                   (SELECT count(*) FROM truth), 6) AS pair_recall"""
    }.mkString("\nUNION ALL\n")
    s"""WITH ${edgesSqlFrom("documents")}, $sizesSql,
       $polyIdsSql,
       sig AS (
         SELECT doc_id, j, min(((37 * j + 11) * sid + 101 * j + 7) % ${Dedup.MinhashMod}) AS minh
         FROM ids, range($MinhashPerms) t(j) GROUP BY doc_id, j),
       ti AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM edges a JOIN edges b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       truth AS (
         SELECT doc_a, doc_b
         FROM ti JOIN sizes sa ON doc_a = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id
         WHERE i / (sa.n_sh + sb.n_sh - i) >= $MinhashTau),
       $bands
       $pts"""
  }

  /** MinHash estimator-error audit (Dedup.minhashEstimateAudit): per
    * band-sharing candidate pair, est = matching perms / numPerm vs the
    * exact Jaccard — the sketch-quality audit behind the numPerm choice.
    */
  private def dedupMinhashEst(s: SparkSession, d: String): DataFrame =
    Dedup.minhashEstimateAudit(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, MinhashRows, Dedup.PolyHash)

  private lazy val dedupMinhashEstSql =
    s"""WITH ${minhashCtesSql("documents")},
       mm AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         FROM sig a JOIN sig b
           ON a.j = b.j AND a.minh = b.minh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       ti AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM edges a JOIN edges b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2)
       SELECT c.doc_a, c.doc_b,
              round(coalesce(m, 0) / $MinhashPerms.0, 6) AS est_jaccard,
              round(coalesce(i, 0) / (sa.n_sh + sb.n_sh - coalesce(i, 0)), 6) AS jaccard,
              round(abs(coalesce(m, 0) / $MinhashPerms.0 -
                        coalesce(i, 0) / (sa.n_sh + sb.n_sh - coalesce(i, 0))), 6) AS abs_err
       FROM cand c
       LEFT JOIN mm ON c.doc_a = mm.doc_a AND c.doc_b = mm.doc_b
       LEFT JOIN ti ON c.doc_a = ti.doc_a AND c.doc_b = ti.doc_b
       JOIN sizes sa ON c.doc_a = sa.doc_id
       JOIN sizes sb ON c.doc_b = sb.doc_id"""

  /** Estimate-threshold ladder for the PR curve, in matching-perm units
    * (k/16): integer compares end to end.
    */
  private val PrCurveKs = Seq(6, 8, 10, 12, 14)

  /** MinHash operating-point curve (Dedup.minhashPrCurve): P/R/F1 of
    * {candidates with ≥ k matching perms} against the exact-Jaccard
    * ≥ 0.8 truth, k swept over the ladder — recall includes the pairs
    * banding never surfaced (the candidate-generation miss floor).
    */
  private def dedupPrCurve(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPrCurve(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, MinhashRows, 80, PrCurveKs, Dedup.PolyHash)

  private lazy val dedupPrCurveSql =
    s"""WITH ${minhashCtesSql("documents")},
       mm AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS m
         FROM sig a JOIN sig b
           ON a.j = b.j AND a.minh = b.minh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       ti AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         FROM edges a JOIN edges b
           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       tt AS (
         SELECT ti.doc_a, ti.doc_b,
                CASE WHEN i * 100 >= 80 * (sa.n_sh + sb.n_sh - i)
                     THEN 1 ELSE 0 END AS is_truth
         FROM ti JOIN sizes sa ON ti.doc_a = sa.doc_id
                 JOIN sizes sb ON ti.doc_b = sb.doc_id),
       tr AS (SELECT CAST(sum(is_truth) AS BIGINT) AS n_truth FROM tt),
       ce AS (
         SELECT c.doc_a, c.doc_b, coalesce(m, 0) AS m,
                coalesce(is_truth, 0) AS is_truth
         FROM cand c LEFT JOIN mm USING (doc_a, doc_b)
                     LEFT JOIN tt USING (doc_a, doc_b)),
       sw AS (
         SELECT k, CAST(count(*) AS BIGINT) AS n_det,
                CAST(sum(is_truth) AS BIGINT) AS n_hit
         FROM ce, (SELECT unnest([${PrCurveKs.mkString(", ")}]) AS k) ks
         WHERE m >= k GROUP BY k)
       SELECT round(k / $MinhashPerms.0, 4) AS t, n_det, n_hit, n_truth,
              round(n_hit / n_det, 6) AS prec,
              round(n_hit / n_truth, 6) AS rec,
              round(2 * n_hit / (n_det + n_truth), 6) AS f1
       FROM sw CROSS JOIN tr"""

  /** One side of the bipartite incremental chain: edges → polyhash ids →
    * wide signatures → band buckets, all CTEs prefixed `$p`.
    */
  private def minhashSideCtes(src: String, p: String) =
    s"""${edgesSqlFrom(src, s"${p}e")},
       ${p}ids AS (SELECT doc_id, ${polyHashSql("shingle")} AS sid FROM ${p}e),
       ${p}sig AS (
         SELECT doc_id, j, min(((37 * j + 11) * sid + 101 * j + 7) % ${Dedup.MinhashMod}) AS minh
         FROM ${p}ids, range($MinhashPerms) t(j) GROUP BY doc_id, j),
       ${p}b AS (
         SELECT doc_id, j // $MinhashRows AS band,
                string_agg(minh::VARCHAR, ',' ORDER BY j) AS bucket
         FROM ${p}sig GROUP BY doc_id, band)"""

  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    Dedup.incrementalMinhashDups(
      docs.where(bucket < 80), docs.where(bucket >= 80 && bucket < 90),
      "doc_id", "text", MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
  }

  /** The PERSIST-AND-PROBE round of the daily-crawl loop: the existing
    * side's band index + shingle edges are WRITTEN to parquet
    * (Dedup.writeMinhashIndex) and re-read before the incoming batch
    * probes them — index build and probe run as separate jobs over
    * durable state, exactly as a daily pipeline does. Results are
    * identical to ext_dedup_incremental (the index round-trips
    * losslessly), so the same oracle gates both.
    */
  private def dedupIncrPersist(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    val path = scratchPath(s, "minhash_idx", d)
    Dedup.writeMinhashIndex(docs.where(bucket < 80), "doc_id", "text",
      MinhashPerms, MinhashRows, Dedup.PolyHash, path)
    Dedup.probeMinhashIndex(path, docs.where(bucket >= 80 && bucket < 90),
      "doc_id", "text", MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
  }

  /** BUCKETED persist-and-probe round (Dedup.writeMinhashIndexBucketed):
    * the band index saved bucketBy(band, k0..) — the probe join's exact
    * keys — so the daily probe plans with ZERO Exchange on the stored
    * side (ScaleSpec pins it; the plain-parquet form re-shuffles the
    * whole accumulated index every day). Results ≡ ext_dedup_incr_persist,
    * so the same oracle gates it.
    */
  private def dedupIncrBucketed(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    val path = scratchPath(s, "minhash_bidx", d)
    val table = "graft_minhash_bidx_" + Integer.toUnsignedString(d.hashCode)
    Dedup.writeMinhashIndexBucketed(docs.where(bucket < 80), "doc_id", "text",
      MinhashPerms, MinhashRows, Dedup.PolyHash, table, path, 8)
    Dedup.probeMinhashIndexBucketed(table, path,
      docs.where(bucket >= 80 && bucket < 90), "doc_id", "text",
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
  }

  /** TWO-DAY index lifecycle: write(train) → append(day-1 batch) →
    * probe(day-2 batch) against the grown index — the full daily-crawl
    * loop including the admission append (Dedup.appendMinhashIndex).
    * Oracle = the bipartite chain with existing = train ∪ day-1.
    */
  private def dedupIncr2(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val docs = Tables.documents(s, d)
    val path = scratchPath(s, "minhash_idx2", d)
    Dedup.writeMinhashIndex(docs.where(bucket < 80), "doc_id", "text",
      MinhashPerms, MinhashRows, Dedup.PolyHash, path)
    Dedup.appendMinhashIndex(docs.where(bucket >= 80 && bucket < 90),
      "doc_id", "text", MinhashPerms, MinhashRows, Dedup.PolyHash, path)
    Dedup.probeMinhashIndex(path, docs.where(bucket >= 90), "doc_id", "text",
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
  }

  private lazy val dedupIncr2Sql =
    s"""WITH bkt AS (SELECT doc_id, text,
            ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS bk
          FROM documents),
       ${minhashSideCtes("(SELECT doc_id, text FROM bkt WHERE bk < 90)", "o")},
       ${minhashSideCtes("(SELECT doc_id, text FROM bkt WHERE bk >= 90)", "n")},
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM nb n JOIN ob o ON n.band = o.band AND n.bucket = o.bucket),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS i
         FROM cand c JOIN ne en ON c.new_id = en.doc_id
         JOIN oe eo ON c.old_id = eo.doc_id AND en.shingle = eo.shingle
         GROUP BY 1, 2),
       szn AS (SELECT doc_id, count(*) AS n_sh FROM ne GROUP BY 1),
       szo AS (SELECT doc_id, count(*) AS n_sh FROM oe GROUP BY 1)
       SELECT new_id, old_id, i / (szn.n_sh + szo.n_sh - i) AS jaccard
       FROM inter JOIN szn ON inter.new_id = szn.doc_id
       JOIN szo ON inter.old_id = szo.doc_id
       WHERE i / (szn.n_sh + szo.n_sh - i) >= $MinhashTau"""

  /** Twin of Dedup.incrementalMinhashDups over the deterministic split:
    * existing = train bucket, incoming = the middle (val) bucket.
    */
  private lazy val dedupIncrementalSql =
    s"""WITH bkt AS (SELECT doc_id, text,
            ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS bk
          FROM documents),
       ${minhashSideCtes("(SELECT doc_id, text FROM bkt WHERE bk < 80)", "o")},
       ${minhashSideCtes("(SELECT doc_id, text FROM bkt WHERE bk >= 80 AND bk < 90)", "n")},
       cand AS (
         SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
         FROM nb n JOIN ob o ON n.band = o.band AND n.bucket = o.bucket),
       inter AS (
         SELECT c.new_id, c.old_id, count(*) AS i
         FROM cand c JOIN ne en ON c.new_id = en.doc_id
         JOIN oe eo ON c.old_id = eo.doc_id AND en.shingle = eo.shingle
         GROUP BY 1, 2),
       szn AS (SELECT doc_id, count(*) AS n_sh FROM ne GROUP BY 1),
       szo AS (SELECT doc_id, count(*) AS n_sh FROM oe GROUP BY 1)
       SELECT new_id, old_id, i / (szn.n_sh + szo.n_sh - i) AS jaccard
       FROM inter JOIN szn ON inter.new_id = szn.doc_id
       JOIN szo ON inter.old_id = szo.doc_id
       WHERE i / (szn.n_sh + szo.n_sh - i) >= $MinhashTau"""

  private val SimhashMaxHamming = 3

  private def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), "doc_id", "text",
      SimhashMaxHamming, Dedup.PolyHash)

  private val dedupSimhashSql = {
    val bitSums = (0 until Dedup.SimhashBits)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val fp = (0 until Dedup.SimhashBits)
      .map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE CAST(0 AS BIGINT) END")
      .mkString(" + ")
    s"""WITH $edgesSql,
       $polyIdsSql,
       hs AS (
         SELECT doc_id, (${Dedup.SimhashA} * sid + ${Dedup.SimhashB}) % ${Dedup.MinhashMod} AS h
         FROM ids),
       bitsums AS (SELECT doc_id, $bitSums FROM hs GROUP BY doc_id),
       fps AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bitsums),
       banded AS (
         SELECT doc_id, simhash, bb, (simhash >> (bb * 8)) & 255 AS bkey
         FROM fps, range(4) t(bb)),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.simhash AS fa, b.simhash AS fb
         FROM banded a JOIN banded b
           ON a.bb = b.bb AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS INTEGER) AS hamming
       FROM cand WHERE bit_count(xor(fa, fb)) <= $SimhashMaxHamming"""
  }

  /** Detector P/R/F1 vs exact truth (see Dedup.detectorPrf). The truth
    * for minhash/simhash is exact Jaccard at THEIR threshold
    * (MinhashTau); the capped detector evaluates against its own
    * (JaccardTau). F1 = 2·hit/(det+truth) stays integer-derived.
    */
  private def dedupPrf(s: SparkSession, d: String): DataFrame =
    Dedup.detectorPrf(Tables.documents(s, d), "doc_id", "text",
      JaccardTau, MinhashPerms, MinhashRows, MinhashTau,
      SimhashMaxHamming, JaccardMaxDf, Dedup.PolyHash)

  /** Exact-Jaccard truth at the MinHash operating threshold — the
    * all-candidate template of dedupJaccardSql with the higher tau.
    */
  private val jaccardHighSql =
    s"""WITH $edgesSql, $sizesSql,
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM edges a JOIN edges b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
       ${verifySql(MinhashTau)}"""

  private lazy val dedupPrfSql =
    s"""WITH t5 AS (SELECT doc_a, doc_b FROM ($dedupJaccardSql) x),
       t8 AS (SELECT doc_a, doc_b FROM ($jaccardHighSql) x),
       mh AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) x),
       sh AS (SELECT doc_a, doc_b FROM ($dedupSimhashSql) x),
       cp AS (SELECT doc_a, doc_b FROM ($dedupJaccardCappedSql) x),
       r AS (
         SELECT 'minhash' AS detector,
                (SELECT count(*) FROM t8) AS n_truth,
                (SELECT count(*) FROM mh) AS n_det,
                (SELECT count(*) FROM mh JOIN t8 USING (doc_a, doc_b)) AS n_hit
         UNION ALL
         SELECT 'simhash',
                (SELECT count(*) FROM t8),
                (SELECT count(*) FROM sh),
                (SELECT count(*) FROM sh JOIN t8 USING (doc_a, doc_b))
         UNION ALL
         SELECT 'jaccard_capped',
                (SELECT count(*) FROM t5),
                (SELECT count(*) FROM cp),
                (SELECT count(*) FROM cp JOIN t5 USING (doc_a, doc_b)))
       SELECT detector, CAST(n_truth AS BIGINT) AS n_truth,
              CAST(n_det AS BIGINT) AS n_det, CAST(n_hit AS BIGINT) AS n_hit,
              round(n_hit * 1.0 / n_det, 6) AS prec,
              round(n_hit * 1.0 / n_truth, 6) AS rec,
              round(2.0 * n_hit / (n_det + n_truth), 6) AS f1
       FROM r"""

  /** K-ANONYMITY audit — the pre-release privacy gate: group the table
    * by its quasi-identifier combination and report, for each policy
    * threshold k, how many equivalence classes (and what fraction of
    * rows) would violate k-anonymity if published. One map-side-
    * combinable aggregate on the quasi-id keys; the threshold sweep
    * explodes k literals over the |groups|-sized frame (never the
    * rows), so the sweep is free at any scale.
    */
  private val KanonKs = Seq(2, 5, 10, 20)

  private def privacyKanon(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .select(explode(array(KanonKs.map(lit): _*)).as("k"), col("n"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < col("k"), 1).otherwise(0)).as("n_viol_groups"),
        sum(when(col("n") < col("k"), col("n")).otherwise(0L)).as("n_viol_rows"),
        sum(col("n")).as("n_rows"))
      .select(col("k"), col("n_groups"), col("n_viol_groups"),
        col("n_viol_rows"),
        round(col("n_viol_rows") / col("n_rows"), 6).as("viol_frac"))

  private val privacyKanonSql =
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
                 FROM customer GROUP BY 1, 2),
       e AS (SELECT k, n FROM g,
             (SELECT unnest([${KanonKs.mkString(", ")}]) AS k) ks)
       SELECT k, count(*) AS n_groups,
              CAST(sum(CASE WHEN n < k THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
              CAST(sum(CASE WHEN n < k THEN n ELSE 0 END) AS BIGINT) AS n_viol_rows,
              round(sum(CASE WHEN n < k THEN n ELSE 0 END) * 1.0 / sum(n), 6) AS viol_frac
       FROM e GROUP BY 1"""

  /** l-diversity audit beside the k-anonymity sweep: same quasi-ID
    * grid, sensitive attribute = the account-balance 1000-band; a group
    * with fewer than l distinct sensitive values lets an attacker infer
    * the band from the quasi-IDs alone.
    */
  private val LdivLs = Seq(2, 4, 6)

  private def privacyLdiv(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(countDistinct(expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")).as("n_sens"),
        count(lit(1)).as("n"))
      .select(explode(array(LdivLs.map(lit): _*)).as("l"), col("n_sens"), col("n"))
      .groupBy("l")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n_sens") < col("l"), 1).otherwise(0)).as("n_viol_groups"),
        sum(when(col("n_sens") < col("l"), col("n")).otherwise(0L)).as("n_viol_rows"),
        sum(col("n")).as("n_rows"))
      .select(col("l"), col("n_groups"), col("n_viol_groups"),
        col("n_viol_rows"),
        round(col("n_viol_rows") / col("n_rows"), 6).as("viol_frac"))

  private val privacyLdivSql =
    s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
                 count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS n_sens,
                 count(*) AS n
               FROM customer GROUP BY 1, 2),
       e AS (SELECT l, n_sens, n FROM g,
             (SELECT unnest([${LdivLs.mkString(", ")}]) AS l) ls)
       SELECT l, count(*) AS n_groups,
              CAST(sum(CASE WHEN n_sens < l THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
              CAST(sum(CASE WHEN n_sens < l THEN n ELSE 0 END) AS BIGINT) AS n_viol_rows,
              round(sum(CASE WHEN n_sens < l THEN n ELSE 0 END) * 1.0 / sum(n), 6) AS viol_frac
       FROM e GROUP BY 1"""

  /** t-CLOSENESS audit completing the k-anonymity / l-diversity
    * battery: per quasi-id class, the TOTAL-VARIATION distance between
    * the class's sensitive-band distribution and the GLOBAL one —
    * l-diversity counts distinct bands but is blind to a class where
    * 99% of rows share one band; t-closeness bounds how far any class's
    * distribution may drift from the corpus-wide base rate.
    *
    * Scale shape: ONE corpus aggregate to the (quasi-id, band) count
    * frame; the class margins, band margins, and total all RE-AGGREGATE
    * that small frame (never the rows), the class×band grid is a cross
    * join of two broadcast-sized margins, and the threshold sweep
    * explodes literals over the |classes|-sized frame.
    *
    * Determinism: TV compares are EXACT — the violation predicate is
    * cross-multiplied to BIGINTs (num·td > 2·tn·n_g·n, thresholds kept
    * as rationals tn/td), so no float ever decides a count; the only
    * float work is the reported max_tv / viol_frac, one division each,
    * rounded. Overflow headroom: num ≤ bands·n_g·n, so the BIGINT grid
    * holds to n_g·n ≈ 4e17 (≈ 6e8-row classes at a 6e8-row table);
    * beyond that swap the cross-products to decimal(38,0).
    */
  private val TcloseTs = Seq((1L, 5L), (3L, 10L), (1L, 2L))

  private def privacyTclose(s: SparkSession, d: String): DataFrame = {
    val band = expr("CAST(floor(c_acctbal / 1000) AS BIGINT)")
    // the compact (quasi-id, band) count frame is the ONLY corpus-sized
    // aggregate; localCheckpoint pins it so the four consumers below
    // (class margin, band margin, total, grid attach) re-read the tiny
    // frame instead of re-scanning customer per branch (ScaleSpec pins
    // scans == 1 — the ext_sketch_joinsize discipline)
    val gs = Tables.customer(s, d)
      .groupBy(col("c_nationkey"), col("c_mktsegment"), band.as("band"))
      .agg(count(lit(1)).as("cnt_gs"))
      .localCheckpoint()
    val g = gs.groupBy("c_nationkey", "c_mktsegment").agg(sum("cnt_gs").as("n_g"))
    val sb = gs.groupBy("band").agg(sum("cnt_gs").as("cnt_s"))
    val tot = gs.agg(sum("cnt_gs").as("n_tot"))
    val grid = g.crossJoin(broadcast(sb)).crossJoin(broadcast(tot))
      .join(gs, Seq("c_nationkey", "c_mktsegment", "band"), "left")
      .na.fill(0L, Seq("cnt_gs"))
    val perGroup = grid
      .groupBy("c_nationkey", "c_mktsegment", "n_g", "n_tot")
      .agg(sum(abs(col("cnt_gs") * col("n_tot") - col("cnt_s") * col("n_g")))
        .as("num"))
    val viol = col("num") * col("td") >
      lit(2L) * col("tn") * col("n_g") * col("n_tot")
    perGroup
      .withColumn("__t", explode(array(TcloseTs.map { case (tn, td) =>
        struct(lit(tn).as("tn"), lit(td).as("td")) }: _*)))
      .select(col("__t.tn").as("tn"), col("__t.td").as("td"),
        col("n_g"), col("n_tot"), col("num"))
      .groupBy("tn", "td")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(viol, 1).otherwise(0)).cast("long").as("n_viol_groups"),
        sum(when(viol, col("n_g")).otherwise(0L)).as("n_viol_rows"),
        sum(col("n_g")).as("n_rows"),
        max(round(col("num") / (lit(2.0) * col("n_g") * col("n_tot")), 6))
          .as("max_tv"))
      .select(round(col("tn") / col("td"), 2).as("t"),
        col("n_groups"), col("n_viol_groups"), col("n_viol_rows"),
        round(col("n_viol_rows") / col("n_rows"), 6).as("viol_frac"),
        col("max_tv"))
  }

  private val privacyTcloseSql = {
    val violSql = "num * td > 2 * tn * n_g * n_tot"
    val ts = TcloseTs.map { case (tn, td) => s"($tn, $td)" }.mkString(", ")
    s"""WITH gs AS (SELECT c_nationkey, c_mktsegment,
                  CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
                  CAST(count(*) AS BIGINT) AS cnt_gs
                FROM customer GROUP BY 1, 2, 3),
       g AS (SELECT c_nationkey, c_mktsegment, CAST(sum(cnt_gs) AS BIGINT) AS n_g
             FROM gs GROUP BY 1, 2),
       sb AS (SELECT band, CAST(sum(cnt_gs) AS BIGINT) AS cnt_s FROM gs GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt_gs) AS BIGINT) AS n_tot FROM gs),
       grid AS (SELECT g.c_nationkey, g.c_mktsegment, g.n_g, t.n_tot,
                       sb.band, sb.cnt_s, coalesce(gs.cnt_gs, 0) AS cnt_gs
                FROM g CROSS JOIN sb CROSS JOIN tot t
                LEFT JOIN gs ON gs.c_nationkey = g.c_nationkey
                            AND gs.c_mktsegment = g.c_mktsegment
                            AND gs.band = sb.band),
       pg AS (SELECT c_nationkey, c_mktsegment, n_g, n_tot,
                     CAST(sum(abs(cnt_gs * n_tot - cnt_s * n_g)) AS BIGINT) AS num
              FROM grid GROUP BY 1, 2, 3, 4),
       e AS (SELECT pg.*, ts.tn, ts.td
             FROM pg CROSS JOIN (VALUES $ts) ts(tn, td))
       SELECT round(tn / td, 2) AS t,
              CAST(count(*) AS BIGINT) AS n_groups,
              CAST(sum(CASE WHEN $violSql THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_groups,
              CAST(sum(CASE WHEN $violSql THEN n_g ELSE 0 END) AS BIGINT) AS n_viol_rows,
              round(sum(CASE WHEN $violSql THEN n_g ELSE 0 END) / sum(n_g), 6) AS viol_frac,
              max(round(num / (2.0 * n_g * n_tot), 6)) AS max_tv
       FROM e GROUP BY tn, td"""
  }

  /** Per-source unigram ENTROPY + type-token ratio — the lexical
    * diversity telemetry a corpus-mixing job reads next to the TV-drift
    * monitor: low entropy flags templated/boilerplate sources, low TTR
    * flags repetitive ones. entropy = ln N − (Σ c·ln c)/N from one
    * word-count aggregate; ONE corpus explode, map-side combinable.
    */
  private def corpusEntropy(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * log(col("c").cast("double"))).as("__clnc"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens").cast("double")) - col("__clnc") / col("n_tokens"), 4)
          .as("entropy"),
        round(col("n_types") / col("n_tokens"), 6).as("type_token_ratio"))

  private val corpusEntropySql =
    """WITH wc AS (
         SELECT source, w, count(*) AS c
         FROM (SELECT source, unnest(string_split(text, ' ')) AS w
               FROM documents) t
         GROUP BY 1, 2),
       agg AS (
         SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
                count(*) AS n_types, sum(c * ln(c)) AS clnc
         FROM wc GROUP BY 1)
       SELECT source, n_tokens, n_types,
              round(ln(n_tokens) - clnc / n_tokens, 4) AS entropy,
              round(n_types / n_tokens, 6) AS type_token_ratio
       FROM agg"""

  /** Per-source GINI CONCENTRATION of document lengths — the
    * token-mass inequality telemetry next to the entropy monitor: a
    * Gini near 1 says a handful of giant documents carry most of a
    * source's mass (sequence packing degrades, per-doc sampling quotas
    * misrepresent token shares), near 0 says uniform lengths.
    *
    * Scale shape: the textbook formula sorts every row per source; this
    * form aggregates to the (source, length, count) frame FIRST and
    * runs the rank arithmetic over distinct lengths only — positions
    * P+1..P+c of a c-sized tie all multiply the same length x, and
    * Σ 2·i over them is 2·c·P + c·(c+1), so 2·Σ i·x_i needs just the
    * running count P. The corpus-sized step is ONE map-side-combinable
    * aggregate; the window sorts the bounded distinct-length frame.
    *
    * Determinism: tie positions collapse algebraically (no tiebreak
    * column can matter), everything is BIGINT until the final
    * division, rounded at 6 dp.
    */
  private def corpusGini(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.documents(s, d)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, -1)
    cnt
      .withColumn("p", coalesce(sum(col("c")).over(w), lit(0L)))
      .groupBy("source")
      .agg(sum(col("c")).as("n_docs"),
        sum(col("n_chars") * col("c")).as("total_chars"),
        sum(col("n_chars") *
          (lit(2L) * col("c") * col("p") + col("c") * (col("c") + 1)))
          .as("__t1"))
      .select(col("source"), col("n_docs"), col("total_chars"),
        round((col("__t1") - (col("n_docs") + 1) * col("total_chars")) /
          (col("n_docs") * col("total_chars")), 6).as("gini"))
  }

  private val corpusGiniSql =
    """WITH vc AS (SELECT source, n_chars, CAST(count(*) AS BIGINT) AS c
                 FROM documents GROUP BY 1, 2),
       cum AS (SELECT source, n_chars, c,
                 coalesce(sum(c) OVER (PARTITION BY source ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
               FROM vc),
       g AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
               CAST(sum(n_chars * c) AS BIGINT) AS total_chars,
               CAST(sum(n_chars * (2 * c * p + c * (c + 1))) AS BIGINT) AS t1
             FROM cum GROUP BY 1)
       SELECT source, n_docs, total_chars,
              round((t1 - (n_docs + 1) * total_chars) /
                    (n_docs * total_chars), 6) AS gini
       FROM g"""

  /** DSIR-style hashed-unigram importance scores (Sampling.dsirScores):
    * target = the English slice, corpus = everything; log weight > 0
    * means "more target-like than average".
    */
  private val DsirBuckets = 1024

  private def corpusDsir(s: SparkSession, d: String): DataFrame =
    Sampling.dsirScores(Tables.documents(s, d), "doc_id", "text",
      col("lang") === "en", DsirBuckets)

  private val corpusDsirSql =
    s"""WITH w AS (SELECT doc_id, lang = 'en' AS t,
                 unnest(string_split(text, ' ')) AS w
               FROM documents),
       dw AS (SELECT doc_id, t, ${polyHashSql("w")} % $DsirBuckets AS hb,
                     count(*) AS cw
              FROM w GROUP BY 1, 2, 3),
       hist AS (SELECT hb, CAST(sum(cw) AS BIGINT) AS cc,
                  CAST(sum(CASE WHEN t THEN cw ELSE 0 END) AS BIGINT) AS ct
                FROM dw GROUP BY 1),
       tot AS (SELECT CAST(sum(cc) AS BIGINT) AS nc,
                      CAST(sum(ct) AS BIGINT) AS nt FROM hist),
       r AS (SELECT hb,
               ln((ct + 1) * 1.0 / (nt + $DsirBuckets)) -
               ln((cc + 1) * 1.0 / (nc + $DsirBuckets)) AS lr
             FROM hist, tot)
       SELECT doc_id, CAST(sum(cw) AS BIGINT) AS n_feats,
              round(sum(cw * lr), 4) AS dsir_score
       FROM dw JOIN r USING (hb) GROUP BY 1"""

  private val EmbCosTau = 0.4

  private def dedupEmbCos(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingCosinePairsSharded(Tables.embeddings(s, d), "vec_id", "embedding", EmbCosTau)

  private val dedupEmbCosSql =
    s"""WITH $vecsSql
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round($dotSql / (sqrt(a.nsq) * sqrt(b.nsq)), 6) AS cos_r
       FROM n a JOIN n b ON a.vec_id < b.vec_id
       WHERE $dotSql / (sqrt(a.nsq) * sqrt(b.nsq)) >= $EmbCosTau"""

  /** End-to-end corpus clean: MinHash near-dup pairs swept into a
    * surviving-document set (the operation a training pipeline actually
    * runs on its corpus).
    */
  /** Detector-consensus near-dup ENSEMBLE: production dedup rarely
    * trusts one detector — exact-Jaccard, MinHash-LSH, and SimHash each
    * miss differently (LSH banding has probabilistic recall, SimHash
    * quantizes, exact Jaccard needs a shared rare shingle to even
    * generate the candidate). The ensemble unions the three pair sets
    * and keeps pairs at least `EnsembleMinVotes` detectors agree on —
    * precision from consensus, recall still union-shaped. Composition
    * is free at scale: each detector is already inverted-index shaped,
    * and the vote aggregate runs over pair lists (tiny vs the corpus).
    */
  private val EnsembleMinVotes = 2

  private def dedupEnsemble(s: SparkSession, d: String): DataFrame =
    Dedup.ensemblePairs(Tables.documents(s, d), "doc_id", "text",
      JaccardTau, MinhashPerms, MinhashRows, MinhashTau,
      SimhashMaxHamming, EnsembleMinVotes, Dedup.PolyHash)

  private lazy val dedupEnsembleSql =
    s"""WITH votes AS (
         SELECT doc_a, doc_b FROM ($dedupJaccardSql) j
         UNION ALL SELECT doc_a, doc_b FROM ($dedupMinhashSql) m
         UNION ALL SELECT doc_a, doc_b FROM ($dedupSimhashSql) h)
       SELECT doc_a, doc_b, CAST(count(*) AS INTEGER) AS n_methods
       FROM votes GROUP BY 1, 2 HAVING count(*) >= $EnsembleMinVotes"""

  private def dedupSweep(s: SparkSession, d: String): DataFrame =
    Dedup.sweep(
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
      "doc_id",
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash))

  private lazy val dedupSweepSql =
    s"""WITH pairs AS ($dedupMinhashSql)
       SELECT doc_id, lang, source, n_chars FROM documents
       WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.doc_b = documents.doc_id)"""

  private val LshBands = 2
  private val LshPlanesPerBand = 2

  private def dedupEmbLsh(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingLshPairs(Tables.embeddings(s, d), "vec_id", "embedding",
      EmbCosTau, LshBands, LshPlanesPerBand, EmbDim)

  /** Sign-pattern bucket for band bb (planes bb*r .. bb*r + r-1). */
  private def bandBucketSql(bb: Int): String =
    (0 until LshPlanesPerBand).map { r =>
      val j = bb * LshPlanesPerBand + r
      val plane = (0 until EmbDim).map(dd => Similarity.planeCoef(j, dd, EmbDim))
        .mkString("[", ", ", "]")
      s"""CASE WHEN list_reduce(list_transform(range(1, len(vec) + 1),
            i -> vec[i] * ($plane)[i]), (x, y) -> x + y) > 0.0
          THEN CAST(${1L << r} AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
    }.mkString(" + ")

  private lazy val dedupEmbLshSql = {
    val bks = (0 until LshBands).map(bb => s"${bandBucketSql(bb)} AS bk$bb").mkString(", ")
    val anyBand = (0 until LshBands).map(bb => s"a.bk$bb = b.bk$bb").mkString(" OR ")
    s"""WITH $vecsSql,
       hb AS (SELECT vec_id, vec, nsq, $bks FROM n)
       SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              round($dotSql / (sqrt(a.nsq) * sqrt(b.nsq)), 6) AS cos_r
       FROM hb a JOIN hb b ON a.vec_id < b.vec_id AND ($anyBand)
       WHERE $dotSql / (sqrt(a.nsq) * sqrt(b.nsq)) >= $EmbCosTau"""
  }

  // ------------------------------------------------------------- similarity

  private val TopK = 5
  private val QueryMod = 50

  private def annQueries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).where(col("vec_id") % QueryMod === 0)

  private def annTopK(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK)

  private val annTopKSql =
    s"""WITH $vecsSql,
       scored AS (
         SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                $dotSql / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         FROM n a JOIN n b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""

  /** Retrieval impact of int8 storage (Similarity.int8RecallAtK):
    * asymmetric search over reconstructed corpus vectors, recall@k vs
    * the float truth — the compression-accuracy number.
    */
  private def annInt8Recall(s: SparkSession, d: String): DataFrame =
    Similarity.int8RecallAtK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK)

  /** Self-contained twin of the int8 asymmetric search: embQuantSql's
    * reconstruction chain feeding the standard top-k, wrapped by the
    * recall row against the brute-force truth.
    */
  private lazy val annInt8RecallSql = {
    val int8TopKSql =
      s"""WITH $vecsSql,
         rq AS (
           SELECT vec_id,
                  list_transform(range(1, len(vec) + 1), i -> qv[i] * scale) AS vrec
           FROM (
             SELECT vec_id, vec, scale,
               CASE WHEN scale = 0 THEN list_transform(vec, x -> 0)
                    ELSE list_transform(vec, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
               END AS qv
             FROM (
               SELECT vec_id, vec,
                 list_reduce(list_transform(vec, x -> abs(x)),
                   (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0 AS scale
               FROM v) s) q),
         rn AS (SELECT vec_id, vrec, ${listNormSq("vrec")} AS nrec FROM rq),
         scored AS (
           SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                  ${dotOf("a.vec", "b.vrec")} / (sqrt(a.nsq) * sqrt(b.nrec)) AS cosine
           FROM n a JOIN rn b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id)
         SELECT q_id, rnk, vec_b AS neighbor_id
         FROM (SELECT q_id, vec_b,
                 CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
               FROM scored) r
         WHERE rnk <= $TopK"""
    recallRowSql("int8", int8TopKSql)
  }

  private val EmbDim = 64

  private def annLsh(s: SparkSession, d: String): DataFrame =
    Similarity.lshTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, LshBands, LshPlanesPerBand, EmbDim)

  /** Banded twin of Similarity.lshTopK: candidates share ANY band's
    * bucket (an OR-condition join expresses the same union the Spark
    * side gets from posexplode + equi-join + distinct).
    */
  private lazy val annLshSql = {
    val bks = (0 until LshBands).map(bb => s"${bandBucketSql(bb)} AS bk$bb").mkString(", ")
    val anyBand = (0 until LshBands).map(bb => s"a.bk$bb = b.bk$bb").mkString(" OR ")
    s"""WITH $vecsSql,
       hb AS (SELECT vec_id, vec, nsq, $bks FROM n),
       scored AS (
         SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                $dotSql / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         FROM hb a JOIN hb b
           ON ($anyBand) AND a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  private val IvfCentroidEvery = 25

  private def annIvf(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, IvfCentroidEvery)

  private val annIvfSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val searchCos = s"${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       assign AS (
         SELECT vid, vec, nsq, cell FROM (
           SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn = 1),
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b, $searchCos AS cosine
         FROM assign q JOIN assign c
           ON q.cell = c.cell AND q.vid % $QueryMod = 0 AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  /** Multi-probe IVF (nprobe=2): each query searches its TWO nearest
    * cells — the standard recall knob; corpus assignment stays
    * single-cell so the candidate pair space stays unique.
    */
  private def annIvf2(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, IvfCentroidEvery, nprobe = 2)

  private val annIvf2Sql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val searchCos = s"${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       ranked AS (
         SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
         FROM n, cents c),
       assign AS (SELECT vid, vec, nsq, cell FROM ranked WHERE rn = 1),
       qassign AS (SELECT vid, vec, nsq, cell FROM ranked
                   WHERE rn <= 2 AND vid % $QueryMod = 0),
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b, $searchCos AS cosine
         FROM qassign q JOIN assign c ON q.cell = c.cell AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  /** Recall-vs-probes CURVE: recall@k of IVF at nprobe ∈ {1, 2, 4, 8}
    * against the brute-force truth — the tuning table an ANN deployment
    * reads to pick its operating point (each probe step multiplies
    * scanned candidates by ~P/previous-P; recall is monotone
    * non-decreasing in P because a query's candidate set only grows).
    * Completes the multi-probe story: ext_ann_ivf/ivf2 are single
    * operating points, this is the dial.
    */
  private val IvfProbeLadder = Seq(1, 2, 4, 8)

  private def annIvfProbes(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      IvfProbeLadder.map(p => s"p$p" ->
        Similarity.ivfTopK(corpus, q, "vec_id", "embedding", TopK,
          IvfCentroidEvery, nprobe = p)),
      TopK)
  }

  /** annIvf2Sql generalized to any probe count: query-side assignment
    * keeps the top-$p cells, corpus assignment stays single-cell.
    */
  private def annIvfProbeSql(p: Int): String = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val searchCos = s"${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       ranked AS (
         SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
         FROM n, cents c),
       assign AS (SELECT vid, vec, nsq, cell FROM ranked WHERE rn = 1),
       qassign AS (SELECT vid, vec, nsq, cell FROM ranked
                   WHERE rn <= $p AND vid % $QueryMod = 0),
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b, $searchCos AS cosine
         FROM qassign q JOIN assign c ON q.cell = c.cell AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  private lazy val annIvfProbesSql =
    IvfProbeLadder.map(p => recallRowSql(s"p$p", annIvfProbeSql(p)))
      .mkString("\nUNION ALL\n")

  /** GRAPH-BASED ANN, HNSW-lite (Similarity.graphTopK): deterministic
    * depth-2 navigable-graph search — entry level by id arithmetic,
    * border-crossing m-NN edges from a 2-cell bucketed build, fixed
    * beam-expansion rounds. Completes the ANN triad
    * (partition/quantize/graph).
    */
  private val HnswEntryEvery = 8
  private val HnswM = 8
  private val HnswBeam = 8
  private val HnswRounds = 3

  private def annHnsw(s: SparkSession, d: String): DataFrame =
    Similarity.graphTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, IvfCentroidEvery, HnswEntryEvery,
      HnswM, HnswBeam, HnswRounds)

  /** CTE-unrolled twin of Similarity.graphTopK (the CC/PageRank
    * discipline): edge build once, then per round f (frontier cut) →
    * nb (neighbor expand) → s (score) → p (visited pool, MATERIALIZED —
    * each p is referenced by both the next frontier and the next pool;
    * inlined, the chain re-plans 2^rounds edge builds — the PCA lesson).
    */
  private def annHnswSqlBeam(beam: Int, masked: Boolean = false,
      centsFilter: String = "TRUE"): String = {
    // masked = the probe-time tombstone filter of ext_ann_hnsw_delete:
    // edges were built on the FULL corpus (the stored structure), so the
    // mask applies AFTER the per-src rank cut — ef filters the stored
    // edge list, never rebuilds it on the surviving corpus.
    // centsFilter = ext_ann_hnsw_append's no-retrain pin: admission keeps
    // the STORED centroid set, so the oracle's rebuild restricts cents to
    // the write subset — a sneaky re-pick over the grown corpus would
    // hash-mismatch (the annIvfAppend discipline on the graph build).
    def keep(c: String) =
      if (masked) s"$c % $IvfDeleteMod <> $IvfDeleteRem" else "TRUE"
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val edgeCos = s"${dotOf("sa.vec", "sb.vec")} / (sqrt(sa.nsq) * sqrt(sb.nsq))"
    val entryCos = s"${dotOf("q.qv", "e.vec")} / (sqrt(q.qn) * sqrt(e.nsq))"
    val easnCos = s"${dotOf("el.vec", "su.cvec")} / (sqrt(el.nsq) * sqrt(su.cn))"
    val roundCos = s"${dotOf("q.qv", "b.vec")} / (sqrt(q.qn) * sqrt(b.nsq))"
    val superEvery = HnswEntryEvery.toLong * HnswEntryEvery
    val rounds = (1 to HnswRounds).map { r =>
      s"""f$r AS (SELECT q_id, vec_b FROM (
             SELECT q_id, vec_b, row_number() OVER (PARTITION BY q_id
               ORDER BY cosine DESC, vec_b ASC) AS rnk
             FROM p${r - 1}) t WHERE rnk <= $beam),
         nb$r AS (SELECT DISTINCT f.q_id, e.dst AS vec_b
                  FROM f$r f JOIN ef e ON f.vec_b = e.src
                  WHERE e.dst <> f.q_id),
         s$r AS (SELECT nb.q_id, nb.vec_b, $roundCos AS cosine
                 FROM nb$r nb JOIN q USING (q_id)
                 JOIN n b ON b.vec_id = nb.vec_b),
         p$r AS MATERIALIZED (
           SELECT DISTINCT q_id, vec_b, cosine FROM (
             SELECT * FROM p${r - 1} UNION ALL SELECT * FROM s$r) u)"""
    }.mkString(",\n")
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0
                   AND $centsFilter),
       rk2 AS MATERIALIZED (
         SELECT vid, vec, nsq, cell FROM (
           SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn <= 2),
       ec AS (SELECT DISTINCT a.vid AS src, b.vid AS dst
              FROM rk2 a JOIN rk2 b ON a.cell = b.cell AND a.vid <> b.vid),
       es AS (SELECT src, dst, $edgeCos AS ecos
              FROM ec JOIN n sa ON sa.vec_id = ec.src
              JOIN n sb ON sb.vec_id = ec.dst),
       edges AS MATERIALIZED (
         SELECT src, dst FROM (
           SELECT src, dst, row_number() OVER (PARTITION BY src
             ORDER BY ecos DESC, dst ASC) AS rn
           FROM es) t WHERE rn <= $HnswM),
       ef AS (SELECT src, dst FROM edges
              WHERE ${keep("src")} AND ${keep("dst")}),
       q AS MATERIALIZED (SELECT vec_id AS q_id, vec AS qv, nsq AS qn
                          FROM n WHERE vec_id % $QueryMod = 0
                            AND ${keep("vec_id")}),
       sup AS (SELECT q.q_id, e.vec_id AS vec_b, $entryCos AS cosine
               FROM q, n e
               WHERE e.vec_id % $superEvery = 0 AND ${keep("e.vec_id")}),
       rt AS (SELECT q_id, vec_b AS cell FROM (
                SELECT q_id, vec_b, row_number() OVER (PARTITION BY q_id
                  ORDER BY cosine DESC, vec_b ASC) AS rnk
                FROM sup) t WHERE rnk <= $beam),
       easn AS (SELECT vid AS vec_b, cell FROM (
                  SELECT el.vec_id AS vid, su.cent_id AS cell,
                    row_number() OVER (PARTITION BY el.vec_id
                      ORDER BY $easnCos DESC, su.cent_id ASC) AS rn
                  FROM (SELECT * FROM n WHERE vec_id % $HnswEntryEvery = 0
                          AND ${keep("vec_id")}) el,
                       (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                        FROM n WHERE vec_id % $superEvery = 0
                          AND ${keep("vec_id")}) su) t
                WHERE rn = 1),
       ent AS (SELECT rt.q_id, ea.vec_b, $entryCos AS cosine
               FROM rt JOIN easn ea ON rt.cell = ea.cell
               JOIN q ON q.q_id = rt.q_id
               JOIN n e ON e.vec_id = ea.vec_b
               WHERE ea.vec_b <> rt.q_id),
       p0 AS MATERIALIZED (
         SELECT q_id, vec_b, cosine FROM (
           SELECT q_id, vec_b, cosine, row_number() OVER (PARTITION BY q_id
             ORDER BY cosine DESC, vec_b ASC) AS rnk
           FROM ent) t WHERE rnk <= $beam),
       $rounds
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM p$HnswRounds) r
       WHERE rnk <= $TopK"""
  }

  private lazy val annHnswSql = annHnswSqlBeam(HnswBeam)

  /** Recall-vs-BEAM curve for the graph path (the ivf_probes dial for
    * HNSW-lite): recall@k at beam 2/4/8 vs brute truth. Unlike nprobe
    * (whose candidate set grows monotonically), beam recall is only
    * EMPIRICALLY increasing — a wider cut changes which frontier gets
    * expanded, so no superset guarantee exists; the curve is the
    * operating-point table, not a proof object. (Rounds monotonicity,
    * which IS provable, is spec-pinned in SimilaritySpec.)
    */
  private val HnswBeamLadder = Seq(2, 4, 8)

  private def annHnswSweep(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    // ONE persisted edge build shared across the whole ladder (the
    // bandsweep discipline): each beam point probes the same stored
    // index — probe ≡ in-plan, so the oracle chains are unchanged,
    // but the graph builds once instead of |ladder| times
    val path = scratchPath(s, "hnsw_sweep", d)
    Similarity.writeGraphIndex(corpus, "vec_id", "embedding",
      IvfCentroidEvery, HnswM, path)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      HnswBeamLadder.map(b => f"b$b%02d" ->
        Similarity.probeGraphIndex(IndexRoute.Parquet(path), q, "vec_id", "embedding", TopK,
          HnswEntryEvery, b, HnswRounds)),
      TopK)
  }

  private lazy val annHnswSweepSql =
    HnswBeamLadder.map(b => recallRowSql(f"b$b%02d", annHnswSqlBeam(b)))
      .mkString("\nUNION ALL\n")

  /** Persisted graph-index round-trip (Similarity.writeGraphIndex /
    * probeGraphIndex): vectors + m-NN edge list written to parquet and
    * probed — the graph twin of ext_ann_ivf_persist. Results ≡ the
    * in-plan graph search, so the same oracle gates both.
    */
  private def annHnswPersist(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_idx", d)
    Similarity.writeGraphIndex(Tables.embeddings(s, d), "vec_id",
      "embedding", IvfCentroidEvery, HnswM, path)
    Similarity.probeGraphIndex(IndexRoute.Parquet(path), annQueries(s, d), "vec_id", "embedding",
      TopK, HnswEntryEvery, HnswBeam, HnswRounds)
  }

  /** The SAME persisted graph probe through the `graft-index`
    * DataSourceV2 table — vecs and the pcell-partitioned edge list read
    * via the connector (edge projection pruned to (src, dst) at the
    * parquet layer). Identical results; same oracle as ext_ann_hnsw.
    */
  private def annHnswV2(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_v2idx", d)
    Similarity.writeGraphIndex(Tables.embeddings(s, d), "vec_id",
      "embedding", IvfCentroidEvery, HnswM, path)
    Similarity.probeGraphIndex(IndexRoute.GraftIndex(path), annQueries(s, d), "vec_id",
      "embedding", TopK, HnswEntryEvery, HnswBeam, HnswRounds)
  }

  /** CATALOG-routed twin of ext_ann_hnsw_v2: the persisted graph probe
    * with the index resolved by NAME through the registered
    * GraftIndexCatalog (vecs + edges as `graft_idx.<index>.<table>`) —
    * completes the by-name serving story for BOTH index kinds. Same
    * oracle as ext_ann_hnsw.
    */
  private def annHnswCat(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_cat", d)
    Similarity.writeGraphIndex(Tables.embeddings(s, d), "vec_id",
      "embedding", IvfCentroidEvery, HnswM, path)
    val f = new java.io.File(path)
    s.conf.set("spark.sql.catalog.graft_idx",
      classOf[graft.sources.GraftIndexCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_idx.root", f.getParent)
    Similarity.probeGraphIndex(IndexRoute.Catalog(s"graft_idx.`${f.getName}`"),
      annQueries(s, d), "vec_id", "embedding", TopK, HnswEntryEvery, HnswBeam,
      HnswRounds)
  }

  /** TOMBSTONE-MASKED probe of the persisted graph index — erasure on a
    * graph serving structure: masked ids vanish from the entry level,
    * both edge endpoints, and the pool (never returned, never scored).
    * The mask applies AFTER the stored per-src rank cut (edges were
    * built on the full corpus); the oracle mirrors exactly that, and
    * computes over the surviving corpus — so the recall cost of
    * masking (vs rebuilding) is measured by the existing recall tier,
    * not guessed. Same tombstone slice as ext_ann_ivf_delete.
    */
  private def annHnswDelete(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_del", d)
    val emb = Tables.embeddings(s, d)
    Similarity.writeGraphIndex(emb, "vec_id", "embedding",
      IvfCentroidEvery, HnswM, path)
    Similarity.probeGraphIndex(IndexRoute.Parquet(path), annQueries(s, d), "vec_id", "embedding",
      TopK, HnswEntryEvery, HnswBeam, HnswRounds,
      tombstones = Some(emb
        .where(col("vec_id") % IvfDeleteMod === IvfDeleteRem)
        .select("vec_id")))
  }

  private lazy val annHnswDeleteSql = annHnswSqlBeam(HnswBeam, masked = true)

  /** TOMBSTONE COMPACTION of the graph index (round-12,
    * Similarity.compactGraphIndex): the same erasure as
    * ext_ann_hnsw_delete, but baked into storage — only the
    * tombstone-bearing pcell partitions rewrite (untouched partitions'
    * files stay byte-identical, spec-pinned in SimilaritySpec), masked
    * rows leave vecs/cells, and the probe then runs with NO mask at
    * all: a long-lived index stops paying the mask on every probe.
    * Same oracle as the masked probe — compaction and masking must
    * implement identical erasure semantics, so a divergence
    * hash-mismatches. (The probe's query set drops tombstoned ids
    * explicitly, as the masked lane does via its query-side mask.)
    */
  private def annHnswCompact(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_cmp", d)
    val emb = Tables.embeddings(s, d)
    Similarity.writeGraphIndex(emb, "vec_id", "embedding",
      IvfCentroidEvery, HnswM, path)
    Similarity.compactGraphIndex(path, emb
      .where(col("vec_id") % IvfDeleteMod === IvfDeleteRem)
      .select("vec_id"))
    Similarity.probeGraphIndex(IndexRoute.Parquet(path),
      annQueries(s, d).where(col("vec_id") % IvfDeleteMod =!= IvfDeleteRem),
      "vec_id", "embedding", TopK, HnswEntryEvery, HnswBeam, HnswRounds)
  }

  /** ADMISSION into the persisted graph index
    * (Similarity.appendToGraphIndex): write two-thirds of the corpus,
    * append the rest against the STORED centroids — new srcs rank their
    * full co-bucket, touched stored srcs leaderboard-merge their stored
    * top-m with the new candidates (valid because admission never
    * changes an existing pair's score), untouched edge partitions'
    * files never move. The oracle rebuilds the WHOLE graph with cents
    * restricted to the write subset — by the merge identity that
    * rebuild equals the admitted index exactly, and a quantizer re-pick
    * over the grown corpus (ids %3==0 include %75==0 centroid-eligible
    * ones) would hash-mismatch. Completes the graph lifecycle:
    * write / append / probe / delete.
    */
  private def annHnswAppend(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "hnsw_app", d)
    val emb = Tables.embeddings(s, d)
    Similarity.writeGraphIndex(emb.where(col("vec_id") % IvfAppendMod =!= 0),
      "vec_id", "embedding", IvfCentroidEvery, HnswM, path)
    Similarity.appendToGraphIndex(
      emb.where(col("vec_id") % IvfAppendMod === 0),
      "vec_id", "embedding", HnswM, path)
    Similarity.probeGraphIndex(IndexRoute.Parquet(path), annQueries(s, d), "vec_id", "embedding",
      TopK, HnswEntryEvery, HnswBeam, HnswRounds)
  }

  private lazy val annHnswAppendSql = annHnswSqlBeam(HnswBeam,
    centsFilter = s"vec_id % $IvfAppendMod <> 0")

  /** Product quantization: 2 subspaces of 32 dims, corpus-seeded
    * codebooks (same every-25th pick as IVF). Small M on purpose — the
    * oracle mirrors each subspace as its own CTE chain.
    */
  private val PqSub = 2

  private def annPq(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, PqSub, IvfCentroidEvery, EmbDim)

  private def listNormSq(e: String) =
    s"list_reduce(list_transform(range(1, len($e) + 1), i -> $e[i] * $e[i]), (a, b) -> a + b)"

  /** Per-subspace PQ CTE chain (slice -> codebook -> argmax code),
    * shared by ext_ann_pq and ext_ann_ivfpq. Produces s$m / c$m / a$m
    * CTEs for each subspace m.
    */
  private lazy val pqSubCtes = {
    val subLen = EmbDim / PqSub
    (0 until PqSub).map { m =>
      val lo = m * subLen + 1
      val hi = (m + 1) * subLen
      val assignCos =
        s"${dotOf(s"s$m.sv", "c.cvec")} / (sqrt(s$m.sn) * sqrt(c.cn))"
      s"""s$m AS (SELECT vec_id, vec[$lo:$hi] AS sv,
              ${listNormSq(s"vec[$lo:$hi]")} AS sn FROM v),
        c$m AS (SELECT vec_id AS cent_id, sv AS cvec, sn AS cn
                FROM s$m WHERE vec_id % $IvfCentroidEvery = 0),
        a$m AS (SELECT vec_id, cell AS code$m FROM (
            SELECT s$m.vec_id, c.cent_id AS cell,
                   row_number() OVER (PARTITION BY s$m.vec_id
                     ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
            FROM s$m, c$m c) t WHERE rn = 1)"""
    }.mkString(",\n       ")
  }

  /** Reconstruction CTEs over the pqSubCtes output: rec (codeword
    * concat) + nr (reconstruction norms). */
  private lazy val pqRecCtes = {
    // explicit join chain: a0 x c0 (code0) then a1 (same vec) x c1 (code1) ...
    val fromRec = (0 until PqSub).map { m =>
      val sameVec = if (m == 0) "" else s"JOIN a$m ON a$m.vec_id = a0.vec_id "
      s"${sameVec}JOIN c$m ON a$m.code$m = c$m.cent_id"
    }.mkString(" ")
    val vrec = (0 until PqSub).map(m => s"c$m.cvec").mkString(" || ")
    s"""rec AS (SELECT a0.vec_id, $vrec AS vrec FROM a0 $fromRec),
       nr AS (SELECT vec_id, vrec, ${listNormSq("vrec")} AS nrec FROM rec)"""
  }

  private val pqTopKSelect =
    s"""SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""

  /** Twin of Similarity.pqTopK: per-subspace slice/codebook/argmax CTEs,
    * reconstruction by codeword concat, then the standard top-k.
    */
  private lazy val annPqSql =
    s"""WITH $vecsSql,
       $pqSubCtes,
       $pqRecCtes,
       scored AS (
         SELECT q.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("q.vec", "b.vrec")} / (sqrt(q.nsq) * sqrt(b.nrec)) AS cosine
         FROM n q JOIN nr b ON q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id)
       $pqTopKSelect"""

  private def annIvfPq(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, IvfCentroidEvery, PqSub, EmbDim)

  /** Twin of Similarity.ivfPqTopK: the IVF cell assignment of annIvfSql
    * prunes candidates, the PQ chains of annPqSql score them.
    */
  private lazy val annIvfPqSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       assign AS (
         SELECT vid, cell FROM (
           SELECT n.vec_id AS vid, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn = 1),
       $pqSubCtes,
       $pqRecCtes,
       scored AS (
         SELECT q.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("q.vec", "b.vrec")} / (sqrt(q.nsq) * sqrt(b.nrec)) AS cosine
         FROM n q
         JOIN assign qa ON qa.vid = q.vec_id
         JOIN assign ca ON ca.cell = qa.cell
         JOIN nr b ON b.vec_id = ca.vid
         WHERE q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id)
       $pqTopKSelect"""
  }

  /** Persisted IVF index round-trip: write the corpus partitioned by
    * cell (Similarity.writeIvfIndex) and probe the on-disk index — the
    * ANN twin of the minhash persist-and-probe loop. Results ≡ the
    * in-plan IVF, so the same oracle gates both.
    */
  private def annIvfPersist(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_idx", d)
    Similarity.writeIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery, path)
    Similarity.probeIvfIndex(path, annQueries(s, d), "vec_id", "embedding", TopK)
  }

  /** The SAME persisted-index probe served through the `graft-index`
    * DataSourceV2 table (sources/GraftIndexSource.scala): the probed
    * cells arrive as a claimed `In(cell, …)` partition filter, so only
    * their directories are listed and read, and the scan's stats cover
    * only them. Identical results by contract — same oracle as the
    * in-plan IVF.
    */
  private def annIvfV2(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_v2idx", d)
    Similarity.writeIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery, path)
    Similarity.probeIvfIndexV2(path, annQueries(s, d), "vec_id", "embedding",
      TopK)
  }

  /** FILTERED serving-slice audit through the V2 table — the round-11
    * vectorized-filter lane as a registered, oracle-gated query: a
    * pushed range filter on a PROJECTED column (vec_b > 100) plus one
    * on a column OUTSIDE the projection (nb > 1.0 decodes into a
    * scratch vector that never reaches the output), grouped per cell.
    * Both filters reach Spark's vectorized reader as pruning hints and
    * Spark re-filters above the scan; the oracle restates the stored cell
    * assignment and the same predicates over the raw embeddings. The
    * filter constants are structural (fixed literals valid at every
    * SF), and the aggregates are integer-only (count/min/max of ids) so
    * no float fold order is in play.
    */
  private def annIvfV2Filtered(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_v2f", d)
    Similarity.writeIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery, path)
    s.read.format("graft-index").load(s"$path/cells")
      .where(col("vec_b") > 100L && col("nb") > 1.0d)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_b")).as("min_vec"),
        max(col("vec_b")).as("max_vec"))
  }

  private lazy val annIvfV2FilteredSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       assign AS (
         SELECT vid, nsq, cell FROM (
           SELECT n.vec_id AS vid, n.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn = 1)
       SELECT cell, count(*) AS n_vecs, min(vid) AS min_vec,
              max(vid) AS max_vec
       FROM assign
       WHERE vid > 100 AND nsq > 1.0
       GROUP BY cell"""
  }

  /** EVENT-TIME columns through the serving connector (round-11): the
    * events stream re-materialized as a bucket-partitioned serving
    * table carrying a real TIMESTAMP column, read back through the
    * graft-index table with a pushed numeric filter — so the new
    * timestamp decode lane (INT64/INT96 → internal micros) is
    * oracle-gated end-to-end, not just spec-pinned. Timestamps are
    * emitted as epoch MICROS on both sides (the fixture-vintage
    * discipline: never raw timestamps); the ts column is rebuilt from
    * the nanos-normalized `ts`, so the query is storage-vintage
    * independent.
    */
  private def eventsIndexTs(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2ts", d)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        timestamp_micros(expr("ts div 1000")).as("ets"),
        (col("user_id") % 8).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("user_id") > 50L)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ets"))).as("min_ets"),
        max(unix_micros(col("ets"))).as("max_ets"))
  }

  private val eventsIndexTsSql =
    s"""SELECT user_id % 8 AS bucket, count(*) AS n_events,
              min(epoch_ns(ts) // 1000) AS min_ets,
              max(epoch_ns(ts) // 1000) AS max_ets
       FROM events WHERE user_id > 50
       GROUP BY 1"""

  /** TWO-LEVEL partition layout + COMPOUND OR hint through the serving
    * connector (round-11, oracle-gating both late-round features): the
    * events stream re-materialized partitioned by (bucket, event_type)
    * — a NESTED Hive layout the connector discovers as a depth-ordered
    * column chain — read back with an OR-of-ranges on `value` (both
    * tails of the amount distribution) as a row-group pruning hint,
    * re-filtered by Spark above the scan. The
    * value column rides the fixture's cent grid, so the amount
    * aggregate sums EXACT cents as BIGINT — immune to float fold order
    * on both engines. Filter constants are structural literals, valid
    * at every SF.
    */
  private def eventsIndexOr(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2or", d)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        (col("user_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket", "event_type")
      .parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("value") < 10.0d || col("value") > 90.0d)
      .groupBy(col("bucket").cast("long").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexOrSql =
    s"""SELECT user_id % 4 AS bucket, event_type, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM events WHERE value < 10 OR value > 90
       GROUP BY 1, 2"""

  /** `<>` through the serving connector (round-12): a Not(EqualTo)
    * predicate on a string data column reaches the scan as a pruning
    * hint — Spark's ParquetFilters makes it a parquet notEq, which
    * keeps nulls, and Spark's Filter above the scan applies SQL's
    * unknown→false. Exact-cents aggregates; the excluded literal is
    * structural, valid at every SF.
    */
  private def eventsIndexNe(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2ne", d)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        (col("user_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("event_type") =!= "view")
      .groupBy(col("bucket").cast("long").as("bucket"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexNeSql =
    s"""SELECT user_id % 4 AS bucket, event_type, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM events WHERE event_type <> 'view'
       GROUP BY 1, 2"""

  /** STRING-PREDICATE + NOT-IN hints through the serving connector
    * (round-12): `event_type LIKE 'c%'` and `user_id NOT IN (…)` reach
    * the scan as pruning hints — Spark's ParquetFilters makes the
    * prefix its string-prefix predicate (min/max row-group pruning) and
    * the short NOT IN parquet notEq legs — while Spark's Filter above
    * the scan keeps the result exact. Exact-cents aggregates;
    * structural literals, valid at every SF.
    */
  private def eventsIndexPrefix(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2pf", d)
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("value"),
        (col("user_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("event_type").startsWith("c") &&
        !col("user_id").isin(1L, 2L, 3L))
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexPrefixSql =
    s"""SELECT user_id % 4 AS bucket, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM events
       WHERE event_type LIKE 'c%' AND user_id NOT IN (1, 2, 3)
       GROUP BY 1"""

  /** DATE data columns through the serving connector (round-12): the
    * events stream lands with a real DATE column (derived by a
    * timezone-free structural recipe — epoch-day arithmetic on user_id,
    * so the query means the same thing in any session timezone on both
    * engines) and is read back with a claimed date-range AND a date
    * `<>` — parquet DATE is INT32 epoch days, Spark's own internal
    * DateType form, so the claims ride the integer comparators with
    * row-group stats pruning and zero decode conversion. Day-number
    * aggregates (never raw dates — the fixture-vintage discipline),
    * exact-cents sum. A date-range scan is the single most common
    * predicate over a daily-partitioned 100 TB event table.
    */
  private def eventsIndexDate(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2date", d)
    Tables.events(s, d)
      .select(col("user_id"), col("value"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("user_id") % 7).cast("int")).as("ed"),
        (col("user_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("ed") >= lit(java.sql.Date.valueOf("2024-01-03")) &&
        col("ed") =!= lit(java.sql.Date.valueOf("2024-01-05")))
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min(datediff(col("ed"), lit("1970-01-01"))).cast("long").as("min_day"),
        max(datediff(col("ed"), lit("1970-01-01"))).cast("long").as("max_day"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexDateSql =
    s"""SELECT user_id % 4 AS bucket, count(*) AS n_events,
              CAST(min(date_diff('day', DATE '1970-01-01', ed)) AS BIGINT) AS min_day,
              CAST(max(date_diff('day', DATE '1970-01-01', ed)) AS BIGINT) AS max_day,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM (SELECT user_id, value,
                    DATE '2024-01-01' + CAST(user_id % 7 AS INT) AS ed
             FROM events) t
       WHERE ed >= DATE '2024-01-03' AND ed <> DATE '2024-01-05'
       GROUP BY 1"""

  /** DATE PARTITION directories through the serving connector
    * (round-12): the same structural date lands as the layout's
    * partition column — `ed=2024-01-0X` directories, THE canonical
    * daily layout of a 100 TB event table — and the connector's
    * one-footer inference types it DateType (agreeing with Spark's
    * inference ladder). The date predicate prunes DIRECTORIES at
    * planning: files under excluded days are never listed into splits,
    * the 100×-scale shape where partition pruning is the difference
    * between reading one day and reading three years.
    */
  private def eventsIndexDatePart(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2dp", d)
    Tables.events(s, d)
      .select(col("user_id"), col("value"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          (col("user_id") % 7).cast("int")).as("ed"))
      .write.mode("overwrite").partitionBy("ed").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("ed") > lit(java.sql.Date.valueOf("2024-01-02")))
      .groupBy(datediff(col("ed"), lit("1970-01-01")).cast("long").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexDatePartSql =
    s"""SELECT CAST(date_diff('day', DATE '1970-01-01', ed) AS BIGINT) AS day,
              count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
       FROM (SELECT user_id, value,
                    DATE '2024-01-01' + CAST(user_id % 7 AS INT) AS ed
             FROM events) t
       WHERE ed > DATE '2024-01-02'
       GROUP BY 1"""

  /** BINARY payloads through the serving connector (round-12): the
    * documents corpus lands with its text as a raw BYTE payload — the
    * multimodal serving shape, where image/audio blobs ride opaque
    * binary columns next to typed metadata — and the audit reads it
    * back through the connector folding per-bucket byte totals and
    * content fingerprints. `md5(payload)` on Spark and `md5(text)` on
    * DuckDB both hash the UTF-8 bytes, so a single flipped byte
    * anywhere in the decode lane breaks the min/max fingerprints.
    */
  private def docsIndexBinary(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "docs_v2bin", d)
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        (col("doc_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("payload")).cast("long")).as("sum_bytes"),
        min(md5(col("payload"))).as("min_md5"),
        max(md5(col("payload"))).as("max_md5"))
  }

  private val docsIndexBinarySql =
    s"""SELECT doc_id % 4 AS bucket, count(*) AS n_docs,
              CAST(sum(octet_length(encode(text))) AS BIGINT) AS sum_bytes,
              min(md5(text)) AS min_md5, max(md5(text)) AS max_md5
       FROM documents GROUP BY 1"""

  /** DECIMAL money columns through the serving connector (round-12,
    * fourth sitting): amounts land as DECIMAL(24,2) — the
    * FIXED_LEN_BYTE_ARRAY physical, i.e. the money type a 100 TB
    * ledger actually uses — next to a SMALLINT bucket, and the audit
    * reads them back with a `<>` on the SHORT column (a pruning hint;
    * Spark's vectorized reader decodes the decimal from the file's own
    * scale annotation, and Spark's Filter keeps the result exact). The
    * decimal is BUILT from exact
    * cents (cents × 0.01 at scale 2 — no float fold anywhere), and
    * the aggregate folds it back to BIGINT cents on both engines.
    */
  private def eventsIndexDecimal(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2dec", d)
    Tables.events(s, d)
      .select(col("user_id"),
        expr("CAST(CAST(round(value * 100) AS BIGINT) * 0.01 AS DECIMAL(24,2))")
          .as("amt"),
        expr("CAST(user_id % 4 AS SMALLINT)").as("bucket"))
      .write.mode("overwrite").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("bucket") =!= lit(2.toShort))
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("amt") * 100).cast("long")).as("sum_cents"))
  }

  private val eventsIndexDecimalSql =
    s"""SELECT user_id % 4 AS bucket, count(*) AS n_events,
              CAST(sum(CAST(amt * 100 AS BIGINT)) AS BIGINT) AS sum_cents
       FROM (SELECT user_id,
                    CAST(CAST(round(value * 100) AS BIGINT) * 0.01
                         AS DECIMAL(24,2)) AS amt
             FROM events) t
       WHERE user_id % 4 <> 2
       GROUP BY 1"""

  /** PROVENANCE AUDIT through the `_file` lineage metadata column
    * (round-12): the events stream lands as a bucket-partitioned layout
    * with exactly one file per bucket (`repartition(bucket)` puts each
    * value in one task; `partitionBy` then cuts one file per value),
    * and the audit reads it back through the connector grouping by
    * `_file` — the Iceberg-style row→file lineage — then folds per-file
    * rows/cents up to the bucket parsed OUT OF THE FILE PATH. The
    * oracle recomputes the same totals from the raw events and pins
    * `n_files = 1`: a row landing in the wrong file, a stray extra
    * file, or a `_file` value not carrying its directory chain all
    * hash-mismatch. Completes round-11's `_file` column (spec-pinned
    * then, consumed by no registered query until now).
    */
  private def layoutLineage(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2lin", d)
    Tables.events(s, d)
      .select(col("user_id"), col("value"), (col("user_id") % 8).as("bucket"))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .select(col("_file"), col("value"))
      .groupBy(col("_file"))
      .agg(count(lit(1)).as("file_rows"),
        sum(round(col("value") * 100).cast("long")).as("file_cents"))
      .groupBy(regexp_extract(col("_file"), "bucket=(\\d+)", 1)
        .cast("long").as("bucket"))
      .agg(sum(col("file_rows")).as("n_rows"),
        sum(col("file_cents")).as("sum_cents"),
        count(lit(1)).as("n_files"))
  }

  private val layoutLineageSql =
    s"""SELECT user_id % 8 AS bucket, count(*) AS n_rows,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              CAST(1 AS BIGINT) AS n_files
       FROM events
       GROUP BY 1"""

  /** NESTED columns through the serving connector (round-13): the
    * events stream lands as a mounted-lake-table shape — a STRUCT
    * `props`-style column plus a MAP of counters next to flat metadata
    * — and is read back through the connector with a filter touching
    * both a struct FIELD and a flat column. Nested-bearing tables
    * refuse data claims wholesale (the filtered lanes are flat-only),
    * so the scan rides the delegated vectorized lane — Spark's own
    * nested decode — with Spark re-filtering above: exact by
    * construction, pinned here by cents-exact aggregates folded from
    * the struct field AND the map value independently (a single
    * mis-assembled repetition/definition level breaks both).
    */
  private def eventsIndexNested(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2nest", d)
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        struct(col("user_id").as("uid"),
          round(col("value") * 100).cast("long").as("cents")).as("s"),
        map(lit("cents"), round(col("value") * 100).cast("long"),
          lit("uid"), col("user_id")).as("m"),
        (col("user_id") % 4).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    s.read.format("graft-index").load(path)
      .where(col("s.uid") % 7 === 3 && col("event_type") =!= "error")
      .groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("s.cents")).as("sum_cents"),
        sum(element_at(col("m"), "cents")).as("map_cents"))
  }

  private val eventsIndexNestedSql =
    s"""SELECT user_id % 4 AS bucket, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS map_cents
       FROM events
       WHERE user_id % 7 = 3 AND event_type <> 'error'
       GROUP BY 1"""

  /** PAGE-pruned range probe (round-13): the event-time-cutoff shape —
    * a table sorted by its probe column, written with small pages, hit
    * with a range predicate handed to the scan as a pruning hint.
    * Group-level stats can't prune inside the sorted run's covering row
    * groups; the column index sheds the non-matching pages in Spark's
    * vectorized reader (readNextFilteredRowGroup), and Spark's Filter
    * above the scan keeps the result exact at row granularity.
    * Cutoffs derive from max(event_id) on BOTH sides (floor division),
    * so the oracle is scale-factor-free.
    */
  private def eventsIndexTsRange(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "events_v2tsr", d)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy("event_id").coalesce(2)
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", "2000")
      .parquet(path)
    val maxId = Tables.events(s, d)
      .agg(max("event_id")).head().getLong(0)
    val (lo, hi) = (maxId / 2, maxId / 2 + maxId / 10)
    s.read.format("graft-index").load(path)
      .where(col("event_id") >= lo && col("event_id") < hi)
      .groupBy((col("user_id") % 4).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  private val eventsIndexTsRangeSql =
    s"""SELECT user_id % 4 AS bucket, count(*) AS n_events,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
              min(event_id) AS min_id, max(event_id) AS max_id
       FROM events
       WHERE event_id >= (SELECT max(event_id) // 2 FROM events)
         AND event_id < (SELECT max(event_id) // 2 + max(event_id) // 10 FROM events)
       GROUP BY 1"""

  /** CATALOG-routed twin of ext_ann_ivf_v2: the same persisted IVF
    * probe, but the index resolves by NAME through a registered
    * GraftIndexCatalog (`SELECT ... FROM graft_idx.<index>.cells`) —
    * the full serving story with no filesystem path in the probe. The
    * catalog root is the scratch base (session-stable), registered once
    * per session; identical rows, same oracle.
    */
  private def annIvfCat(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_cat", d)
    Similarity.writeIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery, path)
    val f = new java.io.File(path)
    // catalogs instantiate lazily and are CACHED by name on first use —
    // the root must be set before the first table reference and stays
    // session-stable (the scratch base is constant within a session)
    s.conf.set("spark.sql.catalog.graft_idx",
      classOf[graft.sources.GraftIndexCatalog].getName)
    s.conf.set("spark.sql.catalog.graft_idx.root", f.getParent)
    Similarity.probeIvfIndexCatalog(s"graft_idx.`${f.getName}`",
      annQueries(s, d), "vec_id", "embedding", TopK)
  }

  /** ADMISSION into the persisted IVF index (Similarity.appendToIvfIndex):
    * write two-thirds of the corpus, append the rest with the STORED
    * centroids (no retrain — serving geometry stays stable; the append
    * touches only the cells the batch lands in, O(batch)), probe the
    * grown index. The oracle picks centroids from the WRITE subset only
    * and assigns the full corpus to them — exactly the no-retrain
    * semantics, so a sneaky re-pick over the grown corpus would
    * hash-mismatch. Completes the IVF lifecycle:
    * write / append / probe / delete.
    */
  private val IvfAppendMod = 3

  private def annIvfAppend(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_app", d)
    val emb = Tables.embeddings(s, d)
    Similarity.writeIvfIndex(emb.where(col("vec_id") % IvfAppendMod =!= 0),
      "vec_id", "embedding", IvfCentroidEvery, path)
    Similarity.appendToIvfIndex(emb.where(col("vec_id") % IvfAppendMod === 0),
      "vec_id", "embedding", path)
    Similarity.probeIvfIndex(path, annQueries(s, d), "vec_id", "embedding",
      TopK)
  }

  private val annIvfAppendSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val searchCos = s"${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0
                   AND vec_id % $IvfAppendMod <> 0),
       assign AS (
         SELECT vid, vec, nsq, cell FROM (
           SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn = 1),
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b, $searchCos AS cosine
         FROM assign q JOIN assign c
           ON q.cell = c.cell AND q.vid % $QueryMod = 0 AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  /** Per-vector simplified silhouette over the seeded coarse quantizer
    * (Similarity.silhouette): cluster-quality and assignment-confidence
    * audit of the embedding space.
    */
  private def embSilhouette(s: SparkSession, d: String): DataFrame =
    Similarity.silhouette(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery)

  /** Twin of Similarity.silhouette: rank all (vector, centroid) cosines,
    * pivot ranks 1 and 2, same guarded ratio.
    */
  private lazy val embSilhouetteSql = {
    val cosExpr = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       ranked AS (
         SELECT n.vec_id AS vid, c.cent_id, $cosExpr AS cos,
                row_number() OVER (PARTITION BY n.vec_id
                  ORDER BY $cosExpr DESC, c.cent_id ASC) AS rn
         FROM n, cents c)
       SELECT a.vid AS vec_id, a.cent_id AS cell,
              round(CASE WHEN 1 - b.cos = 0 THEN 0.0
                    ELSE (a.cos - b.cos) / (1 - b.cos) END, 6) AS silhouette,
              round(a.cos - b.cos, 6) AS margin
       FROM ranked a JOIN ranked b ON a.vid = b.vid AND a.rn = 1 AND b.rn = 2"""
  }

  /** Candidate-list size of the exact re-rank stage — c >> k so the
    * second stage has headroom to repair first-stage quantization error.
    */
  private val RerankCands = 20

  private def annRerank(s: SparkSession, d: String): DataFrame =
    Similarity.rerankTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, RerankCands, IvfCentroidEvery, PqSub, EmbDim)

  /** Twin of Similarity.rerankTopK: annIvfPqSql's chain kept to the top-c
    * candidate list, then an exact-cosine rescore of just those
    * candidates against the raw vectors.
    */
  private lazy val annRerankSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       assign AS (
         SELECT vid, cell FROM (
           SELECT n.vec_id AS vid, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM n, cents c) t
         WHERE rn = 1),
       $pqSubCtes,
       $pqRecCtes,
       scored AS (
         SELECT q.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("q.vec", "b.vrec")} / (sqrt(q.nsq) * sqrt(b.nrec)) AS cosine
         FROM n q
         JOIN assign qa ON qa.vid = q.vec_id
         JOIN assign ca ON ca.cell = qa.cell
         JOIN nr b ON b.vec_id = ca.vid
         WHERE q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
       cand AS (
         SELECT q_id, vec_b FROM (
           SELECT q_id, vec_b,
                  row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS rn
           FROM scored) r
         WHERE rn <= $RerankCands),
       rescored AS (
         SELECT cand.q_id, cand.vec_b,
                ${dotOf("q.vec", "b.vec")} / (sqrt(q.nsq) * sqrt(b.nsq)) AS cosine
         FROM cand JOIN n q ON q.vec_id = cand.q_id
                   JOIN n b ON b.vec_id = cand.vec_b)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM rescored) r
       WHERE rnk <= $TopK"""
  }

  /** Filtered (metadata-constrained) vector search: top-k within the
    * query's label, pre-filter vs post-filter side by side
    * (Similarity.filteredTopK) — the recall gap of the cheap overlay
    * made auditable.
    */
  private def annFiltered(s: SparkSession, d: String): DataFrame =
    Similarity.filteredTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", "label", TopK)

  private lazy val annFilteredSql = {
    val cos = s"$dotSql / (sqrt(a.nsq) * sqrt(b.nsq))"
    s"""WITH $vecsSql,
       lab AS (SELECT vec_id, label FROM embeddings),
       sc AS (
         SELECT a.vec_id AS q_id, la.label AS lq, b.vec_id AS vec_b,
                lb.label AS lb, $cos AS cosine
         FROM n a JOIN n b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id
         JOIN lab la ON la.vec_id = a.vec_id
         JOIN lab lb ON lb.vec_id = b.vec_id),
       pre AS (
         SELECT 'prefilter' AS strategy, q_id, rnk, vec_b AS neighbor_id
         FROM (SELECT q_id, vec_b,
                 CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
               FROM sc WHERE lb = lq) t
         WHERE rnk <= $TopK),
       post AS (
         SELECT 'postfilter' AS strategy, q_id, rnk, vec_b AS neighbor_id
         FROM (SELECT q_id, vec_b, lb, lq,
                 CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
               FROM sc) t
         WHERE rnk <= $TopK AND lb = lq)
       SELECT * FROM pre UNION ALL SELECT * FROM post"""
  }

  /** Per-leg candidate depth of the hybrid fusion (final top-k = TopK). */
  private val HybridLegK = 10

  /** Hybrid search: dense leg (brute-force cosine top-10 over the
    * embeddings) + sparse leg (3-gram Jaccard top-10 over the documents,
    * same id space) fused by Reciprocal Rank Fusion
    * (Similarity.hybridRrfTopK) to a final top-5 per query.
    */
  private def searchHybrid(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val sem = Similarity.bruteForceTopK(Tables.embeddings(s, d),
      annQueries(s, d), "vec_id", "embedding", HybridLegK)
    val lex = Dedup.jaccardTopK(docs,
      docs.where(col("doc_id") % QueryMod === 0), "doc_id", "text", HybridLegK)
    Similarity.hybridRrfTopK(sem, lex, TopK)
  }

  /** Twin of the hybrid fusion: both legs as ranked CTEs, FULL OUTER on
    * (query, candidate), the double-exact rrf sum, final re-rank.
    */
  private lazy val searchHybridSql =
    s"""WITH $vecsSql,
       ${edgesSqlFrom("documents")}, $sizesSql,
       sem AS (
         SELECT q_id, vec_b, rnk FROM (
           SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                  CAST(row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY $dotSql / (sqrt(a.nsq) * sqrt(b.nsq)) DESC, b.vec_id) AS INTEGER) AS rnk
           FROM n a JOIN n b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id) t
         WHERE rnk <= $HybridLegK),
       li AS (
         SELECT a.doc_id AS q_id, b.doc_id AS doc_b, count(*) AS i
         FROM edges a JOIN edges b ON a.shingle = b.shingle
         WHERE a.doc_id % $QueryMod = 0 AND a.doc_id <> b.doc_id
         GROUP BY 1, 2),
       lj AS (
         SELECT q_id, doc_b, i / (sa.n_sh + sb.n_sh - i) AS j
         FROM li JOIN sizes sa ON q_id = sa.doc_id
         JOIN sizes sb ON doc_b = sb.doc_id),
       lex AS (
         SELECT q_id, doc_b, rnk FROM (
           SELECT q_id, doc_b,
                  CAST(row_number() OVER (PARTITION BY q_id
                    ORDER BY j DESC, doc_b) AS INTEGER) AS rnk
           FROM lj) t
         WHERE rnk <= $HybridLegK),
       f AS (
         SELECT coalesce(s.q_id, l.q_id) AS q_id,
                coalesce(s.vec_b, l.doc_b) AS neighbor_id,
                coalesce(CAST(1 AS DOUBLE) / (s.rnk + 60), 0) +
                coalesce(CAST(1 AS DOUBLE) / (l.rnk + 60), 0) AS rrf
         FROM sem s FULL OUTER JOIN lex l
           ON s.q_id = l.q_id AND s.vec_b = l.doc_b)
       SELECT q_id, rnk, neighbor_id, round(rrf, 6) AS rrf
       FROM (SELECT q_id, neighbor_id, rrf,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY rrf DESC, neighbor_id) AS INTEGER) AS rnk
             FROM f) t
       WHERE rnk <= $TopK"""

  /** Fixed Lloyd-iteration count for the k-means-refined IVF — small and
    * constant (quality saturates fast on a coarse quantizer), which is
    * also what lets the oracle UNROLL the loop as CTE chains.
    */
  private val KmIters = 2

  private def annIvfKmeans(s: SparkSession, d: String): DataFrame =
    Similarity.ivfKmeansTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", TopK, IvfCentroidEvery, KmIters)

  /** Twin of Similarity.ivfKmeansTopK. The Lloyd mean runs on the 2^20
    * integer grid image (exact BIGINT sums, one long/long division —
    * both order-free), so each round is bit-reproducible here and the
    * fixed iteration count unrolls as a$k/m$k/c$k CTE chains from the
    * seeded c0. Assignment/search cosines are the usual ordered folds.
    */
  /** Shared Lloyd CTE chain (si grid image, seeded c0, a$k/m$k/c$k
    * rounds, final assignment) — twin of Similarity.kmBase/kmRefine/
    * kmAssign, reused by the k-means IVF and semantic-dedup oracles.
    */
  private def kmCtesSql(iters: Int): String = {
    val grid = Similarity.CentroidGrid
    def assignCos(s: String, c: String) =
      s"${dotOf(s"$s.vec", s"$c.cvec")} / (sqrt($s.nsq) * sqrt($c.cn))"
    val rounds = (1 to iters).map { it =>
      s"""a$it AS (
           SELECT vid, cell FROM (
             SELECT s.vec_id AS vid, c.cent_id AS cell,
                    row_number() OVER (PARTITION BY s.vec_id
                      ORDER BY ${assignCos("s", "c")} DESC, c.cent_id ASC) AS rn
             FROM si s, c${it - 1} c) t
           WHERE rn = 1),
         m$it AS (
           SELECT a.cell, r.range AS d,
                  CAST(sum(s.si[r.range + 1]) AS BIGINT)
                    / CAST(count(*) * $grid AS BIGINT) AS m
           FROM a$it a JOIN si s ON a.vid = s.vec_id
           CROSS JOIN range(0, $EmbDim) r
           GROUP BY 1, 2),
         c$it AS (
           SELECT cent_id, cvec,
                  list_reduce(list_transform(range(1, len(cvec) + 1),
                    i -> cvec[i] * cvec[i]), (x, y) -> x + y) AS cn
           FROM (SELECT cell AS cent_id, list(m ORDER BY d) AS cvec
                 FROM m$it GROUP BY cell) t)"""
    }.mkString(",\n       ")
    s"""$vecsSql,
       si AS (SELECT vec_id, vec, nsq,
                list_transform(vec, x -> CAST(round(x * $grid) AS BIGINT)) AS si
              FROM n),
       c0 AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
              FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       $rounds,
       fin AS (
         SELECT s.vec_id AS vid, s.vec, s.nsq, c.cent_id AS cell,
                row_number() OVER (PARTITION BY s.vec_id
                  ORDER BY ${assignCos("s", "c")} DESC, c.cent_id ASC) AS rn
         FROM si s, c$iters c),
       assign AS (SELECT vid, vec, nsq, cell FROM fin WHERE rn = 1)"""
  }

  private lazy val annIvfKmeansSql =
    s"""WITH ${kmCtesSql(KmIters)},
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b,
                ${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq)) AS cosine
         FROM assign q JOIN assign c
           ON q.cell = c.cell AND q.vid % $QueryMod = 0 AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""

  /** ANN quality evaluation: recall@k of each approximate method against
    * the brute-force ground truth — the dial (nprobe, band count,
    * codebook size) every ANN deployment tunes. The truth is computed
    * once and semi-joined per method (see Similarity.recallAtK).
    */
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      Seq(
        "ivf" -> Similarity.ivfTopK(corpus, q, "vec_id", "embedding", TopK, IvfCentroidEvery),
        "ivf2" -> Similarity.ivfTopK(corpus, q, "vec_id", "embedding", TopK,
          IvfCentroidEvery, nprobe = 2),
        "lsh" -> Similarity.lshTopK(corpus, q, "vec_id", "embedding", TopK,
          LshBands, LshPlanesPerBand, EmbDim),
        "hnsw" -> Similarity.graphTopK(corpus, q, "vec_id", "embedding",
          TopK, IvfCentroidEvery, HnswEntryEvery, HnswM, HnswBeam,
          HnswRounds)),
      TopK)
  }

  /** One method's recall row: exact truth LEFT JOIN the method's result
    * on (q_id, neighbor_id) — approximate top-k rows are unique per
    * (query, neighbor), so the join multiplicity is at most 1 and
    * count(matched) ≡ the Spark side's semi-join count.
    */
  private def recallRowSql(method: String, methodSql: String): String =
    s"""SELECT '$method' AS method,
              CAST(count(DISTINCT e.q_id) AS INTEGER) AS n_queries,
              CAST(count(a.neighbor_id) AS INTEGER) AS n_hits,
              round(count(a.neighbor_id) * 1.0 /
                    (count(DISTINCT e.q_id) * $TopK), 6) AS recall_k
       FROM ($annTopKSql) e LEFT JOIN ($methodSql) a
         ON e.q_id = a.q_id AND e.neighbor_id = a.neighbor_id"""

  private lazy val annRecallSql =
    Seq("ivf" -> annIvfSql, "ivf2" -> annIvf2Sql, "lsh" -> annLshSql,
        "hnsw" -> annHnswSql)
      .map { case (m, sql) => recallRowSql(m, sql) }
      .mkString("\nUNION ALL\n")

  /** Matryoshka (truncated-dimension) retrieval evaluation: recall@k of
    * brute-force search over PREFIX dims {8, 16, 32} of the 64-d
    * embedding against the full-dim truth — the dial a matryoshka-
    * trained embedding deployment tunes (serve a prefix, pay a known
    * recall cost; at 100 TB a 8× narrower vector is 8× less scan, ANN
    * memory, and shuffle). Same machinery as ext_ann_recall: each
    * truncated search is the broadcast-query brute-force kernel over
    * `slice(embedding, 1, d)` (the oracle slices identically, so the
    * double-widened ordered folds stay bit-equal), semi-joined against
    * the one shared truth.
    */
  private val MatryoshkaDims = Seq(8, 16, 32)

  private def annMatryoshka(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    def trunc(df: DataFrame, dim: Int): DataFrame =
      df.withColumn("embedding", slice(col("embedding"), 1, dim))
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      MatryoshkaDims.map(dim => s"dim$dim" ->
        Similarity.bruteForceTopK(trunc(corpus, dim), trunc(q, dim),
          "vec_id", "embedding", TopK)),
      TopK)
  }

  /** annTopKSql with the vectors sliced to the first `dim` components
    * before the double-widening fold — the truncated brute-force twin.
    */
  private def truncTopKSql(dim: Int): String =
    s"""WITH vt AS (SELECT vec_id,
              list_transform(embedding[1:$dim], x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings),
       nt AS (SELECT vec_id, vec,
               list_reduce(list_transform(range(1, len(vec) + 1), i -> vec[i] * vec[i]),
                           (a, b) -> a + b) AS nsq
             FROM vt),
       scored AS (
         SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("a.vec", "b.vec")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         FROM nt a JOIN nt b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""

  private lazy val annMatryoshkaSql =
    MatryoshkaDims.map(dim => recallRowSql(s"dim$dim", truncTopKSql(dim)))
      .mkString("\nUNION ALL\n")

  /** Johnson–Lindenstrauss RANDOM-PROJECTION retrieval evaluation:
    * recall@k of brute-force search over sign-flip projections of the
    * 64-d embedding to {8, 16, 32} dims against the full-dim truth —
    * the matryoshka comparison for embeddings NOT trained with
    * prefix-dim structure: a dense ±1 mixing matrix preserves pairwise
    * cosines in expectation (JL), where a raw prefix slice only works
    * if training arranged the information that way. At 100 TB the
    * payoff is identical to matryoshka's (narrower vectors = propor-
    * tionally less scan, ANN memory, and shuffle) but needs no special
    * training — the projection is applied at INGEST in the same pass
    * that writes the vectors.
    *
    * Determinism: the ±1 signs come from the LSH hyperplane LCG family
    * (Similarity.planeCoef's constants) on the integer pair (j·D + i) —
    * pure BIGINT arithmetic in both engines; each projected component
    * is an ordered fold of ±v_i in DOUBLE (init 0.0 ≡ DuckDB's
    * first-element seed under IEEE), so projected vectors, norms, and
    * cosines are bit-equal and the whole recall chain is exact.
    */
  private val RandProjDims = Seq(8, 16, 32)

  /** ±1-sign projection of the 64-d `embedding` column to p dims. */
  private def randProjCol(p: Int): org.apache.spark.sql.Column =
    expr(s"""transform(sequence(0, ${p - 1}), j ->
      aggregate(sequence(0, ${EmbDim - 1}), CAST(0.0 AS DOUBLE), (acc, i) ->
        acc + (CASE WHEN (CAST(1103515245 AS BIGINT) * (j * $EmbDim + i) + 12345) % 2048 < 1024
                    THEN 1 ELSE -1 END)
              * CAST(element_at(embedding, i + 1) AS DOUBLE)))""")

  private def annRandProj(s: SparkSession, d: String): DataFrame = {
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    def proj(df: DataFrame, p: Int): DataFrame =
      df.withColumn("embedding", randProjCol(p))
    Similarity.recallAtK(
      Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      RandProjDims.map(p => s"proj$p" ->
        Similarity.bruteForceTopK(proj(corpus, p), proj(q, p),
          "vec_id", "embedding", TopK)),
      TopK)
  }

  /** annTopKSql over the ±1-projected vectors — the JL twin of
    * truncTopKSql, identical sign arithmetic and fold order.
    */
  private def projTopKSql(p: Int): String =
    s"""WITH pv AS (SELECT vec_id,
          list_transform(range(0, $p), j -> list_reduce(
            list_transform(range(0, $EmbDim), i ->
              (CASE WHEN (CAST(1103515245 AS BIGINT) * (j * $EmbDim + i) + 12345) % 2048 < 1024
                    THEN 1 ELSE -1 END)
              * CAST(embedding[i + 1] AS DOUBLE)),
            (a, b) -> a + b)) AS vec
        FROM embeddings),
       pn AS (SELECT vec_id, vec, ${listNormSq("vec")} AS nsq FROM pv),
       scored AS (
         SELECT a.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("a.vec", "b.vec")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         FROM pn a JOIN pn b ON a.vec_id % $QueryMod = 0 AND a.vec_id <> b.vec_id)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""

  private lazy val annRandProjSql =
    RandProjDims.map(p => recallRowSql(s"proj$p", projTopKSql(p)))
      .mkString("\nUNION ALL\n")

  /** Embedding-quality probe: kNN label prediction accuracy per true
    * label — majority vote over exact top-k neighbor labels, ties to the
    * smallest label (see Similarity.knnClassify for the scale shape).
    */
  private def annKnnClass(s: SparkSession, d: String): DataFrame =
    Similarity.knnClassify(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", "label", TopK)
      .groupBy("true_label")
      .agg(count(lit(1)).cast("int").as("n_queries"),
        sum(when(col("pred_label") === col("true_label"), 1).otherwise(0))
          .cast("int").as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct") / col("n_queries"), 6))

  private val annKnnClassSql =
    s"""WITH tk AS ($annTopKSql),
       nb AS (SELECT tk.q_id, e.label FROM tk
              JOIN embeddings e ON tk.neighbor_id = e.vec_id),
       votes AS (SELECT q_id, label, count(*) AS c FROM nb GROUP BY 1, 2),
       pred AS (SELECT q_id, label AS pred_label FROM (
                  SELECT q_id, label,
                         row_number() OVER (PARTITION BY q_id
                           ORDER BY c DESC, label ASC) AS rn
                  FROM votes) t WHERE rn = 1),
       j AS (SELECT e.label AS true_label,
                    CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS ok
             FROM pred p JOIN embeddings e ON p.q_id = e.vec_id)
       SELECT true_label,
              CAST(count(*) AS INTEGER) AS n_queries,
              CAST(sum(ok) AS INTEGER) AS n_correct,
              round(sum(ok) * 1.0 / count(*), 6) AS accuracy
       FROM j GROUP BY 1"""

  /** Ranking-quality evaluation: micro-averaged nDCG@k per ANN method,
    * with binary relevance = neighbor shares the query's label. The
    * float-log hazard (ln/log2 differ in the last ulp across engines)
    * is removed at the source: the rank discounts 2^20/log2(i+1) are
    * computed ONCE in Scala and injected as identical BIGINT literals
    * into both the Column chain and the oracle SQL, so per-query DCG
    * and the ideal IDCG (prefix sums of the same table, truncated at
    * min(k, n_same_label - 1)) are exact integer sums; the single float
    * op is the final round-6 division of two BIGINTs. Micro-averaging
    * (sum DCG / sum IDCG) keeps the aggregate order-free where a mean
    * of per-query ratios would not be.
    *
    * Scale shape: per method, the query-bounded top-k list BROADCASTS
    * onto the label table (which never shuffles — the knnclass
    * discipline); the query-label and label-count attaches are
    * broadcast joins of query-set / |labels|-sized frames. Everything
    * past the method's own search is n_queries x k rows.
    */
  private val NdcgGrid = 1L << 20
  private lazy val NdcgDisc: Seq[Long] = (1 to TopK)
    .map(i => Math.round(NdcgGrid / (Math.log(i + 1.0) / Math.log(2.0))))
  private lazy val NdcgPrefix: Seq[Long] = NdcgDisc.scanLeft(0L)(_ + _).tail

  private def annNdcg(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val labelCounts = emb.groupBy("label")
      .agg(count(lit(1)).as("n_label"))
      .withColumnRenamed("label", "q_label")
    val qlab = emb.where(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"))
    val corpus = Tables.embeddings(s, d)
    val q = annQueries(s, d)
    val disc = NdcgDisc.zipWithIndex.foldLeft(lit(0L)) {
      case (els, (dv, i)) => when(col("rnk") === (i + 1), dv).otherwise(els)
    }
    val ideal = least(col("n_label") - 1, lit(TopK))
    val idcg = NdcgPrefix.zipWithIndex.foldLeft(lit(0L)) {
      case (els, (pv, j)) => when(ideal === (j + 1), pv).otherwise(els)
    }
    val methods = Seq(
      "brute" -> Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", TopK),
      "ivf" -> Similarity.ivfTopK(corpus, q, "vec_id", "embedding", TopK,
        IvfCentroidEvery),
      "lsh" -> Similarity.lshTopK(corpus, q, "vec_id", "embedding", TopK,
        LshBands, LshPlanesPerBand, EmbDim))
    methods.map { case (name, res) =>
      emb.select(col("vec_id").as("neighbor_id"), col("label").as("nb_label"))
        .join(broadcast(res), Seq("neighbor_id"))
        .join(broadcast(qlab), Seq("q_id"))
        .join(broadcast(labelCounts), Seq("q_label"))
        .groupBy("q_id")
        .agg(
          sum(when(col("nb_label") === col("q_label"), disc).otherwise(0L))
            .as("dcg"),
          max(idcg).as("idcg")) // constant per query (one label)
        .agg(count(lit(1)).cast("int").as("n_queries"),
          sum(col("dcg")).as("dcg_grid"),
          sum(col("idcg")).as("idcg_grid"))
        .select(lit(name).as("method"), col("n_queries"),
          col("dcg_grid"), col("idcg_grid"),
          round(col("dcg_grid") / col("idcg_grid"), 6).as("micro_ndcg"))
    }.reduce(_.unionByName(_))
  }

  private def ndcgRowSql(method: String, methodSql: String): String = {
    val discSql = NdcgDisc.zipWithIndex
      .map { case (dv, i) => s"WHEN t.rnk = ${i + 1} THEN $dv" }
      .mkString("CASE ", " ", " ELSE 0 END")
    val idcgSql = NdcgPrefix.zipWithIndex
      .map { case (pv, j) => s"WHEN least(lc.n_label - 1, $TopK) = ${j + 1} THEN $pv" }
      .mkString("CASE ", " ", " ELSE 0 END")
    s"""SELECT '$method' AS method,
              CAST(count(*) AS INTEGER) AS n_queries,
              CAST(sum(dcg) AS BIGINT) AS dcg_grid,
              CAST(sum(idcg) AS BIGINT) AS idcg_grid,
              round(sum(dcg) * 1.0 / sum(idcg), 6) AS micro_ndcg
       FROM (
         SELECT t.q_id,
                sum(CASE WHEN ne.label = qe.label THEN $discSql ELSE 0 END) AS dcg,
                max($idcgSql) AS idcg
         FROM ($methodSql) t
         JOIN embeddings ne ON t.neighbor_id = ne.vec_id
         JOIN embeddings qe ON t.q_id = qe.vec_id
         JOIN (SELECT label, count(*) AS n_label FROM embeddings GROUP BY 1) lc
           ON qe.label = lc.label
         GROUP BY t.q_id) p"""
  }

  private lazy val annNdcgSql =
    Seq("brute" -> annTopKSql, "ivf" -> annIvfSql, "lsh" -> annLshSql)
      .map { case (m, sql) => ndcgRowSql(m, sql) }
      .mkString("\nUNION ALL\n")

  /** Cross-source QUALITY NORMALIZATION: each document's quality as a
    * percentile rank WITHIN ITS SOURCE — the calibration step before a
    * single global threshold: raw quality scores are not comparable
    * across sources (a clean-wiki source's median outscores a forum
    * dump's p90), so curation thresholds are applied to the per-source
    * percentile, not the raw score. percent_rank = (rank-1)/(n-1) with
    * RANK ties — an exact small-integer ratio, identical in any engine;
    * the one per-source window is the only shuffle.
    */
  private def corpusQnorm(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val q = TextAnalysis.qualityScore(t)
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"), q.as("quality"))
      .withColumn("q_pct",
        round(percent_rank().over(
          Window.partitionBy("source").orderBy(col("quality"))), 6))
  }

  private val corpusQnormSql =
    s"""WITH b AS (
         SELECT doc_id, source,
                len(list_distinct(string_split(text, ' '))) AS n_types,
                len(string_split(text, ' ')) AS n_tokens,
                len(list_filter(string_split(text, ' '),
                    t -> t IN ($stopListSql))) AS n_stop
         FROM documents),
       sc AS (SELECT doc_id, source,
                ${qualitySqlOver("n_types", "n_tokens", "n_stop")} AS quality
              FROM b)
       SELECT doc_id, source, quality,
              round(percent_rank() OVER (PARTITION BY source ORDER BY quality), 6)
                AS q_pct
       FROM sc"""

  /** Contrastive triplets (see Similarity.contrastiveTriplets): anchor +
    * nearest same-label positive + nearest different-label hard negative.
    */
  private def annTriplets(s: SparkSession, d: String): DataFrame =
    Similarity.contrastiveTriplets(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", "label", TopK)

  private val annTripletsSql =
    s"""WITH tk AS ($annTopKSql),
       q AS (SELECT vec_id AS q_id, label AS qlbl FROM embeddings
             WHERE vec_id % $QueryMod = 0),
       tagged AS (
         SELECT tk.q_id, tk.rnk, tk.neighbor_id, (e.label = q.qlbl) AS same
         FROM tk JOIN embeddings e ON tk.neighbor_id = e.vec_id
                 JOIN q ON q.q_id = tk.q_id),
       firsts AS (
         SELECT q_id,
                arg_min(neighbor_id, rnk) FILTER (WHERE same) AS pos_id,
                min(rnk) FILTER (WHERE same) AS pos_rank,
                arg_min(neighbor_id, rnk) FILTER (WHERE NOT same) AS neg_id,
                min(rnk) FILTER (WHERE NOT same) AS neg_rank
         FROM tagged GROUP BY 1)
       SELECT q_id, pos_id, pos_rank, neg_id, neg_rank
       FROM firsts WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL"""

  /** Per-label centroid drift (see Similarity.centroidCosines — exact
    * grid sums; the 1/n centroid scaling cancels in cosine).
    */
  private def embCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.centroidCosines(Tables.embeddings(s, d), "embedding", "label")

  private val embCentroidsSql = {
    val g = Similarity.CentroidGrid
    s"""WITH q AS (
         SELECT label, i AS pos,
                CAST(floor(CAST(embedding[i] AS DOUBLE) * $g + 0.5) AS BIGINT) AS q
         FROM embeddings, range(1, ${EmbDim + 1}) t(i)),
       sums AS (
         SELECT label, pos, CAST(sum(q) AS BIGINT) AS cs, count(*) AS cnt
         FROM q GROUP BY 1, 2),
       wg AS (SELECT label, pos, cs, cnt,
                CAST(sum(cs) OVER (PARTITION BY pos) AS BIGINT) AS cg
              FROM sums)
       SELECT label, CAST(max(cnt) AS BIGINT) AS n_vecs,
              round(CAST(sum(CAST(cs AS HUGEINT) * cg) AS DOUBLE) /
                    (sqrt(CAST(sum(CAST(cs AS HUGEINT) * cs) AS DOUBLE)) *
                     sqrt(CAST(sum(CAST(cg AS HUGEINT) * cg) AS DOUBLE))), 6)
                AS cos_to_global
       FROM wg GROUP BY 1"""
  }

  /** First-relevant-rank histogram (see Similarity.firstRelevantRank —
    * the exact-integer MRR stand-in).
    */
  private def annFirstRel(s: SparkSession, d: String): DataFrame =
    Similarity.firstRelevantRank(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", "label", TopK)
      .groupBy("first_rank")
      .agg(count(lit(1)).cast("int").as("n_queries"))

  private val annFirstRelSql =
    s"""WITH tk AS ($annTopKSql),
       q AS (SELECT vec_id AS q_id, label AS qlbl FROM embeddings
             WHERE vec_id % $QueryMod = 0),
       rel AS (SELECT tk.q_id, min(tk.rnk) AS first_rank
               FROM tk JOIN embeddings e ON tk.neighbor_id = e.vec_id
                       JOIN q ON q.q_id = tk.q_id AND e.label = q.qlbl
               GROUP BY 1)
       SELECT coalesce(first_rank, 0) AS first_rank,
              CAST(count(*) AS INTEGER) AS n_queries
       FROM q LEFT JOIN rel ON q.q_id = rel.q_id GROUP BY 1"""

  /** SemDeDup similarity floor: LOW on purpose — the synthetic
    * embeddings are isotropic, so genuinely near-parallel pairs are
    * rare; 0.4 matches the brute-force embcos tau, making the two
    * results directly comparable (semantic = embcos ∩ same-cell).
    */
  private val SemTau = EmbCosTau

  private def dedupSemantic(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedupPairs(Tables.embeddings(s, d),
      "vec_id", "embedding", IvfCentroidEvery, KmIters, SemTau)

  /** Twin of Similarity.semanticDedupPairs: the kmCtesSql Lloyd chain,
    * then cluster-mate pairs only (a.cell = b.cell), same ordered-fold
    * cosine and HALF_UP rounding as the embcos twins.
    */
  private lazy val dedupSemanticSql =
    s"""WITH ${kmCtesSql(KmIters)},
       scored AS (
         SELECT a.vid AS vec_a, b.vid AS vec_b, a.cell,
                ${dotOf("a.vec", "b.vec")} / (sqrt(a.nsq) * sqrt(b.nsq)) AS cosine
         FROM assign a JOIN assign b
           ON a.cell = b.cell AND a.vid < b.vid)
       SELECT vec_a, vec_b, cell, round(cosine, 6) AS cos_r
       FROM scored WHERE cosine >= $SemTau"""

  private def embQuant(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, d), "vec_id", "embedding")

  /** Twin of Similarity.quantizeInt8: same scale/floor(+0.5)/
    * reconstruct op sequence (decimal round() disagrees between engines
    * on doubles — see the operator scaladoc); max and count are
    * fold-order-free, so no ordered-fold machinery is needed.
    */
  private val embQuantSql =
    """WITH v AS (SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         FROM embeddings),
       s AS (SELECT vec_id, vec,
           list_reduce(list_transform(vec, x -> abs(x)),
             (a, b) -> CASE WHEN b > a THEN b ELSE a END) / 127.0 AS scale
         FROM v),
       q AS (SELECT vec_id, vec, scale,
           CASE WHEN scale = 0
                THEN list_transform(vec, x -> 0)
                ELSE list_transform(vec, x -> CAST(floor(x / scale + 0.5) AS INTEGER))
           END AS qv
         FROM s)
       SELECT vec_id, round(scale, 6) AS scale,
         round(list_reduce(
           list_transform(range(1, len(vec) + 1), i -> abs(vec[i] - qv[i] * scale)),
           (a, b) -> CASE WHEN b > a THEN b ELSE a END), 6) AS max_err,
         CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INTEGER) AS n_saturated
       FROM q"""

  // ------------------------------------------------------------- multimodal

  private def mmProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), count(col("k")).as("n_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"),
        sum(col("k")).cast("long").as("sum_k"))

  private val mmPropsSql =
    """SELECT event_type, count(*) AS n, count(k) AS n_k,
              min(k) AS min_k, max(k) AS max_k,
              CAST(sum(k) AS BIGINT) AS sum_k
       FROM (SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
             FROM events) t
       GROUP BY event_type"""

  private def mmDecode(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeFeatures(
      Multimodal.withPayload(Tables.documents(s, d), "doc_id", "text"))

  private val mmDecodeSql =
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
              CAST(64 + octet_length(encode(text)) % 577 AS INTEGER) AS width,
              CAST(64 + (octet_length(encode(text)) * 31) % 389 AS INTEGER) AS height,
              CAST(1 + octet_length(encode(text)) % 7 AS INTEGER) AS n_frames,
              CAST(list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(regexp_extract_all(text, '(?s).'),
                         c -> CAST(ascii(c) AS BIGINT))),
                     (a, b) -> a + b)
                   % 1000000007 AS BIGINT) AS checksum
       FROM documents"""

  /** CDC FOLD WITH DELETES over real tables (Scd2Stream.applyCdc): the
    * customer dimension (all rows current from epoch 0, value =
    * mktsegment) folded with one changefeed batch derived from orders —
    * each customer's latest order (ts = epoch day; (ts, op, v) total
    * order collapses in-batch duplicates), op = D when the order status
    * is final ('F'), else U carrying the order priority. Exercises
    * every lane at once on real data: expirations without a successor
    * (deletes), value-change expire+open, no-op suppression
    * (customers whose latest priority equals... none here — mktsegment
    * ≠ priority, so every U is a change), and untouched keys
    * (customers with no orders). The oracle restates the same rules in
    * a different shape — latest window, null-safe change guard, closing
    * union, NOT EXISTS untouched — an independent check of the
    * single-pass fold.
    *
    * Scale shape: one collect picks each key's winner, each task among
    * its partition's rows and the driver among the tasks' winners (at
    * 100 TB the feed is a day's delta, not history — its winners must
    * fit the driver; here it is the whole orders table, one winner per
    * ordering customer), then ONE pass over the dimension looks up
    * each open row's winner in a hash table shipped with the plan
    * (history rows pass through), and one probe of the open keys
    * leaves the first opens, appended as a local relation: two jobs,
    * run when the frame is built, before the result's own; no shuffle,
    * broadcast or join.
    */
  private def scd2Cdc(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.customer(s, d).select(
      col("c_custkey").as("k"), col("c_mktsegment").as("v"),
      lit(0L).as("effective_from"),
      lit(null).cast("long").as("effective_to"),
      lit(1).as("is_current"))
    val changes = Tables.orders(s, d).select(
      col("o_custkey").as("k"), col("o_orderpriority").as("v"),
      // o_orderdate ships as TIMESTAMP_NTZ; the session is pinned UTC, so
      // NTZ -> TIMESTAMP keeps the instant and the long cast is epoch
      // seconds — same day number as the oracle's epoch_ns // dayNs
      expr("CAST(CAST(o_orderdate AS TIMESTAMP) AS LONG) div 86400").as("ts"),
      when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"))
    graft.streaming.Scd2Stream.applyCdc(dim, changes, "k", "v", "ts", "op")
  }

  private val scd2CdcSql =
    s"""WITH dim AS (
         SELECT c_custkey AS k, c_mktsegment AS v,
                CAST(0 AS BIGINT) AS effective_from,
                CAST(NULL AS BIGINT) AS effective_to, 1 AS is_current
         FROM customer),
       ch AS (
         SELECT o_custkey AS k, o_orderpriority AS v,
                CAST(epoch_ns(o_orderdate) // $ZDayNs AS BIGINT) AS ts,
                CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
         FROM orders),
       latest AS (
         SELECT k, v, ts, op FROM (
           SELECT ch.*, row_number() OVER (PARTITION BY k
             ORDER BY ts DESC, op DESC, v DESC) AS rn
           FROM ch WHERE k IS NOT NULL) t
         WHERE rn = 1),
       cur AS (SELECT * FROM dim WHERE is_current = 1),
       hist AS (SELECT * FROM dim WHERE is_current = 0),
       j AS (SELECT l.k, l.v, l.ts, l.op, c.v AS cur_v,
                    c.effective_from AS cur_from,
                    CASE WHEN c.k IS NOT NULL THEN 1 END AS has_cur
             FROM latest l LEFT JOIN cur c USING (k)),
       dels AS (SELECT k, ts FROM j
                WHERE op = 'D' AND has_cur = 1 AND ts > cur_from),
       ups AS (SELECT k, v, ts FROM j
               WHERE op <> 'D'
                 AND (has_cur IS NULL OR NOT (cur_v IS NOT DISTINCT FROM v))
                 AND (cur_from IS NULL OR ts > cur_from)),
       closing AS (SELECT k, ts AS new_from FROM ups
                   UNION ALL SELECT k, ts FROM dels),
       expired AS (SELECT c.k, c.v, c.effective_from,
                          cl.new_from AS effective_to, 0 AS is_current
                   FROM cur c JOIN closing cl USING (k)),
       untouched AS (SELECT c.* FROM cur c
                     WHERE NOT EXISTS (SELECT 1 FROM closing cl
                                       WHERE cl.k = c.k)),
       newcur AS (SELECT k, v, ts AS effective_from,
                         CAST(NULL AS BIGINT) AS effective_to, 1 AS is_current
                  FROM ups)
       SELECT k, v, CAST(effective_from AS BIGINT) AS effective_from,
              CAST(effective_to AS BIGINT) AS effective_to,
              CAST(is_current AS INTEGER) AS is_current
       FROM (SELECT * FROM hist UNION ALL SELECT * FROM expired
             UNION ALL SELECT * FROM untouched
             UNION ALL SELECT * FROM newcur)"""

  // ------------------------------------------------------------ time series

  /** As-of join over the events stream: each purchase gets the latest
    * click at-or-before it by the same user (Relational.asofJoin's
    * union+window form; the oracle emulates it with the identical
    * IGNORE NULLS carry-forward window).
    */
  private def asof(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    graft.operators.Relational
      .asofJoin(purchases, clicks, "user_id", "ts", "event_id",
        Seq("click_id", "click_value"))
      .select("event_id", "user_id", "click_id", "click_value")
  }

  private val asofSql =
    """WITH u AS (
         SELECT user_id, ts, event_id,
                CAST(NULL AS BIGINT) AS click_id,
                CAST(NULL AS DOUBLE) AS click_value, 0 AS is_r
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, ts, event_id, event_id, value, 1
         FROM events WHERE event_type = 'click'),
       w AS (
         SELECT *,
           last_value(click_id IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_click_id,
           last_value(click_value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_click_value
         FROM u)
       SELECT event_id, user_id, a_click_id AS click_id,
              a_click_value AS click_value
       FROM w WHERE is_r = 0"""

  /** The same purchases←clicks as-of lookup through the PHYSICAL merge
    * operator (plans/AsofJoin.scala): AsofJoinPlan → AsofJoinExec via the
    * strategy GraftExtensions injects — one exchange + one LOCAL sort per
    * side and a single-pass O(|L|+|R|) merge, instead of the union form's
    * shared window sort over both tables. Same deterministic
    * carry-forward-window SQL oracle as ext_asof_join: the two engines
    * AND the two physical strategies must all agree row-for-row.
    */
  private def asofExec(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    graft.plans.AsofJoin
      .asofJoinExec(purchases, clicks, "user_id", "ts", "event_id",
        Seq("click_id", "click_value"), broadcast = Some(false))
      .select("event_id", "user_id", "click_id", "click_value")
  }

  /** Forward as-of through the merge exec: each purchase gets the
    * EARLIEST click at-or-after it by the same user, but only within a
    * 1-hour tolerance — the "next action after the event" lookup
    * (pandas merge_asof direction='forward', tolerance=1h). Out-of-
    * tolerance purchases keep their row with null payload. Oracle is the
    * mirror-image window: first_value IGNORE NULLS over the following
    * frame, ties at equal ts -> smallest event_id, the carried click ts
    * distance-checked in ns.
    */
  /** The forward+tolerance as-of written in PLAIN SQL through the
    * marker surface — gates the direction/tolerance ARG-LIST path of
    * graft_asof end-to-end (SqlJoinMarkerSpec pins it row-level; this
    * puts it behind the driver's oracle too). Same oracle as
    * ext_asof_fwd.
    */
  private def asofFwdSqlSurface(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .createOrReplaceTempView("graft_sql_fwd_p")
    ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
      .createOrReplaceTempView("graft_sql_fwd_c")
    s.sql(s"""SELECT /*+ MERGE(c) */ p.event_id, p.user_id,
                     c.click_id, c.click_value
              FROM graft_sql_fwd_p p LEFT JOIN graft_sql_fwd_c c
                ON p.user_id <=> c.user_id
               AND graft_asof(p.ts, c.ts, c.event_id, 'forward',
                              ${3600L * 1000000000L}L)""")
  }

  private def asofFwd(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    graft.plans.AsofJoin
      .asofJoinExec(purchases, clicks, "user_id", "ts", "event_id",
        Seq("click_id", "click_value"), "forward",
        toleranceNs = Some(3600L * 1000000000L), broadcast = Some(false))
      .select("event_id", "user_id", "click_id", "click_value")
  }

  private val asofFwdSql =
    """WITH u AS (
         SELECT user_id, ts, event_id,
                CAST(NULL AS BIGINT) AS click_id,
                CAST(NULL AS DOUBLE) AS click_value,
                CAST(NULL AS BIGINT) AS r_ts, 0 AS is_r
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, ts, event_id, event_id, value, epoch_ns(ts), 1
         FROM events WHERE event_type = 'click'),
       w AS (
         SELECT *,
           first_value(click_id IGNORE NULLS) OVER fw AS f_click_id,
           first_value(click_value IGNORE NULLS) OVER fw AS f_click_value,
           first_value(r_ts IGNORE NULLS) OVER fw AS f_ts
         FROM u
         WINDOW fw AS (PARTITION BY user_id ORDER BY ts, is_r, event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT event_id, user_id,
         CASE WHEN f_ts - epoch_ns(ts) <= 3600000000000 THEN f_click_id END
           AS click_id,
         CASE WHEN f_ts - epoch_ns(ts) <= 3600000000000 THEN f_click_value END
           AS click_value
       FROM w WHERE is_r = 0"""

  /** Nearest as-of through the merge exec: whichever of the
    * latest-at-or-before / earliest-at-after clicks is closer in |Δts|;
    * equal distance resolves to the backward one — the engine's FIXED
    * deterministic rule, encoded identically in the oracle's CASE. The
    * oracle runs BOTH carry windows (opposite orderings, opposite
    * frames) and arbitrates on the carried ns distances.
    */
  private def asofNearest(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    graft.plans.AsofJoin
      .asofJoinExec(purchases, clicks, "user_id", "ts", "event_id",
        Seq("click_id", "click_value"), "nearest", broadcast = Some(false))
      .select("event_id", "user_id", "click_id", "click_value")
  }

  private val asofNearestSql =
    """WITH u AS (
         SELECT user_id, ts, event_id,
                CAST(NULL AS BIGINT) AS click_id,
                CAST(NULL AS DOUBLE) AS click_value,
                CAST(NULL AS BIGINT) AS r_ts, 0 AS is_r
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, ts, event_id, event_id, value, epoch_ns(ts), 1
         FROM events WHERE event_type = 'click'),
       w AS (
         SELECT *,
           last_value(click_id IGNORE NULLS) OVER bw AS b_click_id,
           last_value(click_value IGNORE NULLS) OVER bw AS b_click_value,
           last_value(r_ts IGNORE NULLS) OVER bw AS b_ts,
           first_value(click_id IGNORE NULLS) OVER fw AS f_click_id,
           first_value(click_value IGNORE NULLS) OVER fw AS f_click_value,
           first_value(r_ts IGNORE NULLS) OVER fw AS f_ts
         FROM u
         WINDOW
           bw AS (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
                  ROWS UNBOUNDED PRECEDING),
           fw AS (PARTITION BY user_id ORDER BY ts, is_r, event_id
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT event_id, user_id,
         CASE WHEN b_ts IS NOT NULL AND
                   (f_ts IS NULL OR epoch_ns(ts) - b_ts <= f_ts - epoch_ns(ts))
              THEN b_click_id ELSE f_click_id END AS click_id,
         CASE WHEN b_ts IS NOT NULL AND
                   (f_ts IS NULL OR epoch_ns(ts) - b_ts <= f_ts - epoch_ns(ts))
              THEN b_click_value ELSE f_click_value END AS click_value
       FROM w WHERE is_r = 0"""

  /** Dimension-lookup as-of through the BROADCAST exec: every non-signup
    * event picks up the user's latest signup-version at-or-before it —
    * the SCD2 point-in-time enrichment shape. The right side is
    * dimension-sized (one versioned row stream per user), so the
    * strategy's stats check broadcasts it and the FACT side crosses the
    * operator with no exchange and no sort (AsofExecSpec pins exactly
    * that plan). Same carry-forward window oracle as the other as-of
    * lanes.
    */
  private def asofBcast(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val facts = ev.where(col("event_type") =!= "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val dim = ev.where(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("dim_id"), col("value").as("dim_value"))
    graft.plans.AsofJoin
      .asofJoinExec(facts, dim, "user_id", "ts", "event_id",
        Seq("dim_id", "dim_value"))
      .select("event_id", "user_id", "dim_id", "dim_value")
  }

  private val asofBcastSql =
    """WITH u AS (
         SELECT user_id, ts, event_id,
                CAST(NULL AS BIGINT) AS dim_id,
                CAST(NULL AS DOUBLE) AS dim_value, 0 AS is_r
         FROM events WHERE event_type <> 'signup'
         UNION ALL
         SELECT user_id, ts, event_id, event_id, value, 1
         FROM events WHERE event_type = 'signup'),
       w AS (
         SELECT *,
           last_value(dim_id IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_dim_id,
           last_value(dim_value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_dim_value
         FROM u)
       SELECT event_id, user_id, a_dim_id AS dim_id,
              a_dim_value AS dim_value
       FROM w WHERE is_r = 0"""

  /** The purchases←clicks as-of lookup written in PLAIN SQL through the
    * marker surface (plans/MarkerJoins.scala): `LEFT JOIN ... ON
    * user_id <=> user_id AND graft_asof(p.ts, c.ts, c.event_id)`.
    * MarkerJoinRewrite (injected by GraftExtensions) swaps the Join node
    * for AsofJoinPlan, so the SQL text plans as the same merge exec as
    * ext_asof_exec — same oracle, and SqlJoinMarkerSpec holds the SQL
    * and DataFrame faces row-identical with the exec pinned in the
    * plan. The MERGE hint pins the shuffled merge form (everything is
    * broadcast-sized at test SF; at 100 TB the stats rule decides).
    */
  private def asofSqlSurface(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .createOrReplaceTempView("graft_sql_purchases")
    ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
      .createOrReplaceTempView("graft_sql_clicks")
    s.sql("""SELECT /*+ MERGE(c) */ p.event_id, p.user_id,
                    c.click_id, c.click_value
             FROM graft_sql_purchases p LEFT JOIN graft_sql_clicks c
               ON p.user_id <=> c.user_id
              AND graft_asof(p.ts, c.ts, c.event_id)""")
  }

  /** Temporal alignment through the interval overlap exec
    * (plans/IntervalJoin.scala): two per-user validity chains — each
    * click/view value holds until the user's next event of that type,
    * the last version open-ended (null vto = +∞, the SCD2 current-row
    * convention the operator understands natively) — joined on
    * overlapping validity. ext_interval_exec pins the shuffled
    * sweep-line merge (per-side exchange + LOCAL sort, active buffer =
    * concurrent-validity depth); ext_interval_bcast leaves the choice
    * to the stats rule, which broadcasts the dimension-sized chain at
    * test SF and falls back to the merge at scale. Oracle: the naive
    * theta range join — DuckDB can afford it at oracle scale, the
    * engine never plans it.
    */
  private def intervalPairs(s: SparkSession, d: String,
      broadcast: Option[Boolean]): DataFrame = {
    val ev = Tables.events(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("vfrom"), col("event_id"))
    def chain(t: String) = ev.where(col("event_type") === t)
      .select(col("user_id"), col("ts").as("vfrom"), col("event_id"))
      .withColumn("vto", lead(col("vfrom"), 1).over(w))
    val clicks = chain("click").withColumnRenamed("event_id", "l_id")
    val views = chain("view")
      .select(col("user_id"), col("vfrom"), col("vto"),
        col("event_id").as("r_id"))
    graft.plans.IntervalJoin
      .intervalJoinExec(clicks, views, "user_id", "vfrom", "vto",
        Seq("r_id"), broadcast)
      .select("user_id", "l_id", "r_id")
  }

  private def intervalExec(s: SparkSession, d: String): DataFrame =
    intervalPairs(s, d, Some(false))
  private def intervalBcast(s: SparkSession, d: String): DataFrame =
    intervalPairs(s, d, None)

  /** The same validity-chain alignment written in PLAIN SQL through the
    * marker surface: `JOIN ... ON user_id <=> user_id AND
    * graft_overlaps(l.vfrom, l.vto, r.vfrom, r.vto)` — MarkerJoinRewrite
    * swaps the Join for IntervalJoinPlan (null vto = open future rides
    * through untouched; no sentinel projection in the SQL either), the
    * MERGE hint pins the sweep-line merge form. Same naive theta-join
    * oracle as ext_interval_exec.
    */
  private def intervalSqlSurface(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("vfrom"), col("event_id"))
    def chain(t: String) = ev.where(col("event_type") === t)
      .select(col("user_id"), col("ts").as("vfrom"), col("event_id"))
      .withColumn("vto", lead(col("vfrom"), 1).over(w))
    chain("click").withColumnRenamed("event_id", "l_id")
      .createOrReplaceTempView("graft_sql_clickchain")
    chain("view").withColumnRenamed("event_id", "r_id")
      .createOrReplaceTempView("graft_sql_viewchain")
    s.sql("""SELECT /*+ MERGE(r) */ l.user_id, l.l_id, r.r_id
             FROM graft_sql_clickchain l JOIN graft_sql_viewchain r
               ON l.user_id <=> r.user_id
              AND graft_overlaps(l.vfrom, l.vto, r.vfrom, r.vto)""")
  }

  private val intervalSql =
    """WITH c AS (
         SELECT user_id, epoch_ns(ts) AS vfrom,
                lead(epoch_ns(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                  AS vto,
                event_id AS l_id
         FROM events WHERE event_type = 'click'),
       v AS (
         SELECT user_id, epoch_ns(ts) AS vfrom,
                lead(epoch_ns(ts)) OVER
                  (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                  AS vto,
                event_id AS r_id
         FROM events WHERE event_type = 'view')
       SELECT c.user_id, l_id, r_id
       FROM c JOIN v ON c.user_id = v.user_id
        AND c.vfrom < coalesce(v.vto, 9223372036854775807)
        AND v.vfrom < coalesce(c.vto, 9223372036854775807)
        AND c.vfrom < coalesce(c.vto, 9223372036854775807)
        AND v.vfrom < coalesce(v.vto, 9223372036854775807)"""

  /** WHOLE-PROGRAM temporal composite — the point-in-time training-
    * feature join, chained through BOTH custom physical joins: each
    * purchase (1) as-of enriches with the latest click at-or-before it
    * (AsofJoinExec, backward), then (2) aligns into the view-version
    * validity chain ACTIVE at purchase time (IntervalJoinExec with the
    * purchase as the degenerate instant [ts, ts+1) — the point-in-
    * interval spelling), then (3) aggregates per user. This is the
    * leakage-free feature-extraction shape: every attached signal is
    * knowable AT the purchase instant, never after — the property that
    * makes offline features match online serving.
    *
    * Scale shape: two merge joins (one exchange + local sort per side
    * each) + one aggregate — no window over the fact union, no theta
    * scan. Oracle restates step (1) as the carry-forward window, step
    * (2) as the naive point-in-range theta join (excluding empty chain
    * intervals, the operators' documented semantics).
    */
  private def temporalPipeline(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("click_id"), col("value").as("click_value"))
    val enriched = graft.plans.AsofJoin.asofJoinExec(purchases, clicks,
      "user_id", "ts", "event_id", Seq("click_id", "click_value"),
      broadcast = Some(false))
    val vw = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("vfrom"), col("event_id"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vfrom"), col("event_id"))
      .withColumn("vto", lead(col("vfrom"), 1).over(vw))
      .select(col("user_id"), col("vfrom"), col("vto"),
        col("event_id").as("view_id"))
    val pointInTime = enriched
      .withColumn("vfrom", col("ts"))
      .withColumn("vto", col("ts") + lit(1L))
    graft.plans.IntervalJoin.intervalJoinExec(pointInTime, views,
        "user_id", "vfrom", "vto", Seq("view_id"), broadcast = Some(false))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"),
        count(col("click_id")).as("n_clicked"),
        round(sum(col("click_value")), 3).as("sum_click_value"),
        countDistinct(col("view_id")).as("n_view_versions"))
  }

  private val temporalPipelineSql =
    """WITH u AS (
         SELECT user_id, ts, event_id,
                CAST(NULL AS BIGINT) AS click_id,
                CAST(NULL AS DOUBLE) AS click_value, 0 AS is_r
         FROM events WHERE event_type = 'purchase'
         UNION ALL
         SELECT user_id, ts, event_id, event_id, value, 1
         FROM events WHERE event_type = 'click'),
       w AS (
         SELECT *,
           last_value(click_id IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_click_id,
           last_value(click_value IGNORE NULLS) OVER
             (PARTITION BY user_id ORDER BY ts, is_r DESC, event_id
              ROWS UNBOUNDED PRECEDING) AS a_click_value
         FROM u),
       e AS (SELECT user_id, epoch_ns(ts) AS pts, event_id,
                    a_click_id AS click_id, a_click_value AS click_value
             FROM w WHERE is_r = 0),
       v AS (SELECT user_id, epoch_ns(ts) AS vfrom,
                    lead(epoch_ns(ts)) OVER
                      (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                      AS vto,
                    event_id AS view_id
             FROM events WHERE event_type = 'view'),
       al AS (SELECT e.user_id, e.click_id, e.click_value, v.view_id
              FROM e JOIN v ON e.user_id = v.user_id
               AND v.vfrom <= e.pts
               AND e.pts < coalesce(v.vto, 9223372036854775807)
               AND v.vfrom < coalesce(v.vto, 9223372036854775807))
       SELECT user_id, count(*) AS n_purchases,
              count(click_id) AS n_clicked,
              round(sum(click_value), 3) AS sum_click_value,
              count(DISTINCT view_id) AS n_view_versions
       FROM al GROUP BY user_id"""

  /** Gap-based sessions (30-minute inactivity) summarized per user. */
  private val SessionGapNs = 30L * 60 * 1000000000L

  private def sessionized(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational
      .sessionize(Tables.events(s, d), "user_id", "ts", SessionGapNs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("total_events"))

  private val sessionizedSql =
    s"""WITH g AS (
         SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > $SessionGapNs
                THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT user_id,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g),
       per AS (SELECT user_id, session_id, count(*) AS n_events
               FROM s GROUP BY user_id, session_id)
       SELECT user_id, count(*) AS n_sessions,
              max(n_events) AS max_session_events,
              CAST(sum(n_events) AS BIGINT) AS total_events
       FROM per GROUP BY user_id"""

  /** ZIPF SLOPE of the corpus vocabulary — the log-log regression of
    * frequency on rank over the top-100 words: natural text sits near
    * slope −1; templated/generated corpora drift flat (spam detection,
    * synthetic-data screening next to the entropy monitor). A measured
    * r² says how Zipfian the fit actually is.
    *
    * Determinism: the regression rides the events-decay integer-grid
    * discipline — ln(rank) and ln(cnt) quantize PER ROW to a 1e6 grid
    * (per-row rounding is bit-identical in both engines; libm's 1-ulp
    * disagreement sits ~10 orders below the grid), so all five
    * regression sums are order-free BIGINTs; slope is one division,
    * rounded, and intercept/r² derive from the ROUNDED slope and exact
    * sums with identical float trees. The corpus-sized step is ONE
    * word-count aggregate; top-100 plans as TakeOrderedAndProject and
    * the regression runs on 100 rows.
    */
  private val ZipfTopK = 100
  private val ZipfGrid = 1000000L

  private def textZipf(s: SparkSession, d: String): DataFrame = {
    val byFreq = Window.orderBy(col("cnt").desc, col("w").asc)
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc).limit(ZipfTopK)
      .withColumn("rank", row_number().over(byFreq).cast("long"))
      .select(
        expr(s"CAST(round(ln(CAST(rank AS DOUBLE)) * $ZipfGrid, 0) AS BIGINT)").as("x"),
        expr(s"CAST(round(ln(CAST(cnt AS DOUBLE)) * $ZipfGrid, 0) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("a"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("b"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("c"))
      .withColumn("slope", round(col("a") / col("b"), 6))
      .select(col("n").as("n_top"), col("slope"),
        round((col("sy") - col("slope") * col("sx")) / col("n") / lit(1000000.0), 4)
          .as("intercept"),
        round((lit(1.0) * col("a") * col("a")) / (lit(1.0) * col("b") * col("c")), 6)
          .as("r2"))
  }

  private val textZipfSql =
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wc AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       top AS (SELECT w, cnt FROM wc ORDER BY cnt DESC, w LIMIT $ZipfTopK),
       rk AS (SELECT cnt,
                CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rank
              FROM top),
       g AS (SELECT
               CAST(round(ln(CAST(rank AS DOUBLE)) * $ZipfGrid, 0) AS BIGINT) AS x,
               CAST(round(ln(CAST(cnt AS DOUBLE)) * $ZipfGrid, 0) AS BIGINT) AS y
             FROM rk),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM g),
       ab AS (SELECT n, sx, sy,
                     n * sxy - sx * sy AS a,
                     n * sxx - sx * sx AS b,
                     n * syy - sy * sy AS c
              FROM s),
       sl AS (SELECT *, round(a / b, 6) AS slope FROM ab)
       SELECT n AS n_top, slope,
              round((sy - slope * sx) / n / 1000000.0, 4) AS intercept,
              round((1.0 * a * a) / (1.0 * b * c), 6) AS r2
       FROM sl"""

  /** MULTI-TOUCH PATH LENGTH distribution — the marketing-analytics
    * complement of last-touch attribution (ext_events_attrib): how many
    * clicks preceded each purchase within the 24 h lookback, rolled up
    * per day as zero/one/multi-touch counts and the exact mean path
    * length. Last-touch answers "which click gets credit"; this
    * answers "how long is the path" — the input to choosing a
    * multi-touch credit model at all.
    *
    * Scale shape: the 24 h count rides [[Relational.rangeJoinBinned]]
    * — an equi-join on (user, time-bin), never a per-key nested loop,
    * skew sheared by bin; purchases with zero clicks re-attach by a
    * left join of the purchase frame. All counts integer; mean is one
    * final division.
    */
  private def eventsTouchpoints(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val touches = graft.operators.Relational
      .rangeJoinBinned(p, c, "user_id", "p_ts", "c_ts", -AttribLookbackNs, 0L)
      .groupBy("event_id").agg(count(lit(1)).as("n_touch"))
    p.join(touches, Seq("event_id"), "left")
      .na.fill(0L, Seq("n_touch"))
      .groupBy(expr(s"p_ts div $ZDayNs").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("n_touch") === 0, 1).otherwise(0)).cast("long").as("n_zero"),
        sum(when(col("n_touch") === 1, 1).otherwise(0)).cast("long").as("n_one"),
        sum(when(col("n_touch") >= 2, 1).otherwise(0)).cast("long").as("n_multi"),
        sum(col("n_touch")).as("__touches"),
        max(col("n_touch")).as("max_path"))
      .select(col("day"), col("n_purchases"), col("n_zero"), col("n_one"),
        col("n_multi"), col("max_path"),
        round(col("__touches") / col("n_purchases"), 6).as("mean_path"))
  }

  // lazy: AttribLookbackNs is declared later in the object — an eager
  // val would interpolate its pre-init 0 (caught by the oracle gate)
  private lazy val eventsTouchpointsSql =
    s"""WITH p AS (SELECT event_id, user_id, epoch_ns(ts) AS pts
                 FROM events WHERE event_type = 'purchase'),
       c AS (SELECT user_id, epoch_ns(ts) AS cts
             FROM events WHERE event_type = 'click'),
       t AS (SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_touch
             FROM p JOIN c ON p.user_id = c.user_id
               AND c.cts BETWEEN p.pts - $AttribLookbackNs AND p.pts
             GROUP BY 1),
       j AS (SELECT p.pts // $ZDayNs AS day, coalesce(t.n_touch, 0) AS n_touch
             FROM p LEFT JOIN t USING (event_id))
       SELECT day, CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(sum(CASE WHEN n_touch = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
              CAST(sum(CASE WHEN n_touch = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_one,
              CAST(sum(CASE WHEN n_touch >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
              CAST(max(n_touch) AS BIGINT) AS max_path,
              round(CAST(sum(n_touch) AS BIGINT) / count(*), 6) AS mean_path
       FROM j GROUP BY 1"""

  /** SESSION QUALITY ROLLUP per start-day — the product-analytics
    * read off the sessionization pass: session counts, bounce rate
    * (single-event sessions), events/session, and mean/median session
    * duration. Complements ext_sessionize's per-user shape with the
    * per-day health dashboard.
    *
    * Scale shape: the sessionize window is the ONE user_id shuffle;
    * the per-session reduce is map-side combinable on (user, session),
    * and the day rollup runs over the |sessions| frame. Durations are
    * exact ns BIGINTs; the percentile rides the proven
    * percentile/quantile_cont parity; bounce/means are integer sums
    * with one final division each.
    */
  private def sessionStats(s: SparkSession, d: String): DataFrame =
    graft.operators.Relational
      .sessionize(Tables.events(s, d), "user_id", "ts", SessionGapNs)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("__t0"), max(col("ts")).as("__t1"))
      .groupBy(expr(s"__t0 div $ZDayNs").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1).otherwise(0)).cast("long")
          .as("n_bounce"),
        sum(col("n_events")).as("__ev"),
        sum(col("__t1") - col("__t0")).as("__dur_ns"),
        round(expr("percentile(__t1 - __t0, 0.5)") / 60000000000.0, 4)
          .as("p50_duration_min"))
      .select(col("day"), col("n_sessions"), col("n_bounce"),
        round(col("n_bounce") / col("n_sessions"), 6).as("bounce_rate"),
        round(col("__ev") / col("n_sessions"), 6).as("avg_events"),
        round(col("__dur_ns") / col("n_sessions") / 60000000000.0, 4)
          .as("avg_duration_min"),
        col("p50_duration_min"))

  private val sessionStatsSql =
    s"""WITH g AS (
         SELECT user_id, epoch_ns(ts) AS tns,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_ns(ts) - epoch_ns(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > $SessionGapNs
                THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT user_id, tns,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY tns
                            ROWS UNBOUNDED PRECEDING) AS session_id
         FROM g),
       per AS (SELECT user_id, session_id,
                      CAST(count(*) AS BIGINT) AS n_events,
                      min(tns) AS t0, max(tns) AS t1
               FROM s GROUP BY 1, 2)
       SELECT t0 // $ZDayNs AS day,
              CAST(count(*) AS BIGINT) AS n_sessions,
              CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
              round(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) / count(*), 6) AS bounce_rate,
              round(CAST(sum(n_events) AS BIGINT) / count(*), 6) AS avg_events,
              round(CAST(sum(t1 - t0) AS BIGINT) / count(*) / 60000000000.0, 4) AS avg_duration_min,
              round(quantile_cont(t1 - t0, 0.5) / 60000000000.0, 4) AS p50_duration_min
       FROM per GROUP BY 1"""

  /** WHALE CONCENTRATION (Pareto/Lorenz points): revenue share of the
    * top-k% purchasers for k ∈ {1, 5, 10, 25, 50} — the "do whales
    * carry the business" read, and the revenue twin of the corpus-side
    * Gini. EXACT without any rank window over users: the per-user cent
    * frame reduces to (cents, n_users) over DISTINCT revenue values,
    * a window orders that bounded value frame desc, and each top-k cut
    * takes whole values below the boundary plus the straddling value's
    * partial mass (users at equal cents are interchangeable, so
    * (n_top − cum_before)·cents is exact) — all BIGINT to the final
    * share division. n_top = (N·k) div 100, pinned identically in
    * both engines.
    */
  private val ParetoKs = Seq(1, 5, 10, 25, 50)

  private def eventsPareto(s: SparkSession, d: String): DataFrame =
    eventsParetoGrid(s, d, 1L)

  /** Pareto with the ValueGrid coarsening knob (see eventsRfmGrid):
    * `gridCents` bounds the ordered distinct-value frame; totals stay
    * the TRUE revenue sums (the grid coarsens only the ordering) and the
    * straddling cell's take is mass-proportional exact BIGINT.
    * gridCents = 1 reproduces the per-value exact form bit-for-bit.
    */
  private def eventsParetoGrid(s: SparkSession, d: String,
      gridCents: Long): DataFrame = {
    val uv = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents"))
    graft.operators.ValueGrid.paretoShares(uv, ParetoKs, gridCents)
  }

  /** Pareto oracle, step-parameterized: the grid key snaps cents, the
    * per-cell mass is the TRUE cent sum, and the straddling cell takes
    * (mass · take) // m — the exact mass-proportional integer the Spark
    * side computes. step = 1 makes vg = cents and mass = cents·m, so the
    * expression collapses to the per-value exact form.
    */
  private def eventsParetoSqlGrid(step: Long): String = {
    val ks = ParetoKs.mkString(", ")
    val vg = if (step <= 1L) "cents" else s"cents - (cents % $step)"
    s"""WITH uv AS (
         SELECT user_id,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       vc AS (SELECT $vg AS vg, CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(cents) AS BIGINT) AS mass
              FROM uv GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                      CAST(sum(cents) AS BIGINT) AS total_rev_cents FROM uv),
       cw AS (SELECT vg, m, mass,
                     CAST(coalesce(sum(m) OVER (ORDER BY vg DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
              FROM vc),
       e AS (SELECT cw.*, t.n_users, t.total_rev_cents, ks.k_pct,
                    t.n_users * ks.k_pct // 100 AS n_top
             FROM cw CROSS JOIN tot t
             CROSS JOIN (SELECT unnest([$ks]) AS k_pct) ks)
       SELECT k_pct, max(n_top) AS n_top_users,
              CAST(sum((mass * greatest(0, least(m, n_top - cb))) // m) AS BIGINT) AS top_rev_cents,
              total_rev_cents,
              round(sum((mass * greatest(0, least(m, n_top - cb))) // m) / total_rev_cents, 6) AS share
       FROM e GROUP BY k_pct, n_users, total_rev_cents"""
  }

  private val eventsParetoSql = eventsParetoSqlGrid(1L)

  /** The ValueGrid coarsening knob exercised end-to-end: $5-wide cent
    * cells bound the ordered frame regardless of revenue uniqueness. */
  private val GridCentsStep = 500L

  private def eventsParetoGridQ(s: SparkSession, d: String): DataFrame =
    eventsParetoGrid(s, d, GridCentsStep)

  private val eventsParetoGridSql = eventsParetoSqlGrid(GridCentsStep)

  /** Binned range join: clicks in the hour before each purchase by the
    * same user. The Spark side is an equi-join on (user, time-bin); the
    * oracle states the plain inequality join — same result, but the
    * binned plan scales (no per-key nested loop, skew sheared by bin).
    */
  private val RangeGapNs = 3600L * 1000000000L

  private def rangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_val"))
    val matched = graft.operators.Relational
      .rangeJoinBinned(p, c, "user_id", "p_ts", "c_ts", -RangeGapNs, 0L)
    val agg = matched.groupBy("event_id")
      .agg(count(lit(1)).as("n_clicks_1h"),
        round(sum(col("c_val")), 3).as("sum_click_value"))
    p.select("event_id", "user_id")
      .join(agg, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n_clicks_1h"), lit(0L)).as("n_clicks_1h"),
        col("sum_click_value"))
  }

  private val rangeJoinSql =
    s"""WITH p AS (
         SELECT event_id, user_id, epoch_ns(ts) AS pts
         FROM events WHERE event_type = 'purchase'),
       c AS (
         SELECT user_id, epoch_ns(ts) AS cts, value
         FROM events WHERE event_type = 'click'),
       m AS (
         SELECT p.event_id, count(*) AS n, round(sum(c.value), 3) AS sv
         FROM p JOIN c ON p.user_id = c.user_id
           AND c.cts BETWEEN p.pts - $RangeGapNs AND p.pts
         GROUP BY p.event_id)
       SELECT p.event_id, p.user_id,
              coalesce(m.n, 0) AS n_clicks_1h,
              m.sv AS sum_click_value
       FROM p LEFT JOIN m USING (event_id)"""

  /** Ordered window FRAMES per user over the event stream: running total
    * (ROWS UNBOUNDED PRECEDING), trailing 4-event moving average (ROWS 3
    * PRECEDING), and the inter-event gap via lag — the window-frame
    * family the reference never uses (its only windows are dense_rank
    * partitions). One shuffle on user_id serves all three frames; ties on
    * the ns timestamp are totally ordered by event_id so every frame is
    * deterministic. Rounding damps the engines' differing sliding-sum
    * accumulation (DuckDB aggregates window frames via segment trees, not
    * sequential adds). The lag delta is over `value`, NOT the timestamp:
    * the fixture's ts storage precision has drifted between rounds
    * (ns → µs parquet), so raw event timestamps are never emitted (the
    * standing events.ts rule) — ts serves only as the window ORDER key
    * here.
    */
  private def tsRolling(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Long.MinValue, 0)
    val w4 = w.rowsBetween(-3, 0)
    Tables.events(s, d).select(
      col("event_id"), col("user_id"),
      round(sum(col("value")).over(wRun), 3).as("run_sum"),
      round(avg(col("value")).over(w4), 6).as("avg4"),
      round(col("value") - lag(col("value"), 1).over(w), 6).as("d_value"))
  }

  private val tsRollingSql =
    """SELECT event_id, user_id,
         round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING), 3) AS run_sum,
         round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS avg4,
         round(value - lag(value) OVER
           (PARTITION BY user_id ORDER BY ts, event_id), 6) AS d_value
       FROM events"""

  /** Explicit GROUPING SETS — arbitrary slice combinations, the general
    * form of which q19's ROLLUP and ext_corpus_cube's CUBE are the two
    * standard specializations: per (lang, source), per source alone, and
    * the grand total, with grouping_id disambiguating genuine NULL keys
    * from subtotal markers (same bit order in both engines: left key =
    * high bit).
    */
  private def corpusGsets(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .select("lang", "source", "gid", "n_docs", "total_chars")

  private val corpusGsetsSql =
    """SELECT lang, source,
              CAST(GROUPING(lang, source) AS INTEGER) AS gid,
              count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents
       GROUP BY GROUPING SETS ((lang, source), (source), ())"""

  /** Salted skew join, grouped: semantically the plain events x customer
    * equi-join (which IS the oracle), executed with the hot-key shear.
    */
  private def skewSalted(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("value"))
    val dim = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.operators.Relational.saltedJoin(ev, dim, "user_id", 8)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 3).as("sum_value"))
  }

  private val skewSaltedSql =
    """SELECT c_mktsegment, count(*) AS n_events,
              round(sum(value), 3) AS sum_value
       FROM events e JOIN customer c ON e.user_id = c.c_custkey
       GROUP BY c_mktsegment"""

  /** The binned range join written in PLAIN SQL through the marker
    * surface: `JOIN ... ON user_id = user_id AND graft_range(p_ts,
    * c_ts, -1h, 0)`. MarkerJoinRewrite swaps the Join for the
    * explode-into-bins equi-join composition at analysis time — the SQL
    * text a user would naively write as a theta BETWEEN (a per-key
    * nested loop) plans as the scalable (key, bin) hash join instead.
    * Same oracle as ext_range_join (the oracle states the naive
    * inequality — DuckDB can afford it at oracle scale).
    */
  private def rangeSqlSurface(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .createOrReplaceTempView("graft_sql_rp")
    ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_val"))
      .createOrReplaceTempView("graft_sql_rc")
    s.sql(s"""WITH m AS (
                SELECT p.event_id, count(*) AS n,
                       round(sum(c.c_val), 3) AS sv
                FROM graft_sql_rp p JOIN graft_sql_rc c
                  ON p.user_id = c.user_id
                 AND graft_range(p.p_ts, c.c_ts, ${-RangeGapNs}L, 0L)
                GROUP BY p.event_id)
              SELECT p.event_id, p.user_id,
                     coalesce(m.n, CAST(0 AS BIGINT)) AS n_clicks_1h,
                     m.sv AS sum_click_value
              FROM graft_sql_rp p LEFT JOIN m ON p.event_id = m.event_id""")
  }

  /** The salted skew join written in PLAIN SQL: `JOIN ... ON user_id =
    * c_custkey AND graft_salted(8)` — semantically the plain equi-join
    * (same oracle as ext_skew_salted), physically the whole-row-hash
    * shear across 8 shuffle partitions. The `=` key keeps plain-equality
    * NULL semantics verbatim (unlike the as-of/interval markers, these
    * rewrites preserve whatever key conjuncts the user wrote).
    */
  private def skewSqlSurface(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).select(col("user_id"), col("value"))
      .createOrReplaceTempView("graft_sql_se")
    Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
      .createOrReplaceTempView("graft_sql_sc")
    s.sql("""SELECT c.c_mktsegment, count(*) AS n_events,
                    round(sum(e.value), 3) AS sum_value
             FROM graft_sql_se e JOIN graft_sql_sc c
               ON e.user_id = c.c_custkey AND graft_salted(8)
             GROUP BY c.c_mktsegment""")
  }

  /** Full transitive near-dup clustering: connected components over the
    * MinHash pair graph by min-label propagation. The oracle UNROLLS the
    * same fixed iteration count, so even a hypothetically unconverged
    * label state hash-matches (both sides run the identical algorithm).
    */
  private val CcIterations = 4

  private def ccComponents(s: SparkSession, d: String): DataFrame =
    // broadcastLabels: the near-dup pair graph is a small fraction of the
    // corpus, so each propagation round runs with one tiny shuffle
    Dedup.connectedComponents(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
        .select("doc_a", "doc_b"),
      CcIterations, broadcastLabels = true)

  /** Triangle participation over the same minhash pair graph — cluster
    * density (template families vs drift chains); degree-ordered wedge
    * join in the operator, id-ordered triple join in the oracle (same
    * triangle set either way).
    */
  private def ccTriangles(s: SparkSession, d: String): DataFrame =
    Dedup.triangleCounts(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
        .select("doc_a", "doc_b"))

  private lazy val ccTrianglesSql =
    s"""WITH p AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) m),
       tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
               FROM p e1 JOIN p e2 ON e1.doc_b = e2.doc_a
               JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
       n AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
       FROM n GROUP BY 1"""

  /** PageRank authority inside duplicate neighborhoods — the canonical-
    * copy signal over the same minhash pair graph the CC queries use.
    * 3 damped rounds on the integer grid, oracle-unrolled per round
    * (see Dedup.pageRank for the all-integer determinism argument).
    */
  private val PrIterations = 3

  private def ccPageRank(s: SparkSession, d: String): DataFrame =
    Dedup.pageRank(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
        .select("doc_a", "doc_b"),
      PrIterations)

  private lazy val ccPageRankSql = {
    val g = Dedup.PageRankGrid
    val iters = (0 until PrIterations).map { k =>
      s"""r${k + 1} AS (
           SELECT nodes.doc_id,
                  ${3L * g} // (20 * (SELECT n FROM nn))
                    + (17 * coalesce(c.s, 0)) // 20 AS r
           FROM nodes LEFT JOIN (
             SELECT e.d AS doc_id, sum(rr.r // deg.deg) AS s
             FROM e JOIN r$k rr ON e.s = rr.doc_id
             JOIN deg ON deg.s = e.s
             GROUP BY e.d) c USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH pairs AS ($dedupMinhashSql),
       e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
       nodes AS (SELECT DISTINCT s AS doc_id FROM e),
       nn AS (SELECT count(*) AS n FROM nodes),
       r0 AS (SELECT doc_id, $g // (SELECT n FROM nn) AS r FROM nodes),
       $iters
       SELECT doc_id, CAST(r AS BIGINT) AS pr_grid FROM r$PrIterations"""
  }

  private lazy val ccComponentsSql = {
    val iters = (0 until CcIterations).map { k =>
      s"""l${k + 1} AS (
           SELECT l.doc_id,
                  least(l.component, coalesce(nm.m, l.component)) AS component
           FROM l$k l LEFT JOIN (
             SELECT e.s AS doc_id, min(ln.component) AS m
             FROM e JOIN l$k ln ON e.d = ln.doc_id GROUP BY e.s) nm
           USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH pairs AS ($dedupMinhashSql),
       e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT DISTINCT s AS doc_id, s AS component FROM e),
       $iters
       SELECT doc_id, component FROM l$CcIterations"""
  }

  /** LEAKAGE-SAFE train/val/test split: the assignment unit is the
    * near-dup CLUSTER, not the document — the split bucket hashes the
    * component label, so an entire family of near-duplicates lands in
    * one split and eval can never score a paraphrase of a training doc
    * (the decontamination failure `ext_dedup_contaminate` detects after
    * the fact, prevented by construction here). Singleton docs are their
    * own component (coalesce to doc_id), so the whole corpus is
    * assigned. The emitted audit counts cross-split near-dup pairs per
    * split — structurally zero, and the oracle recomputes the same zero
    * from its own unrolled components rather than trusting ours.
    *
    * Scale shape: the pair graph is built ONCE (localCheckpoint) and
    * shared by label propagation and the leak audit — the
    * duplicate-subtree discipline ScaleSpec pins; the audit joins and
    * the docs<-component attach are plain equi-joins that co-partition
    * on doc_id at any scale (no broadcast assumption on the label
    * table, which grows with the dup graph).
    */
  private val LeakSalt = "|graft-leakfree-42"

  private def splitLeakfree(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id",
        "text", MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
      .select("doc_a", "doc_b")
      .localCheckpoint()
    val comp = Dedup.connectedComponents(pairs, CcIterations,
      broadcastLabels = true)
    val bucket = Dedup.polyHash(
      concat(col("component").cast("string"), lit(LeakSalt))) % 100
    val assigned = Tables.documents(s, d).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .localCheckpoint() // reused thrice: the rollup + both audit sides
    val leaks = pairs
      .join(assigned.select(col("doc_id").as("doc_a"),
        col("split").as("split_a")), Seq("doc_a"))
      .join(assigned.select(col("doc_id").as("doc_b"),
        col("split").as("split_b")), Seq("doc_b"))
      .where(col("split_a") =!= col("split_b"))
    // explode, not union: a union's two branches would each recompute
    // the leak joins (Spark does not exchange-reuse the shared subtree —
    // the round-4 sweep defect class); explode duplicates ROWS inside
    // one pass instead
    val leakBySplit = leaks
      .select(explode(array(col("split_a"), col("split_b"))).as("split"))
      .groupBy("split").agg(count(lit(1)).as("n_leak"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"))
      .join(leakBySplit, Seq("split"), "left")
      .select(col("split"), col("n_docs"), col("n_components"),
        coalesce(col("n_leak"), lit(0L)).as("n_leak_pairs"))
  }

  private lazy val splitLeakfreeSql =
    s"""WITH cc AS ($ccComponentsSql),
       p AS (SELECT doc_a, doc_b FROM ($dedupMinhashSql) mm),
       a AS (SELECT doc_id, component,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                    ELSE 'test' END AS split
             FROM (SELECT doc_id, component,
                     ${polyHashSql(s"CAST(component AS VARCHAR) || '$LeakSalt'")} % 100 AS b
                   FROM (SELECT d.doc_id,
                           coalesce(cc.component, d.doc_id) AS component
                         FROM documents d
                         LEFT JOIN cc ON d.doc_id = cc.doc_id) lab) t),
       leaks AS (SELECT sa.split AS split_a, sb.split AS split_b
                 FROM p JOIN a sa ON p.doc_a = sa.doc_id
                        JOIN a sb ON p.doc_b = sb.doc_id
                 WHERE sa.split <> sb.split),
       lk AS (SELECT split, count(*) AS n_leak
              FROM (SELECT split_a AS split FROM leaks
                    UNION ALL SELECT split_b FROM leaks) u GROUP BY 1)
       SELECT g.split, g.n_docs, g.n_components,
              CAST(coalesce(lk.n_leak, 0) AS BIGINT) AS n_leak_pairs
       FROM (SELECT split, count(*) AS n_docs,
               count(DISTINCT component) AS n_components
             FROM a GROUP BY 1) g
       LEFT JOIN lk USING (split)"""

  /** CONTENT-DEFINED CHUNKING dedup ratio — the storage-dedup /
    * long-document primitive: chunk boundaries fall where the rolling
    * gram hash ≡ 0 (mod divisor), so a local edit only re-chunks its
    * neighborhood and shared passages land in IDENTICAL chunks no
    * matter where they sit in a document (fixed-size chunking would
    * misalign them). Chunks then dedup globally by content hash; the
    * report is each source's duplicated-token mass — what chunk-level
    * dedup would save. First instance per hash (by doc_id, chunk) is
    * the kept copy; instances are ranked deterministically.
    *
    * Scale shape: boundary flags are a per-row array transform
    * (codegen, no join); the word stream shuffles ONCE on doc_id (the
    * prefix-sum window), whose partitioning the chunk groupBy reuses
    * (subset-key clustering, the ext_corpus_pack precedent); the chunk
    * stream — already |words|/avg_chunk smaller — shuffles on the
    * content hash for ranking, then the tiny source rollup.
    */
  private val CdcW = 3
  private val CdcD = 8

  private def textCdc(s: SparkSession, d: String): DataFrame = {
    val chunks = TextAnalysis.cdcChunks(Tables.documents(s, d), "doc_id",
      "text", Seq("source"), CdcW, CdcD)
    val ranked = chunks
      .withColumn("rnk", row_number().over(
        Window.partitionBy("chash").orderBy(col("doc_id"), col("cid"))))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rnk") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(col("n_words")).as("n_words"),
        sum(when(col("rnk") > 1, col("n_words")).otherwise(0L)).as("dup_words"))
      .select(col("source"), col("n_chunks"), col("n_dup_chunks"),
        col("n_words"), col("dup_words"),
        round(col("dup_words") / col("n_words"), 6).as("dup_frac"))
  }

  private lazy val textCdcSql =
    s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS ws
                 FROM documents),
       f AS (SELECT doc_id, source,
               unnest(range(0, len(ws))) AS p,
               unnest(ws) AS word,
               unnest(list_transform(range(0, len(ws)), p ->
                 CASE WHEN p <= len(ws) - $CdcW AND
                   ${polyHashSql(s"array_to_string(list_slice(ws, p + 1, p + $CdcW), ' ')")} % $CdcD = 0
                 THEN 1 ELSE 0 END)) AS fl
             FROM t),
       c AS (SELECT doc_id, source, p, word,
               coalesce(sum(fl) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
             FROM f),
       ch AS (SELECT doc_id, source, cid, count(*) AS n_words,
                ${polyHashSql("string_agg(word, ' ' ORDER BY p)")} AS chash
              FROM c GROUP BY 1, 2, 3),
       r AS (SELECT *, row_number() OVER (PARTITION BY chash
               ORDER BY doc_id, cid) AS rnk FROM ch)
       SELECT source, count(*) AS n_chunks,
              CAST(sum(CASE WHEN rnk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
              CAST(sum(n_words) AS BIGINT) AS n_words,
              CAST(sum(CASE WHEN rnk > 1 THEN n_words ELSE 0 END) AS BIGINT) AS dup_words,
              round(sum(CASE WHEN rnk > 1 THEN n_words ELSE 0 END) * 1.0
                / sum(n_words), 6) AS dup_frac
       FROM r GROUP BY 1"""

  /** K-core of the minhash pair graph (see Dedup.kCore): the dense
    * template-family mass at k=2 — every survivor duplicates >= 2
    * others within the core. Oracle unrolls the fixed peel schedule.
    */
  private val KCoreK = 2
  private val KCoreRounds = 4

  private def ccKcore(s: SparkSession, d: String): DataFrame =
    Dedup.kCore(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
        .select("doc_a", "doc_b"),
      KCoreK, KCoreRounds)

  private lazy val ccKcoreSql = {
    val iters = (1 to KCoreRounds).map { r =>
      s"""k$r AS (SELECT s FROM e${r - 1} GROUP BY s
             HAVING count(*) >= $KCoreK),
         e$r AS (SELECT e.s, e.d FROM e${r - 1} e
                 JOIN k$r a ON e.s = a.s JOIN k$r b ON e.d = b.s)"""
    }.mkString(",\n       ")
    s"""WITH pairs AS ($dedupMinhashSql),
       e0 AS (SELECT doc_a AS s, doc_b AS d FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
       $iters
       SELECT s AS doc_id, CAST(count(*) AS INTEGER) AS core_deg
       FROM e$KCoreRounds GROUP BY 1"""
  }

  /** Quality-aware CANONICAL selection: inside each near-dup cluster,
    * the survivor is the argmax-quality member (ties to the smaller
    * doc_id) — the "which copy do we keep" decision of a curation
    * pipeline, upgrading `ext_dedup_sweep`'s keep-min-id policy to
    * keep-best. Emits the per-document verdict, not a rollup, so the
    * gate pins every individual keep/drop decision. quality is the
    * repo-wide formula ([[TextAnalysis.qualityScore]], round 6) — the
    * same column ext_text_stats already hash-matches, so the argmax
    * ordering is engine-exact; singletons are their own component and
    * trivially canonical.
    *
    * Scale shape: one checkpointed pair build feeds label propagation
    * (the splitLeakfree discipline); the verdict itself is one window
    * over component — a single exchange on the cluster key, no joins
    * back to the corpus beyond the label attach.
    */
  private def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id",
        "text", MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
      .select("doc_a", "doc_b")
      .localCheckpoint()
    val comp = Dedup.connectedComponents(pairs, CcIterations,
      broadcastLabels = true)
    val w = Window.partitionBy("component")
      .orderBy(col("quality").desc, col("doc_id").asc)
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("is_canonical",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .select("doc_id", "component", "quality", "is_canonical")
  }

  private lazy val dedupCanonicalSql =
    s"""WITH cc AS ($ccComponentsSql),
       b AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql))) AS INTEGER) AS n_stop
             FROM documents),
       lab AS (SELECT b.doc_id,
                 coalesce(cc.component, b.doc_id) AS component,
                 ${qualitySqlOver("n_types", "n_tokens", "n_stop")} AS quality
               FROM b LEFT JOIN cc ON b.doc_id = cc.doc_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY component
               ORDER BY quality DESC, doc_id) AS rnk FROM lab)
       SELECT doc_id, component, quality,
              CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_canonical
       FROM r"""

  /** Exact per-group percentiles (linear interpolation — Spark
    * `percentile` and DuckDB `quantile_cont` share the (n-1)p rank
    * definition). Exact quantiles sort each group; at 100 TB swap in
    * `approx_percentile` (t-digest, mergeable sketch) and accept the
    * rows-only check, as ext_stream_approx does for HLL.
    */
  /** TPC-H Q1-shaped pricing summary — the canonical wide fact-table
    * aggregate: a handful of sums/averages per tiny group set, 99% of
    * the work in the map-side partial aggregate, one grouping-key
    * shuffle moving only |groups| x |metrics| partial rows. Money math
    * runs cent-quantized (per-row double products are bit-identical in
    * both engines, the ROUNDED cents then sum as order-free BIGINTs —
    * the ext_incr_agg discipline), so the gate is exact, not
    * tolerance-based.
    */
  private val PricingCutoff = "1998-09-02 00:00:00"

  private def pricingSummary(s: SparkSession, d: String): DataFrame = {
    def cents(c: org.apache.spark.sql.Column) = round(c * 100, 0).cast("long")
    Tables.lineitem(s, d)
      .where(col("l_shipdate") <= to_timestamp(lit(PricingCutoff)))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty_cents"),
        sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .as("sum_disc_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")))).as("sum_charge_cents"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty",
        round(col("sum_qty_cents") / 100.0 / col("count_order"), 6))
      .withColumn("avg_price",
        round(col("sum_base_cents") / 100.0 / col("count_order"), 6))
  }

  private val pricingSummarySql =
    s"""SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
         CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_base_cents,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS sum_charge_cents,
         count(*) AS count_order,
         round(CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 / count(*), 6) AS avg_qty,
         round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 / count(*), 6) AS avg_price
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '$PricingCutoff'
       GROUP BY 1, 2"""

  /** Incremental aggregate maintenance: per-user metrics computed as
    * state(first half) ⊕ state(second half) — the merge path a 100 TB
    * metrics table actually runs (aggregate only the new batch, merge
    * into kept state) — gated against the oracle's full recompute over
    * all events. The cutoff splits the fixture's event month in half; ts
    * is Long nanos (Tables.tsToNanos normalizes every fixture vintage),
    * so the split is a pure integer comparison. See
    * operators/Incremental.scala.
    */
  private val IncrCutoffNs = 1705363200000000000L // 2024-01-16T00:00:00Z

  private def incrAgg(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    Incremental.withDerived(Incremental.mergeStates(
      Incremental.eventState(ev.where(col("ts") < IncrCutoffNs)),
      Incremental.eventState(ev.where(col("ts") >= IncrCutoffNs))))
  }

  /** INCREMENTAL TOP-K maintenance ([[Incremental.topKState]]): the
    * per-type value leaderboard kept as a mergeable K-row-per-group
    * state — the same state ⊕ delta ≡ full-recompute gate as
    * ext_incr_agg (the split at IncrCutoffNs exists only Spark-side;
    * the oracle computes the one-shot top-k directly, so the oracle
    * PASS is the merge-correctness proof). Precondition documented at
    * the operator: per-item scores must be immutable — accumulating
    * scores are incr_agg's problem.
    */
  private val IncrTopK = 10

  private def incrTopk(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val merged = Incremental.mergeTopK(
      Incremental.topKState(ev.where(col("ts") < IncrCutoffNs), IncrTopK),
      Incremental.topKState(ev.where(col("ts") >= IncrCutoffNs), IncrTopK),
      IncrTopK)
    val w = Window.partitionBy("event_type")
      .orderBy(col("cents").desc, col("event_id").asc)
    merged.withColumn("rnk", row_number().over(w).cast("long"))
      .select("event_type", "rnk", "event_id", "cents")
  }

  private val incrTopkSql =
    s"""WITH c AS (SELECT event_type, event_id,
                 CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events),
       r AS (SELECT event_type, event_id, cents,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY cents DESC, event_id) AS BIGINT) AS rnk
             FROM c)
       SELECT event_type, rnk, event_id, cents FROM r WHERE rnk <= $IncrTopK"""

  private val incrAggSql =
    """WITH c AS (SELECT user_id,
           CAST(round(value * 100, 0) AS BIGINT) AS cents FROM events)
       SELECT user_id, count(*) AS n_events,
              CAST(sum(cents) AS BIGINT) AS total_cents,
              max(cents) AS max_cents,
              round(CAST(sum(cents) AS BIGINT) / 100.0 / count(*), 6) AS avg_value
       FROM c GROUP BY 1"""

  private def eventsQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).groupBy("event_type")
      .agg(round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"))

  private val eventsQuantilesSql =
    """SELECT event_type,
              round(quantile_cont(value, 0.25), 6) AS p25,
              round(quantile_cont(value, 0.5), 6) AS p50,
              round(quantile_cont(value, 0.9), 6) AS p90
       FROM events GROUP BY event_type"""

  /** WINSORIZATION — per-group outlier clipping at [p05, p95], the
    * robust-stats preprocessing step a metrics/feature pipeline runs
    * before means and regressions (a fat-finger value or bot burst
    * otherwise owns the mean). Emitted per group: the bounds, how many
    * rows clipped each side, and the mean before/after — the clipped
    * mass and its effect as measured numbers.
    *
    * Scale shape: pass 1 is ONE per-group percentile aggregate
    * (at 100 TB swap `percentile` for approx_percentile — the bounds
    * frame and plan shape are unchanged); the |groups|-sized bounds
    * frame BROADCASTS back onto the rows, and pass 2 is one map-side-
    * combinable aggregate. The corpus is scanned exactly twice, never
    * shuffled on a data key.
    *
    * Determinism: bounds are rounded at 6 dp BEFORE the compare, so
    * both engines clip against identical doubles; clipped values are
    * cent-quantized per row (the incrAgg discipline) and the means come
    * from exact BIGINT cent sums with one float division at the end.
    */
  private def eventsWinsor(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val bounds = ev.groupBy("event_type").agg(
      round(expr("percentile(value, 0.05)"), 6).as("p05"),
      round(expr("percentile(value, 0.95)"), 6).as("p95"))
    val w = when(col("value") < col("p05"), col("p05"))
      .when(col("value") > col("p95"), col("p95"))
      .otherwise(col("value"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .groupBy("event_type", "p05", "p95")
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") < col("p05"), 1).otherwise(0)).cast("long")
          .as("n_clip_lo"),
        sum(when(col("value") > col("p95"), 1).otherwise(0)).cast("long")
          .as("n_clip_hi"),
        sum(round(col("value") * 100, 0).cast("long")).as("__rs"),
        sum(round(w * 100, 0).cast("long")).as("__ws"))
      .select(col("event_type"), col("n"), col("p05"), col("p95"),
        col("n_clip_lo"), col("n_clip_hi"),
        round(col("__rs") / 100.0 / col("n"), 6).as("mean_raw"),
        round(col("__ws") / 100.0 / col("n"), 6).as("mean_winsor"))
  }

  private val eventsWinsorSql =
    """WITH b AS (SELECT event_type,
                round(quantile_cont(value, 0.05), 6) AS p05,
                round(quantile_cont(value, 0.95), 6) AS p95
              FROM events GROUP BY 1),
       j AS (SELECT e.event_type, b.p05, b.p95, e.value,
               CASE WHEN e.value < b.p05 THEN b.p05
                    WHEN e.value > b.p95 THEN b.p95
                    ELSE e.value END AS w
             FROM events e JOIN b USING (event_type))
       SELECT event_type, CAST(count(*) AS BIGINT) AS n, p05, p95,
              CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
              CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
              round(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 / count(*), 6) AS mean_raw,
              round(sum(CAST(round(w * 100, 0) AS BIGINT)) / 100.0 / count(*), 6) AS mean_winsor
       FROM j GROUP BY event_type, p05, p95"""

  /** EVENT-TRANSITION MATRIX (first-order Markov): per-user
    * consecutive event-type pairs → transition counts → row-normalized
    * probabilities — the sequence telemetry behind funnel design,
    * next-event prediction baselines, and bot detection (a scripted
    * client shows near-deterministic rows). Complements ext_events_lift
    * (set co-occurrence) with ORDER.
    *
    * Scale shape: ONE shuffle on user_id feeds the lead() window (the
    * sessionize discipline — per-user event counts are human-bounded,
    * so no skew cliff); the transition frame is ≤ |types|² rows and the
    * row normalization windows over it, never the events. Ordering ties
    * break on event_id so the successor is deterministic at any
    * partitioning; the single float op is the final probability
    * division.
    */
  private def eventsMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob", round(col("n") /
        sum(col("n")).over(Window.partitionBy("from_type")), 6))
  }

  private val eventsMarkovSql =
    """WITH seq AS (
         SELECT event_type,
                lead(event_type) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS next_type
         FROM events),
       tc AS (SELECT event_type AS from_type, next_type AS to_type,
                     CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
       SELECT from_type, to_type, n,
              round(n / sum(n) OVER (PARTITION BY from_type), 6) AS prob
       FROM tc"""

  /** LAST-TOUCH ATTRIBUTION: each purchase attributed to the user's
    * most recent click within a 24 h lookback — the event-to-event
    * as-of join every conversion pipeline runs (the dim-side as-of,
    * ext_asof_join, joins a slowly-changing table; this one joins the
    * event stream to itself). Daily rollup: purchases, attributed
    * count, rate, and mean click→purchase latency.
    *
    * Scale shape: the UNION-AND-WINDOW as-of discipline — clicks and
    * purchases interleave in ONE user_id-partitioned ordered pass
    * (last-ignoreNulls carries the latest click forward), so there is
    * no range join and no per-pair fan-out; ONE shuffle on user_id,
    * then a |days|-sized rollup. Same-instant ties order the click
    * BEFORE the purchase (is_click DESC, then event_id) so a same-ts
    * click attributes — pinned identically in both engines.
    *
    * Determinism: ts is Long nanos, the lookback is an integer ns
    * compare, latency sums are exact ns BIGINTs; the two float ops are
    * the final rate and mean-minutes divisions.
    */
  private val AttribLookbackNs = 86400L * 1000000000L // 24 h

  private def eventsAttrib(s: SparkSession, d: String): DataFrame = {
    val isClick = col("event_type") === "click"
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("__c").desc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        isClick.cast("int").as("__c"))
      .withColumn("__click_ts",
        last(when(col("__c") === 1, col("ts")), ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("__attr",
        (col("__click_ts").isNotNull &&
          col("ts") - col("__click_ts") <= AttribLookbackNs).cast("int"))
      .groupBy(expr(s"ts div $ZDayNs").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("__attr")).cast("long").as("n_attributed"),
        sum(when(col("__attr") === 1, col("ts") - col("__click_ts"))
          .otherwise(0L)).as("__lat_ns"))
      .select(col("day"), col("n_purchases"), col("n_attributed"),
        round(col("n_attributed") / col("n_purchases"), 6).as("attr_rate"),
        when(col("n_attributed") > 0,
          round(col("__lat_ns") / col("n_attributed") / 60000000000.0, 4))
          .as("mean_latency_min"))
  }

  private val eventsAttribSql =
    s"""WITH cp AS (
         SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS c
         FROM events WHERE event_type IN ('click', 'purchase')),
       lw AS (
         SELECT *,
                last_value(CASE WHEN c = 1 THEN tns END IGNORE NULLS)
                  OVER (PARTITION BY user_id
                        ORDER BY tns, c DESC, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS click_ts
         FROM cp),
       p AS (
         SELECT tns // $ZDayNs AS day,
                CASE WHEN click_ts IS NOT NULL
                          AND tns - click_ts <= $AttribLookbackNs
                     THEN 1 ELSE 0 END AS attr,
                CASE WHEN click_ts IS NOT NULL
                          AND tns - click_ts <= $AttribLookbackNs
                     THEN tns - click_ts ELSE 0 END AS lat
         FROM lw WHERE event_type = 'purchase')
       SELECT day, CAST(count(*) AS BIGINT) AS n_purchases,
              CAST(sum(attr) AS BIGINT) AS n_attributed,
              round(sum(attr) / count(*), 6) AS attr_rate,
              CASE WHEN sum(attr) > 0
                   THEN round(CAST(sum(lat) AS BIGINT) / CAST(sum(attr) AS BIGINT) / 60000000000.0, 4)
              END AS mean_latency_min
       FROM p GROUP BY 1"""

  /** COHORT LTV TRIANGLE: users cohorted by first signup day, purchase
    * value accumulated per (cohort, age) cell — the lifetime-value
    * matrix growth/finance reads next to the retention triangle
    * (ext_events_retention counts presence; this weighs it in cents).
    *
    * Scale shape: both event slices reach their scans with the
    * event_type filter pushed; the cohort attach is the natural
    * user_id equi-join (co-partitioned at scale — the per-user frame
    * must NOT broadcast at 100 TB, only the |days|-sized cohort-size
    * frame does); cells and the cumulative window are triangle-sized
    * (≤ days²). Revenue rides exact cent BIGINTs; the single float op
    * is the final per-user division.
    */
  private def eventsLtv(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cohort = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(expr(s"ts div $ZDayNs")).as("cohort"))
    val sizes = cohort.groupBy("cohort").agg(count(lit(1)).as("n_users"))
    val w = Window.partitionBy("cohort").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.where(col("event_type") === "purchase")
      .select(col("user_id"), expr(s"ts div $ZDayNs").as("day"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .join(cohort, Seq("user_id"))
      .where(col("day") >= col("cohort"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("rev_cents"))
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("age"), col("n_users"), col("n_purchases"),
        col("rev_cents"), col("cum_rev_cents"),
        round(col("cum_rev_cents") / 100.0 / col("n_users"), 6).as("ltv_per_user"))
  }

  private val eventsLtvSql =
    s"""WITH co AS (SELECT user_id, min(epoch_ns(ts) // $ZDayNs) AS cohort
                  FROM events WHERE event_type = 'signup' GROUP BY 1),
       sz AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users FROM co GROUP BY 1),
       pu AS (SELECT user_id, epoch_ns(ts) // $ZDayNs AS day,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events WHERE event_type = 'purchase'),
       cells AS (
         SELECT co.cohort, pu.day - co.cohort AS age,
                CAST(count(*) AS BIGINT) AS n_purchases,
                CAST(sum(cents) AS BIGINT) AS rev_cents
         FROM pu JOIN co USING (user_id)
         WHERE pu.day >= co.cohort GROUP BY 1, 2),
       cw AS (
         SELECT *, CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY age
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                AS cum_rev_cents
         FROM cells)
       SELECT cohort, age, n_users, n_purchases, rev_cents, cum_rev_cents,
              round(cum_rev_cents / 100.0 / n_users, 6) AS ltv_per_user
       FROM cw JOIN sz USING (cohort)"""

  /** TRAILING-WINDOW ANOMALY FLAGS: per (event_type, day) arrival
    * counts against the preceding 3-day trailing sum — spike when
    * 3·cnt > 2·sum3 (today above 2× the trailing mean), drop when
    * 6·cnt < sum3 (below half) — the volume monitor paged on ingest
    * incidents. Flags are NULL for the warm-up days (< 3 preceding) so
    * absence-of-history is distinguishable from normal.
    *
    * Daily counts are ZERO-FILLED onto the dense [min, max] day spine
    * (Monitoring.dailySpine) before the trailing window: a day with no
    * events at all is the loudest drop signal there is, and without
    * the fill it produces no row — the monitor could never page on a
    * complete outage, and the "trailing 3 days" would silently mean
    * "trailing 3 PRESENT days". The oracle builds the same spine.
    *
    * Scale shape: ONE corpus aggregate to the (type, day) frame; the
    * spine join and trailing window run over that ≤ types×days frame.
    * Spike/drop decide on cross-multiplied BIGINTs — the mean never
    * exists as a float, so there is nothing to round and nothing
    * partition-order can perturb.
    */
  private def eventsAnomaly(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-3, -1)
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts div $ZDayNs").as("day"))
      .agg(count(lit(1)).as("y"))
    graft.operators.Monitoring.dailySpine(daily, Seq("event_type"))
      .withColumn("__n3", count(lit(1)).over(w))
      .withColumn("sum3", sum(col("y")).over(w))
      .select(col("event_type"), col("day"), col("y").as("cnt"),
        when(col("__n3") === 3, col("sum3")).as("sum3"),
        when(col("__n3") === 3, (col("y") * 3 > col("sum3") * 2).cast("int"))
          .as("flag_spike"),
        when(col("__n3") === 3, (col("y") * 6 < col("sum3")).cast("int"))
          .as("flag_drop"))
  }

  private val eventsAnomalySql =
    s"""WITH dc AS (
         SELECT event_type, epoch_ns(ts) // $ZDayNs AS day,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM dc),
       spine AS (SELECT event_type, day
                 FROM (SELECT DISTINCT event_type FROM dc),
                      (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds)),
       f AS (SELECT s.event_type, s.day, CAST(coalesce(cnt, 0) AS BIGINT) AS cnt
             FROM spine s LEFT JOIN dc USING (event_type, day)),
       tw AS (
         SELECT event_type, day, cnt,
                count(*) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n3,
                CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s3
         FROM f)
       SELECT event_type, day, cnt,
              CASE WHEN n3 = 3 THEN s3 END AS sum3,
              CASE WHEN n3 = 3 THEN
                CASE WHEN cnt * 3 > s3 * 2 THEN 1 ELSE 0 END END AS flag_spike,
              CASE WHEN n3 = 3 THEN
                CASE WHEN cnt * 6 < s3 THEN 1 ELSE 0 END END AS flag_drop
       FROM tw"""

  /** ANALYZE-style COLUMN STATISTICS collection — the per-column
    * (count, nulls, NDV, min/max) frame a cost-based optimizer (and
    * every data-quality dashboard) reads; the relational form of
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS`.
    *
    * Scale shape: ONE orders scan computes every column's stats in a
    * single aggregate (the fused-metrics discipline of
    * ext_quality_contract); the multi-countDistinct plans as one
    * Expand over the scan — map-side combinable, no per-column
    * re-scan. The 1-row wide result unpivots to the per-column frame
    * driver-side-free (explode of struct literals). At 100 TB the
    * exact NDVs swap for approx_count_distinct / the lincount state
    * with the same plan shape.
    */
  private val AnalyzeCols: Seq[(String, Boolean)] = Seq(
    ("o_orderkey", true), ("o_custkey", true), ("o_totalprice", true),
    ("o_orderstatus", false), ("o_orderpriority", false))

  private def statsAnalyze(s: SparkSession, d: String): DataFrame = {
    val aggs = AnalyzeCols.flatMap { case (c, num) =>
      Seq(count(col(c)).as(s"__n_$c"),
        countDistinct(col(c)).as(s"__ndv_$c")) ++
      (if (num)
        Seq(round(min(col(c)).cast("double"), 6).as(s"__min_$c"),
          round(max(col(c)).cast("double"), 6).as(s"__max_$c"))
      else Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")))
    } :+ count(lit(1)).as("__n_rows")
    Tables.orders(s, d).agg(aggs.head, aggs.tail: _*)
      .select(explode(array(AnalyzeCols.map { case (c, num) =>
        struct(lit(c).as("col_name"), col("__n_rows").as("n_rows"),
          (col("__n_rows") - col(s"__n_$c")).as("n_null"),
          col(s"__ndv_$c").as("ndv"),
          (if (num) col(s"__min_$c") else lit(null).cast("double")).as("min_num"),
          (if (num) col(s"__max_$c") else lit(null).cast("double")).as("max_num"),
          (if (num) lit(null).cast("string") else col(s"__min_$c")).as("min_str"),
          (if (num) lit(null).cast("string") else col(s"__max_$c")).as("max_str"))
      }: _*)).as("s"))
      .select("s.*")
  }

  private val statsAnalyzeSql = AnalyzeCols.map { case (c, num) =>
    val (minN, maxN) =
      if (num) (s"round(CAST(min($c) AS DOUBLE), 6)", s"round(CAST(max($c) AS DOUBLE), 6)")
      else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
    val (minS, maxS) =
      if (num) ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      else (s"min($c)", s"max($c)")
    s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) - count($c) AS BIGINT) AS n_null,
              CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
              $minN AS min_num, $maxN AS max_num,
              $minS AS min_str, $maxS AS max_str
       FROM orders"""
  }.mkString("\nUNION ALL\n")

  /** pandas `df.describe()` per group — the reference repo's analysis
    * idiom as one exact aggregate. mean and the SAMPLE std come from
    * cent-quantized integer sums (the ext_pricing_summary discipline:
    * per-row rounding is bit-identical in both engines, the cents then
    * sum as order-free BIGINTs), so the only float work is the final
    * expression over exact integers — written with the identical op
    * tree in both engines, hence IEEE-bit-identical before the round-6.
    * Quartiles ride on the percentile/quantile_cont parity
    * ext_events_quantiles already proves. ONE map-side-combinable
    * aggregate; the percentile sort is per (group, column), never
    * global.
    */
  /** Semi-structured property extraction through Spark's VARIANT type:
    * `try_parse_json` once into the binary variant encoding, typed
    * `variant_get` paths out of it — the modern at-scale JSON lane
    * (parse-once binary access + shreddable storage, vs re-parsing the
    * string per path the way repeated get_json_object calls do). The
    * TOTAL forms throughout — try_parse_json nulls a malformed row,
    * try_variant_get nulls a type surprise (strict variant_get throws;
    * SqlSurfaceSpec pins the split) — one bad row in a 100 TB props
    * column must never kill a stage. Integer-exact rollup per event
    * type: rows-with-property count, min/max/sum of the extracted
    * BIGINT. The oracle walks the same paths with DuckDB's JSON
    * operators (TRY_CAST as the total typing) — two engines' JSON
    * parsers agreeing on extraction + typing is the gate.
    */
  private def eventsProps(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k",
        expr("try_variant_get(try_parse_json(props), '$.k', 'bigint')"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        sum(col("k")).as("k_sum"))

  private val eventsPropsSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(count(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n_with_k,
              min(TRY_CAST(props->>'k' AS BIGINT)) AS k_min,
              max(TRY_CAST(props->>'k' AS BIGINT)) AS k_max,
              CAST(sum(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum
       FROM events GROUP BY 1"""

  private def eventsDescribe(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("value") * 100, 0).cast("long")
    Tables.events(s, d)
      .select(col("event_type"), col("value"), cents.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("__s"),
        sum(col("c") * col("c")).as("__ss"),
        round(min(col("value")), 6).as("min_v"),
        round(expr("percentile(value, 0.25)"), 6).as("p25"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.75)"), 6).as("p75"),
        round(max(col("value")), 6).as("max_v"))
      .select(col("event_type"), col("n"),
        round(col("__s") / 100.0 / col("n"), 6).as("mean_v"),
        round(sqrt((col("__ss") / 10000.0
          - (col("__s") / 100.0) * (col("__s") / 100.0) / col("n"))
          / (col("n") - 1)), 6).as("std_v"),
        col("min_v"), col("p25"), col("p50"), col("p75"), col("max_v"))
  }

  private val eventsDescribeSql =
    """WITH b AS (SELECT event_type, value,
                CAST(round(value * 100, 0) AS BIGINT) AS c FROM events),
       g AS (SELECT event_type, count(*) AS n,
               CAST(sum(c) AS BIGINT) AS s,
               CAST(sum(c * c) AS BIGINT) AS ss,
               round(min(value), 6) AS min_v,
               round(quantile_cont(value, 0.25), 6) AS p25,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.75), 6) AS p75,
               round(max(value), 6) AS max_v
             FROM b GROUP BY 1)
       SELECT event_type, n,
              round(s / 100.0 / n, 6) AS mean_v,
              round(sqrt((ss / 10000.0 - (s / 100.0) * (s / 100.0) / n)
                / (n - 1)), 6) AS std_v,
              min_v, p25, p50, p75, max_v
       FROM g"""

  /** Cohort retention: users bucketed by first-activity week, then
    * distinct-active counts per (cohort_week, week_offset) — the grid a
    * retention curve is read off. Scale shape: ONE shuffle on user_id
    * carrying map-side-combined per-user week SETS (bounded by the
    * calendar, not the event count), cohort = array_min of the same set —
    * no second distinct exchange and no cohort join; only the final small
    * (cohort, offset) cell aggregate reshuffles. Week buckets are integer
    * division on the exact nanos (stream_window precedent — never raw
    * event timestamps).
    */
  private val WeekNs = 7L * 86400L * 1000000000L

  /** DATA-DRIFT / NOVELTY monitor: per day, how much of the traffic is
    * keys never seen before — the dedup-rate telemetry a crawl pipeline
    * watches to detect source drift (novelty collapsing toward 0 means
    * the crawler is re-fetching; spiking means a new source came
    * online). Two aggregates over (key, day) distinct pairs: first-seen
    * day per key, then per-day active/new counts. Exact integer counts;
    * the one division is exact-int / exact-int.
    */
  /** DAU / WAU / stickiness — the engagement telemetry every event
    * pipeline reports: per day, distinct active users, the 7-day
    * trailing distinct count, and their ratio. The trailing distinct
    * CANNOT be a window aggregate (count distinct over a range frame);
    * both engines compute it as the day-list × activity interval join —
    * the fan-out is bounded by 7 × |distinct (day, user)|, and the
    * corpus-sized reduce (the DISTINCT) happens first.
    */
  private def eventsWau(s: SparkSession, d: String): DataFrame = {
    val act = Tables.events(s, d)
      .select(expr(s"ts div $ZDayNs").as("day"), col("user_id")).distinct()
      .localCheckpoint(eager = false)
    val days = act.select(col("day")).distinct()
    val dau = act.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val wau = days.as("dd")
      .join(act.as("a"), col("a.day").between(col("dd.day") - 6, col("dd.day")))
      .groupBy(col("dd.day").as("day"))
      .agg(countDistinct(col("a.user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau") / col("wau"), 6).as("stickiness"))
  }

  private val eventsWauSql =
    s"""WITH act AS (
         SELECT DISTINCT epoch_ns(ts) // $ZDayNs AS day, user_id FROM events),
       days AS (SELECT DISTINCT day FROM act),
       dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM act GROUP BY 1),
       wau AS (
         SELECT d.day, count(DISTINCT a.user_id) AS wau
         FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
         GROUP BY 1)
       SELECT day, dau, wau, round(dau / wau, 6) AS stickiness
       FROM dau JOIN wau USING (day)"""

  private def eventsNovelty(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        expr(s"ts div $ZDayNs").as("day"))
    // a key is "new" on a day iff that day is its first active day —
    // computed as a min window over the distinct (key, day) stream, so
    // the distinct runs ONCE (the old two-aggregate-branch + day-join
    // formulation recomputed the distinct, and its corpus scan, per
    // branch — the exchange-reuse defect family)
    val w = Window.partitionBy("user_id", "event_type")
    ev.select("user_id", "event_type", "day").distinct()
      .withColumn("__first", min("day").over(w))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active_keys"),
        sum(when(col("day") === col("__first"), 1L).otherwise(0L)).as("n_new_keys"))
      .select(col("day"), col("n_active_keys"), col("n_new_keys"),
        round(col("n_new_keys") / col("n_active_keys"), 6).as("novelty_rate"))
  }

  private val eventsNoveltySql =
    s"""WITH kd AS (
         SELECT DISTINCT user_id, event_type, epoch_ns(ts) // $ZDayNs AS day
         FROM events),
       firsts AS (SELECT user_id, event_type, min(day) AS first_day
                  FROM kd GROUP BY 1, 2),
       active AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active_keys
                  FROM kd GROUP BY 1),
       fresh AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS n_new_keys
                 FROM firsts GROUP BY 1)
       SELECT active.day, n_active_keys,
              COALESCE(n_new_keys, 0) AS n_new_keys,
              round(COALESCE(n_new_keys, 0) / n_active_keys, 6) AS novelty_rate
       FROM active LEFT JOIN fresh ON active.day = fresh.day"""

  /** VOLUME-ANOMALY monitor: per event type, flag days whose traffic
    * sits outside median ± 3·MAD — the robust control chart a pipeline
    * watches for ingest outages (count collapses) and crawl storms
    * (count spikes); mean/stddev would let one bad day drag its own
    * threshold, the classic masking failure.
    *
    * EXACT-INTEGER evaluation: med and MAD are LOWER MEDIANS — order
    * statistics at position (n-1) div 2 + 1 of the day sequence sorted
    * by (value, day) — so both are actual daily counts (BIGINTs), never
    * an averaged midpoint, and the flag compares integers. Ties break by
    * day, making every row engine-reproducible.
    *
    * Scale shape: one map-side-combinable (type, day) count over the
    * event stream; the medians run as row_number + conditional-max
    * windows over the per-type DAY list (hundreds of rows per type at
    * any scale — the monitoring frame, not the event frame).
    */
  private def eventsMad(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("event_type"), expr(s"ts div $ZDayNs").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy("event_type")
    val byN = wt.orderBy(col("n"), col("day"))
    val step1 = daily
      .withColumn("__cnt", count(lit(1)).over(wt))
      .withColumn("__rn", row_number().over(byN))
      .withColumn("med",
        max(when(col("__rn") === expr("(__cnt - 1) div 2 + 1"), col("n"))).over(wt))
      .withColumn("__dev", abs(col("n") - col("med")))
    val byDev = wt.orderBy(col("__dev"), col("day"))
    step1
      .withColumn("__rn2", row_number().over(byDev))
      .withColumn("mad",
        max(when(col("__rn2") === expr("(__cnt - 1) div 2 + 1"), col("__dev"))).over(wt))
      .select(col("event_type"), col("day"), col("n"), col("med"), col("mad"),
        (col("__dev") > lit(3L) * col("mad")).cast("int").as("is_anomaly"))
  }

  private val eventsMadSql =
    s"""WITH dc AS (
         SELECT event_type, epoch_ns(ts) // $ZDayNs AS day,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1, 2),
       r AS (SELECT *,
               CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt,
               row_number() OVER (PARTITION BY event_type ORDER BY n, day) AS rn
             FROM dc),
       m AS (SELECT *,
               max(CASE WHEN rn = (cnt - 1) // 2 + 1 THEN n END)
                 OVER (PARTITION BY event_type) AS med
             FROM r),
       v AS (SELECT *, abs(n - med) AS dev,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY abs(n - med), day) AS rn2
             FROM m),
       w AS (SELECT *,
               max(CASE WHEN rn2 = (cnt - 1) // 2 + 1 THEN dev END)
                 OVER (PARTITION BY event_type) AS mad
             FROM v)
       SELECT event_type, day, n, med, mad,
              CAST(dev > 3 * mad AS INTEGER) AS is_anomaly
       FROM w"""

  private val CapPerDay = 3

  /** Ingest QUOTA telemetry: per day, how much traffic a
    * first-`CapPerDay`-events-per-(user, day) cap would keep — the
    * shed-rate report a rate-limited ingest publishes. seq comes from
    * Relational.arrivalSeq under the (ts, event_id) total order; one
    * (user, day) window exchange, then the day rollup.
    */
  private def eventsCap(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr(s"ts div $ZDayNs").as("day"),
        col("ts"), col("event_id"))
    Relational.arrivalSeq(ev, Seq("user_id", "day"),
        Seq(col("ts"), col("event_id")))
      .groupBy("day")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("seq") <= CapPerDay, 1L).otherwise(0L)).as("n_kept"))
      .select(col("day"), col("n_events"), col("n_kept"),
        round(col("n_kept") / col("n_events"), 6).as("keep_rate"))
  }

  private val eventsCapSql =
    s"""WITH e AS (
         SELECT user_id, epoch_ns(ts) // $ZDayNs AS day,
                epoch_ns(ts) AS tsn, event_id
         FROM events),
       r AS (SELECT *, row_number() OVER (PARTITION BY user_id, day
               ORDER BY tsn, event_id) AS seq FROM e)
       SELECT day, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CASE WHEN seq <= $CapPerDay THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              round(sum(CASE WHEN seq <= $CapPerDay THEN 1 ELSE 0 END) * 1.0
                / count(*), 6) AS keep_rate
       FROM r GROUP BY 1"""

  /** Cross-source DUPLICATION MATRIX: near-dup pairs rolled up by the
    * (unordered) source pair — which crawls/feeds duplicate each other,
    * the provenance view a curation team prunes sources with. Pair count
    * + max score only (a float MEAN over pairs would be fold-order-
    * dependent; max is order-free).
    */
  private def dedupSourceMatrix(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", JaccardTau)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"), col("jaccard"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"), round(max(col("jaccard")), 6).as("max_jaccard"))
  }

  private lazy val dedupSourceMatrixSql =
    s"""SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
              round(max(jaccard), 6) AS max_jaccard
       FROM (
         SELECT least(da.source, db.source) AS source_lo,
                greatest(da.source, db.source) AS source_hi, s.jaccard
         FROM ($dedupJaccardSql) s
         JOIN documents da ON s.doc_a = da.doc_id
         JOIN documents db ON s.doc_b = db.doc_id) m
       GROUP BY 1, 2"""

  private def eventsRetention(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), expr(s"ts div $WeekNs").as("week"))
      .groupBy("user_id").agg(collect_set(col("week")).as("weeks"))
      .select(explode(col("weeks")).as("week"),
        array_min(col("weeks")).as("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      // each user contributes each of their weeks exactly once (set
      // semantics), so a plain count counts users per cell
      .agg(count(lit(1)).as("n_users"))

  private val eventsRetentionSql =
    s"""WITH ew AS (
         SELECT DISTINCT user_id, epoch_ns(ts) // $WeekNs AS week FROM events),
       c AS (SELECT user_id, min(week) AS cohort_week FROM ew GROUP BY user_id)
       SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_users
       FROM ew JOIN c USING (user_id)
       GROUP BY 1, 2"""

  /** Staged conversion funnel: users reaching view -> click-after-view ->
    * purchase-after-that, in temporal order per user. Stage membership is
    * a chain of PREFIX-MAX windows over 0/1 flags (one user_id shuffle,
    * no self-joins, no per-stage passes): `seen_view` marks rows at/after
    * the user's first view, a click there is a staged click, and so on.
    * Integer flags end-to-end, so the result is engine-exact; ts is only
    * the window order key (standing events.ts rule).
    */
  private def eventsFunnel(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id")).rowsBetween(Long.MinValue, 0)
    val flags = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_id"),
      when(col("event_type") === "view", 1).otherwise(0).as("is_v"),
      when(col("event_type") === "click", 1).otherwise(0).as("is_c"),
      when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
    val staged = flags
      .withColumn("seen_v", max(col("is_v")).over(w))
      .withColumn("cav", col("is_c") * col("seen_v"))
      .withColumn("seen_cav", max(col("cav")).over(w))
      .withColumn("pac", col("is_p") * col("seen_cav"))
    staged.groupBy("user_id")
      .agg(max("is_v").as("v"), max("cav").as("c"), max("pac").as("p"))
      .agg(sum("v").as("nv"), sum("c").as("nc"), sum("p").as("np"))
      .selectExpr(
        "stack(3, 'view', 1, nv, 'click', 2, nc, 'purchase', 3, np) AS (stage, stage_idx, n_users)")
  }

  private val eventsFunnelSql =
    """WITH f AS (
         SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_v,
           CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_c,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
         FROM events),
       s1 AS (
         SELECT *, max(is_v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS seen_v
         FROM f),
       s2 AS (SELECT *, is_c * seen_v AS cav FROM s1),
       s3 AS (
         SELECT *, max(cav) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS seen_cav
         FROM s2),
       per AS (
         SELECT user_id, max(is_v) AS v, max(cav) AS c,
                max(is_p * seen_cav) AS p
         FROM s3 GROUP BY user_id),
       tot AS (
         SELECT CAST(sum(v) AS BIGINT) AS nv, CAST(sum(c) AS BIGINT) AS nc,
                CAST(sum(p) AS BIGINT) AS np
         FROM per)
       SELECT 'view' AS stage, 1 AS stage_idx, nv AS n_users FROM tot
       UNION ALL SELECT 'click', 2, nc FROM tot
       UNION ALL SELECT 'purchase', 3, np FROM tot"""

  /** Snapshot reconciliation via FULL OUTER join — keys present on either
    * side survive with zero-filled counterparts (both engines coalesce
    * the USING key in a full join).
    */
  private def reconcileFull(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val open = o.where(col("o_orderstatus") === "O")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_open"))
    val done = o.where(col("o_orderstatus") === "F")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_done"))
    open.join(done, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey").as("cust_id"),
        coalesce(col("n_open"), lit(0L)).as("n_open"),
        coalesce(col("n_done"), lit(0L)).as("n_done"))
  }

  private val reconcileFullSql =
    """SELECT o_custkey AS cust_id,
              coalesce(n_open, 0) AS n_open,
              coalesce(n_done, 0) AS n_done
       FROM (SELECT o_custkey, count(*) AS n_open FROM orders
             WHERE o_orderstatus = 'O' GROUP BY 1) a
       FULL JOIN (SELECT o_custkey, count(*) AS n_done FROM orders
             WHERE o_orderstatus = 'F' GROUP BY 1) b
       USING (o_custkey)"""

  /** Transitive dedup end-to-end: MinHash pairs -> connected components
    * -> one survivor (the min id) per cluster.
    */
  private def ccSweep(s: SparkSession, d: String): DataFrame =
    // reuses ccComponents verbatim — its oracle twin is likewise built
    // from ccComponentsSql, so the two cc queries cannot drift apart
    Dedup.sweepByComponent(
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
      "doc_id",
      ccComponents(s, d))

  private lazy val ccSweepSql =
    s"""WITH cc AS ($ccComponentsSql)
       SELECT doc_id, lang, source, n_chars FROM documents
       WHERE NOT EXISTS (SELECT 1 FROM cc
         WHERE cc.doc_id = documents.doc_id AND cc.component <> cc.doc_id)"""

  /** Resize stage over decoded media (stub resample, real dims/plumbing). */
  private val ResizeMaxSide = 224

  private def mmResize(s: SparkSession, d: String): DataFrame =
    Multimodal.resizeStub(
      Multimodal.decodeFeatures(
        Multimodal.withPayload(Tables.documents(s, d), "doc_id", "text")),
      ResizeMaxSide)

  private val mmResizeSql = {
    val m = ResizeMaxSide
    val outW = s"CASE WHEN width >= height THEN least(width, $m) ELSE (width * least(height, $m)) // height END"
    val outH = s"CASE WHEN width >= height THEN (height * least(width, $m)) // width ELSE least(height, $m) END"
    s"""WITH d AS ($mmDecodeSql)
       SELECT doc_id, width, height,
              CAST($outW AS INTEGER) AS out_w,
              CAST($outH AS INTEGER) AS out_h,
              CAST((checksum * 37 + ($outW) * 31 + ($outH))
                   % 1000000007 AS BIGINT) AS resized_checksum
       FROM d"""
  }

  private def mmFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.decodeFeatures(
      Multimodal.withPayload(Tables.documents(s, d), "doc_id", "text")))

  /** Media near-dup via FRAME-FINGERPRINT collisions — the video-dedup
    * shape: sample frames, perceptually hash each (stub: the
    * deterministic frame_hash), equi-join on the hash (inverted index —
    * never an all-pairs compare), and keep media pairs sharing >=
    * MinSharedFrames frames. With a real pHash/dHash the same join
    * tolerates re-encodes; the stub collides only identical payloads,
    * which the exact-dup clusters in the corpus exercise.
    */
  private val MinSharedFrames = 2

  private def mmFrameDup(s: SparkSession, d: String): DataFrame = {
    // persist the decoded frame stream across the self-join's two sides
    // — the decode (the expensive step on real media) must run once, not
    // once per side; the tiny pair result is checkpointed eagerly so the
    // cache can be released deterministically (the Dedup edge-list
    // pattern)
    val frames = mmFrames(s, d).select("doc_id", "frame_hash").persist()
    val pairs = frames.select(col("doc_id").as("doc_a"), col("frame_hash"))
      .join(frames.select(col("doc_id").as("doc_b"), col("frame_hash")),
        Seq("frame_hash"))
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= MinSharedFrames)
      .localCheckpoint()
    frames.unpersist()
    pairs
  }

  private lazy val mmFrameDupSql =
    s"""WITH fr AS ($mmFramesSql)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
       FROM fr a JOIN fr b
         ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
       GROUP BY 1, 2 HAVING count(*) >= $MinSharedFrames"""

  private val mmFramesSql =
    s"""WITH d AS ($mmDecodeSql)
       SELECT doc_id, CAST(f AS INTEGER) AS frame_idx,
              (checksum * 31 + f) % 1000000007 AS frame_hash
       FROM (SELECT doc_id, checksum, unnest(generate_series(1, n_frames)) AS f
             FROM d) t"""

  /** End-to-end corpus clean: quality bar + language allowlist + MinHash
    * near-dup sweep, one lazy DAG (the BASELINE.json north-star op).
    */
  private val CleanMinQuality = 0.7
  private val CleanLangs = Seq("sqlish", "streamish")

  private def corpusClean(s: SparkSession, d: String): DataFrame =
    graft.operators.CorpusPipeline.clean(
      Tables.documents(s, d), "doc_id", "text",
      CleanMinQuality, CleanLangs,
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
      .select("doc_id", "pred_lang", "quality", "n_chars")

  private lazy val corpusCleanSql = {
    val langList = CleanLangs.map(l => s"'$l'").mkString(", ")
    val quality = qualitySqlOver(
      "len(list_distinct(string_split(text, ' ')))",
      "len(string_split(text, ' '))",
      s"len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql)))")
    s"""WITH scored AS (
         SELECT doc_id, text, n_chars,
           $quality AS quality,
           $langCaseSql AS pred_lang
         FROM (SELECT doc_id, text, n_chars, $langScoresSql FROM documents) t0),
       pre AS (
         SELECT * FROM scored
         WHERE quality >= $CleanMinQuality AND pred_lang IN ($langList)),
       pairs AS (
         WITH ${minhashCtesSql("pre")},
         ${verifySql(MinhashTau)})
       SELECT doc_id, pred_lang, quality, n_chars
       FROM pre
       WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.doc_b = pre.doc_id)"""
  }

  /** THE whole-pipeline composite: clean (quality + language + near-dup
    * sweep) → stratified sample per predicted language → sequence-pack
    * into context budgets — the full curation path a training-data build
    * runs, as ONE lazy DAG (the clean's localCheckpoint is its only
    * materialization). Emits per-pack occupancy plus the pack's minimum
    * quality (min is fold-order-free, unlike avg).
    */
  private val CurateSampleSalt = "|graft-curate-s"
  private val CuratePackSalt = "|graft-curate-p"
  private val CurateQuota = 25
  private val CurateBudget = 2048L

  private def corpusCurate(s: SparkSession, d: String): DataFrame = {
    val cleaned = graft.operators.CorpusPipeline.clean(
      Tables.documents(s, d), "doc_id", "text",
      CleanMinQuality, CleanLangs,
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
    val sampled = Sampling.stratified(cleaned, Seq("pred_lang"),
      "doc_id", "text", lit(CurateQuota), CurateSampleSalt)
    Sampling.packSequences(sampled, Seq("pred_lang"),
        "doc_id", "n_chars", CurateBudget, CuratePackSalt)
      .groupBy("pred_lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("spans_next")).cast("long").as("n_spanning"),
        min(col("quality")).as("min_quality"))
  }

  /** Curation lineage audit (CorpusPipeline.lineage): per-document stage
    * bitmask (1 prefiltered | 2 canonical | 4 sampled | 8 pack-spanning)
    * rolled up per (pred_lang, lineage) with doc and char mass — the
    * auditable per-stage funnel of the curate composite.
    */
  private def corpusLineage(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    graft.operators.CorpusPipeline.lineage(Tables.documents(s, d),
        "doc_id", "text", CleanMinQuality, CleanLangs,
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash,
        lit(CurateQuota), CurateSampleSalt,
        "n_chars", CurateBudget, CuratePackSalt)
      .groupBy("pred_lang", "lineage")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
  }

  private lazy val corpusLineageSql = {
    val langList = CleanLangs.map(l => s"'$l'").mkString(", ")
    val quality = qualitySqlOver(
      "len(list_distinct(string_split(text, ' ')))",
      "len(string_split(text, ' '))",
      s"len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql)))")
    val keep = s"quality >= $CleanMinQuality AND pred_lang IN ($langList)"
    val keepS = s"s.quality >= $CleanMinQuality AND s.pred_lang IN ($langList)"
    s"""WITH scored AS (
         SELECT doc_id, text, n_chars,
           $quality AS quality,
           $langCaseSql AS pred_lang
         FROM (SELECT doc_id, text, n_chars, $langScoresSql FROM documents) t0),
       pre AS (SELECT * FROM scored WHERE $keep),
       pairs AS (
         WITH ${minhashCtesSql("pre")},
         ${verifySql(MinhashTau)}),
       removed AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
       cleaned AS (
         SELECT doc_id, text, pred_lang, n_chars FROM pre
         WHERE NOT EXISTS (SELECT 1 FROM removed r WHERE r.doc_id = pre.doc_id)),
       sampled AS (
         SELECT doc_id, pred_lang, n_chars FROM (
           SELECT doc_id, pred_lang, n_chars,
             row_number() OVER (PARTITION BY pred_lang
               ORDER BY ${polyHashSql(s"'$CurateSampleSalt' || text")}, doc_id) AS rn
           FROM cleaned) t
         WHERE rn <= $CurateQuota),
       ordered AS (
         SELECT doc_id, pred_lang, n_chars,
           sum(n_chars) OVER (PARTITION BY pred_lang
             ORDER BY ${polyHashSql(s"'$CuratePackSalt' || CAST(doc_id AS VARCHAR)")}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM sampled),
       packd AS (
         SELECT doc_id,
           CASE WHEN CAST(floor((cum - 1) / $CurateBudget) AS BIGINT)
                   > CAST(floor((cum - n_chars) / $CurateBudget) AS BIGINT)
                THEN 1 ELSE 0 END AS spans_next
         FROM ordered),
       lin AS (
         SELECT s.pred_lang, s.n_chars,
           (CASE WHEN $keepS THEN 1 ELSE 0 END)
           + (CASE WHEN $keepS AND r.doc_id IS NULL THEN 2 ELSE 0 END)
           + (CASE WHEN sm.doc_id IS NOT NULL THEN 4 ELSE 0 END)
           + (CASE WHEN pk.spans_next = 1 THEN 8 ELSE 0 END) AS lineage
         FROM scored s
         LEFT JOIN removed r ON r.doc_id = s.doc_id
         LEFT JOIN (SELECT doc_id FROM sampled) sm ON sm.doc_id = s.doc_id
         LEFT JOIN packd pk ON pk.doc_id = s.doc_id)
       SELECT pred_lang, CAST(lineage AS INTEGER) AS lineage,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM lin GROUP BY 1, 2"""
  }

  private lazy val corpusCurateSql = {
    val langList = CleanLangs.map(l => s"'$l'").mkString(", ")
    val quality = qualitySqlOver(
      "len(list_distinct(string_split(text, ' ')))",
      "len(string_split(text, ' '))",
      s"len(list_filter(string_split(text, ' '), t -> t IN ($stopListSql)))")
    s"""WITH scored AS (
         SELECT doc_id, text, n_chars,
           $quality AS quality,
           $langCaseSql AS pred_lang
         FROM (SELECT doc_id, text, n_chars, $langScoresSql FROM documents) t0),
       pre AS (
         SELECT * FROM scored
         WHERE quality >= $CleanMinQuality AND pred_lang IN ($langList)),
       pairs AS (
         WITH ${minhashCtesSql("pre")},
         ${verifySql(MinhashTau)}),
       cleaned AS (
         SELECT doc_id, text, pred_lang, quality, n_chars
         FROM pre
         WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.doc_b = pre.doc_id)),
       sampled AS (
         SELECT doc_id, pred_lang, quality, n_chars FROM (
           SELECT doc_id, pred_lang, quality, n_chars,
             row_number() OVER (PARTITION BY pred_lang
               ORDER BY ${polyHashSql(s"'$CurateSampleSalt' || text")}, doc_id) AS rn
           FROM cleaned) t
         WHERE rn <= $CurateQuota),
       ordered AS (
         SELECT pred_lang, quality, n_chars,
           sum(n_chars) OVER (PARTITION BY pred_lang
             ORDER BY ${polyHashSql(s"'$CuratePackSalt' || CAST(doc_id AS VARCHAR)")}, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM sampled),
       packed AS (
         SELECT pred_lang, quality, n_chars,
           CAST(floor((cum - n_chars) / $CurateBudget) AS BIGINT) AS pack_id,
           CASE WHEN CAST(floor((cum - 1) / $CurateBudget) AS BIGINT)
                   > CAST(floor((cum - n_chars) / $CurateBudget) AS BIGINT)
                THEN 1 ELSE 0 END AS spans_next
         FROM ordered)
       SELECT pred_lang, pack_id, count(*) AS n_docs,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              CAST(sum(spans_next) AS BIGINT) AS n_spanning,
              min(quality) AS min_quality
       FROM packed GROUP BY 1, 2"""
  }

  // -------------------------------------------------------------- streaming

  private def streamWindow(s: SparkSession, d: String): DataFrame =
    EventsStream.windowedAgg(Tables.events(s, d))

  private val streamWindowSql =
    s"""SELECT (epoch_ns(ts) // ${EventsStream.WindowSeconds * 1000000000L})
                 * ${EventsStream.WindowSeconds} AS window_start,
              event_type, count(*) AS n_events,
              round(sum(value), 3) AS sum_value,
              count(DISTINCT user_id) AS n_users
       FROM events GROUP BY 1, 2"""

  /** Sliding-window twin (EventsStream.slidingWindowedAgg): 10-minute
    * windows every 5 — each event in exactly 2 windows; the oracle
    * unnests the same 2-element start sequence.
    */
  private def streamSliding(s: SparkSession, d: String): DataFrame =
    EventsStream.slidingWindowedAgg(Tables.events(s, d))

  private val streamSlidingSql = {
    val slideNs = EventsStream.SlideSeconds * 1000000000L
    val steps = (EventsStream.WindowSeconds / EventsStream.SlideSeconds).toInt
    s"""WITH w AS (
         SELECT event_type, value,
                unnest(generate_series(
                  (epoch_ns(ts) // $slideNs - ${steps - 1}) * ${EventsStream.SlideSeconds},
                  (epoch_ns(ts) // $slideNs) * ${EventsStream.SlideSeconds},
                  ${EventsStream.SlideSeconds})) AS window_start
         FROM events)
       SELECT window_start, event_type, count(*) AS n_events,
              round(sum(value), 3) AS sum_value
       FROM w GROUP BY 1, 2"""
  }

  /** Scale flavor of the window aggregate: APPROXIMATE distinct users at
    * constant sketch state per group (vs countDistinct's exact shuffle
    * of every key). Round-10 reshape (closes the registry's last
    * rows-only gate): the REGISTERED estimate is the deterministic
    * linear-counting sketch — the same engine-independent
    * bucketed-occupancy state the sketch tier persists and merges, so
    * the DuckDB oracle restates it and the rows hash-gate. Spark's HLL++
    * flavor (whose register values are engine-specific by construction,
    * so it could never value-match ANY other engine) rides a spec
    * assertion instead: SketchSpec pins |hll − exact| within the sketch's
    * error contract on every window. State here is ≤ LinCountBuckets
    * occupancy slots per (window, type) — same scale story as HLL.
    */
  private def streamWindowApprox(s: SparkSession, d: String): DataFrame = {
    val b = LinCountBuckets
    Tables.events(s, d)
      .withColumn("window_start",
        expr(s"ts div ${EventsStream.WindowSeconds * 1000000000L}")
          * EventsStream.WindowSeconds)
      .groupBy("window_start", "event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(Sketches.bucketOf(col("user_id"), b, 7L)).as("n_occupied"))
      .withColumn("n_users_est",
        when(col("n_occupied") < b,
          round(lit(b.toDouble) *
            log(lit(b.toDouble) / (lit(b) - col("n_occupied"))), 4)))
  }

  /** Twin of [[streamWindowApprox]]: same tumbling window, same Knuth
    * bucket hash, same occupancy-inversion estimate as the lincount
    * sketch oracles.
    */
  private lazy val streamWindowApproxSql = {
    val b = LinCountBuckets
    val wNs = EventsStream.WindowSeconds * 1000000000L
    s"""WITH e AS (
         SELECT epoch_ns(ts) // $wNs * ${EventsStream.WindowSeconds} AS window_start,
                event_type, user_id
         FROM events),
       occ AS (
         SELECT window_start, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT (((user_id % ${Sketches.Mod}) * ${Sketches.KnuthA} + 7) % ${Sketches.Mod}) % $b) AS BIGINT) AS n_occupied
         FROM e GROUP BY 1, 2)
       SELECT window_start, event_type, n_events, n_occupied,
              CASE WHEN n_occupied < $b
                   THEN round($b * ln($b.0 / ($b - n_occupied)), 4) END AS n_users_est
       FROM occ"""
  }

  // ----------------------------------------- round-7 depth: verify/sketch/train

  /** Normalized-edit-similarity floor for the two-stage fuzzy verify. */
  private val EditSimTau = 0.5
  /** Per-text DP cap: worst pair costs EditMaxChars² regardless of doc
    * size — the bounded-work knob (both engines cap identically).
    */
  private val EditMaxChars = 4000

  /** TWO-STAGE fuzzy dedup (Dedup.editVerifiedPairs): MinHash band
    * candidates re-verified by normalized Levenshtein similarity — the
    * character-level check that separates in-place edits (high edit sim)
    * from word reshuffles (high Jaccard, low edit sim).
    */
  private def dedupEditVerify(s: SparkSession, d: String): DataFrame =
    Dedup.editVerifiedPairs(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, MinhashRows, EditSimTau, EditMaxChars, Dedup.PolyHash)

  private lazy val dedupEditVerifySql =
    s"""WITH ${minhashCtesSql("documents")},
       tx AS (SELECT doc_id, substr(text, 1, $EditMaxChars) AS t FROM documents),
       sc AS (
         SELECT c.doc_a, c.doc_b,
                CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS lev_dist,
                round(1.0 - levenshtein(ta.t, tb.t) / greatest(len(ta.t), len(tb.t)), 6) AS edit_sim
         FROM cand c
         JOIN tx ta ON c.doc_a = ta.doc_id
         JOIN tx tb ON c.doc_b = tb.doc_id)
       SELECT doc_a, doc_b, lev_dist, edit_sim
       FROM sc WHERE edit_sim >= $EditSimTau"""

  /** Cross-doc duplicated-shingle coverage threshold: a shingle counts
    * as duplicated when ≥ 2 documents contain it.
    */
  private val DupCovMinDf = 2

  /** Per-doc duplicated-ngram coverage (Dedup.dupShingleCoverage) — the
    * linear-cost doc-level contamination signal.
    */
  private def dedupNgramCov(s: SparkSession, d: String): DataFrame =
    Dedup.dupShingleCoverage(Tables.documents(s, d), "doc_id", "text",
      DupCovMinDf)

  private val dedupNgramCovSql =
    s"""WITH $edgesSql,
       sdf AS (SELECT shingle, count(*) AS df FROM edges GROUP BY 1)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
              CAST(sum(CASE WHEN df >= $DupCovMinDf THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
              round(sum(CASE WHEN df >= $DupCovMinDf THEN 1 ELSE 0 END) / count(*), 6) AS dup_frac
       FROM edges JOIN sdf USING (shingle)
       GROUP BY doc_id"""

  /** Linear-counting bitmap width: 1500 distinct users at sf0.1 load it
    * to ~31%; saturation (est = NULL) would need ~34k distinct keys —
    * the documented signal to widen B, not a correctness cliff.
    */
  private val LinCountBuckets = 4096

  /** Deterministic linear-counting distinct-users estimate per event
    * type with exact-count audit (Sketches.linearCountDistinct).
    */
  private def sketchLincount(s: SparkSession, d: String): DataFrame =
    Sketches.linearCountDistinct(
      Tables.events(s, d).select(col("event_type"), col("user_id")),
      "user_id", "event_type", LinCountBuckets)

  private val sketchLincountSql = {
    val b = LinCountBuckets
    val est = s"round($b * ln($b.0 / ($b - n_occupied)), 4)"
    s"""WITH ks AS (SELECT DISTINCT event_type, user_id FROM events),
       occ AS (
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact,
                CAST(count(DISTINCT (((user_id % ${Sketches.Mod}) * ${Sketches.KnuthA} + 7) % ${Sketches.Mod}) % $b) AS BIGINT) AS n_occupied
         FROM ks GROUP BY 1)
       SELECT event_type, n_exact, n_occupied,
              CASE WHEN n_occupied < $b THEN $est END AS est,
              CASE WHEN n_occupied < $b
                   THEN round(abs($est - n_exact) / n_exact, 4) END AS rel_err
       FROM occ"""
  }

  /** PERSIST-AND-MERGE sketch lifecycle: day-1's occupancy state is
    * WRITTEN to parquet, re-read, and OR-merged with day-2's before the
    * estimate is taken — the durable daily loop (the lincount analogue
    * of ext_dedup_incr_persist). Because the state round-trips
    * losslessly and the merge is state(A) ⊕ state(B) ≡ state(A ∪ B),
    * the oracle is simply the one-shot sketch over ALL events — the
    * split, the write, and the re-read are semantically invisible,
    * which is exactly the property being gated.
    */
  private def sketchLincount2(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"),
      col("ts"))
    val path = scratchPath(s, "lincount", d)
    Sketches.lincountState(ev.where(col("ts") < IncrCutoffNs),
        "user_id", "event_type", LinCountBuckets)
      .write.mode("overwrite").parquet(path)
    Sketches.lincountEstimate(
      Sketches.mergeLincountStates(
        s.read.parquet(path),
        Sketches.lincountState(ev.where(col("ts") >= IncrCutoffNs),
          "user_id", "event_type", LinCountBuckets)),
      "event_type", LinCountBuckets)
  }

  private val sketchLincount2Sql = {
    val b = LinCountBuckets
    s"""WITH ks AS (
         SELECT DISTINCT event_type,
                (((user_id % ${Sketches.Mod}) * ${Sketches.KnuthA} + 7) % ${Sketches.Mod}) % $b AS bucket
         FROM events),
       occ AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_occupied
               FROM ks GROUP BY 1)
       SELECT event_type, n_occupied,
              CASE WHEN n_occupied < $b
                   THEN round($b * ln($b.0 / ($b - n_occupied)), 4) END AS est
       FROM occ"""
  }

  /** Pairwise audience overlap between event types from the SAME
    * lincount states the daily loop persists (inclusion–exclusion, see
    * Sketches.lincountOverlapAudit): the corpus is touched once for the
    * state build; the exact all-pairs self-join rides only the audit.
    */
  private def sketchOverlap(s: SparkSession, d: String): DataFrame =
    Sketches.lincountOverlapAudit(
      Tables.events(s, d).select(col("event_type"), col("user_id")),
      "user_id", "event_type", LinCountBuckets)

  private val sketchOverlapSql = {
    val b = LinCountBuckets
    def est(occ: String) =
      s"CASE WHEN $occ < $b THEN round($b * ln($b.0 / ($b - $occ)), 4) END"
    s"""WITH ks AS (SELECT DISTINCT event_type AS g, user_id AS k FROM events),
       st AS (SELECT DISTINCT g,
                (((k % ${Sketches.Mod}) * ${Sketches.KnuthA} + 7) % ${Sketches.Mod}) % $b AS bucket
              FROM ks),
       occ AS (SELECT g, CAST(count(*) AS BIGINT) AS occ FROM st GROUP BY 1),
       pairs AS (SELECT a.g AS grp_a, a.occ AS occ_a, b2.g AS grp_b, b2.occ AS occ_b
                 FROM occ a JOIN occ b2 ON a.g < b2.g),
       sh AS (SELECT sa.g AS grp_a, sb.g AS grp_b, CAST(count(*) AS BIGINT) AS n_shared
              FROM st sa JOIN st sb ON sa.bucket = sb.bucket AND sa.g < sb.g
              GROUP BY 1, 2),
       ex AS (SELECT ka.g AS grp_a, kb.g AS grp_b, CAST(count(*) AS BIGINT) AS n_exact_overlap
              FROM ks ka JOIN ks kb ON ka.k = kb.k AND ka.g < kb.g
              GROUP BY 1, 2),
       j AS (SELECT p.grp_a, p.grp_b,
                    coalesce(ex.n_exact_overlap, 0) AS n_exact_overlap,
                    p.occ_a, p.occ_b, coalesce(sh.n_shared, 0) AS n_shared
             FROM pairs p LEFT JOIN sh USING (grp_a, grp_b)
                          LEFT JOIN ex USING (grp_a, grp_b)),
       e AS (SELECT *, ${est("occ_a")} AS est_a, ${est("occ_b")} AS est_b,
                    ${est("(occ_a + occ_b - n_shared)")} AS est_union
             FROM j),
       o AS (SELECT *,
                    CASE WHEN est_a IS NOT NULL AND est_b IS NOT NULL
                              AND est_union IS NOT NULL
                         THEN round(est_a + est_b - est_union, 4) END AS est_overlap
             FROM e)
       SELECT grp_a, grp_b, n_exact_overlap, occ_a, occ_b, n_shared,
              est_a, est_b, est_union, est_overlap,
              CASE WHEN est_overlap IS NOT NULL
                   THEN round(est_overlap - n_exact_overlap, 4) END AS err
       FROM o"""
  }

  private val CmsWidth = 256
  private val CmsDepth = 3
  private val CmsTopK = 20

  /** Count-min heavy-hitter audit (Sketches.countMinAudit): top-20 exact
    * word counts vs their depth-3 × width-256 sketch estimates.
    */
  private def sketchCms(s: SparkSession, d: String): DataFrame =
    Sketches.countMinAudit(Tables.documents(s, d), "doc_id", "text",
      CmsWidth, CmsDepth, CmsTopK)

  private lazy val sketchCmsSql = {
    val joins = (0 until CmsDepth).map { r =>
      s"""JOIN counters c$r ON c$r.r = $r
          AND c$r.bucket = ((sid * ${2 * r + 3} + ${5 * r + 1}) % ${Sketches.Mod}) % $CmsWidth"""
    }.mkString("\n")
    val minEst = s"least(${(0 until CmsDepth).map(r => s"c$r.counter").mkString(", ")})"
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
       wc AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
       vocab AS (SELECT word, cnt, ${polyHashSql("word")} AS sid FROM wc),
       counters AS (
         SELECT r, ((sid * (2 * r + 3) + (5 * r + 1)) % ${Sketches.Mod}) % $CmsWidth AS bucket,
                CAST(sum(cnt) AS BIGINT) AS counter
         FROM vocab, range($CmsDepth) t(r) GROUP BY 1, 2),
       top AS (SELECT word, cnt, sid FROM vocab ORDER BY cnt DESC, word LIMIT $CmsTopK)
       SELECT word, cnt AS n_exact, $minEst AS n_est, $minEst - cnt AS overcount
       FROM top
       $joins"""
  }

  private val TrainDim = 64
  private val TrainRounds = 3

  /** In-engine classifier training (TextAnalysis.hashedPerceptronTrain):
    * a 3-round batch perceptron learning the en/non-en language label
    * from hashed bag-of-words counts — per-round accuracy + weight-mass
    * telemetry, all-BIGINT and oracle-unrolled like the CC/BPE loops.
    */
  private def classifyTrain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
    TextAnalysis.hashedPerceptronTrain(docs, "doc_id", "text", "y",
      TrainDim, TrainRounds)
  }

  /** The trainer's CTE chain (features + w0 + per-round m/p/u/w
    * quadruples) — shared by the train telemetry and apply oracles.
    */
  private lazy val classifyTrainCtes = {
    val featCtes =
      s"""lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
           FROM documents),
         tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
         feat AS (
           SELECT doc_id, y, ${polyHashSql("t")} % $TrainDim AS bucket,
                  CAST(count(*) AS BIGINT) AS cnt
           FROM tok JOIN lab USING (doc_id) GROUP BY 1, 2, 3),
         w0 AS (SELECT r AS bucket, CAST(0 AS BIGINT) AS w FROM range($TrainDim) rr(r))"""
    val rounds = (1 to TrainRounds).map { t =>
      s"""m$t AS (SELECT doc_id, y, sum(f.cnt * w.w) AS margin
            FROM feat f JOIN w${t - 1} w USING (bucket) GROUP BY 1, 2),
         p$t AS (SELECT doc_id, y,
                   CASE WHEN margin >= 0 THEN 1 ELSE -1 END AS pred FROM m$t),
         u$t AS (SELECT bucket, sum(f.y * f.cnt) AS du
            FROM feat f JOIN (SELECT doc_id FROM p$t WHERE pred != y) b USING (doc_id)
            GROUP BY 1),
         w$t AS (SELECT w.bucket, w.w + coalesce(u.du, 0) AS w
            FROM w${t - 1} w LEFT JOIN u$t u USING (bucket))"""
    }.mkString(",\n")
    s"$featCtes,\n$rounds"
  }

  private lazy val classifyTrainSql = {
    val rows = (1 to TrainRounds).map { t =>
      s"""SELECT CAST($t AS INTEGER) AS round,
           (SELECT CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) FROM p$t) AS n_correct,
           (SELECT CAST(sum(CASE WHEN pred != y THEN 1 ELSE 0 END) AS BIGINT) FROM p$t) AS n_wrong,
           (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w$t) AS w_l1,
           (SELECT CAST(count(*) FILTER (WHERE w != 0) AS BIGINT) FROM w$t) AS w_nnz"""
    }.mkString("\nUNION ALL\n")
    s"WITH $classifyTrainCtes\n$rows"
  }

  /** Train-then-apply (TextAnalysis.hashedPerceptronApply): the
    * freshly-trained weights score every document; per-source rollup of
    * predicted-positive / true-positive / accuracy — the deployment
    * composite that turns ext_classify_train's weights into a corpus
    * filter in the same job.
    */
  private def classifyApply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
    TextAnalysis.hashedPerceptronApply(docs, "doc_id", "text", "y",
      "source", TrainDim, TrainRounds)
  }

  private lazy val classifyApplySql =
    s"""WITH $classifyTrainCtes,
       sc AS (
         SELECT doc_id, y,
                CASE WHEN sum(f.cnt * w.w) >= 0 THEN 1 ELSE -1 END AS pred
         FROM feat f JOIN w$TrainRounds w USING (bucket)
         GROUP BY doc_id, y)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred_pos,
              CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_pos,
              CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
              round(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) / count(*), 6) AS acc
       FROM sc JOIN documents USING (doc_id)
       GROUP BY source"""

  /** Calendar resample + gap fill (Relational.resampleDailyFfill):
    * per-type daily event counts and cent-exact value sums on the dense
    * day spine — zero-filled counts, NULL-preserving day values,
    * forward-filled last observation. The pandas resample('D') +
    * ffill() twin.
    */
  private def tsResample(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("value") * 100, 0).cast("long")
    val ev = Tables.events(s, d)
      .select(col("event_type"), col("ts"), col("value"))
    Relational.resampleDailyFfill(ev, "event_type", expr(s"ts div $ZDayNs"),
        Seq(sum(cents).as("day_cents")), Seq("day_cents"))
      .select(col("event_type"), col("day"), col("n_rows").as("n_events"),
        round(col("day_cents") / 100.0, 2).as("day_value"),
        round(col("day_cents_ffill") / 100.0, 2).as("ffill_value"))
  }

  private val tsResampleSql =
    s"""WITH ev AS (
         SELECT event_type, epoch_ns(ts) // $ZDayNs AS day,
                CAST(round(value * 100, 0) AS BIGINT) AS cents
         FROM events),
       daily AS (
         SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(cents) AS BIGINT) AS day_cents
         FROM ev GROUP BY 1, 2),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM ev),
       spine AS (
         SELECT event_type, day
         FROM (SELECT DISTINCT event_type FROM ev),
              (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds)),
       j AS (
         SELECT s.event_type, s.day,
                coalesce(n_events, CAST(0 AS BIGINT)) AS n_events, day_cents
         FROM spine s LEFT JOIN daily USING (event_type, day))
       SELECT event_type, day, n_events,
              round(day_cents / 100.0, 2) AS day_value,
              round(last_value(day_cents IGNORE NULLS) OVER (
                      PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    / 100.0, 2) AS ffill_value
       FROM j"""

  private val QsBins = 256
  private val Quantiles = Seq(0.5, 0.9, 0.99)

  /** Histogram quantile sketch audit (Sketches.histogramQuantiles):
    * 256-bin fixed-grid P50/P90/P99 per event type vs the exact
    * interpolated percentile.
    */
  private def sketchQuantile(s: SparkSession, d: String): DataFrame =
    Sketches.histogramQuantiles(
      Tables.events(s, d).select(col("event_type"), col("value")),
      "value", "event_type", QsBins, Quantiles)

  private lazy val sketchQuantileSql = {
    val qsValues = Quantiles.zipWithIndex
      .map { case (q, i) => s"($i, CAST($q AS DOUBLE))" }.mkString(", ")
    val exUnion = Quantiles.zipWithIndex.map { case (q, i) =>
      s"""SELECT event_type, $i AS qi, round(quantile_cont(value, $q), 6) AS exact
         FROM events GROUP BY 1"""
    }.mkString("\nUNION ALL\n")
    val mid = s"round(lo + (qbin + 0.5) * ((hi - lo) / $QsBins), 4)"
    s"""WITH st AS (
         SELECT event_type, min(value) AS lo, max(value) AS hi,
                CAST(count(*) AS BIGINT) AS n
         FROM events GROUP BY 1),
       b AS (
         SELECT e.event_type,
                CASE WHEN hi = lo THEN CAST(0 AS BIGINT)
                     ELSE least(${QsBins - 1}, CAST(floor((value - lo) / ((hi - lo) / $QsBins)) AS BIGINT))
                END AS bin
         FROM events e JOIN st USING (event_type)),
       c AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS cnt
             FROM b GROUP BY 1, 2),
       cc AS (SELECT event_type, bin,
                sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum
              FROM c),
       qs(qi, q) AS (VALUES $qsValues),
       eq AS (
         SELECT cc.event_type, qi, q, min(bin) AS qbin
         FROM cc JOIN st USING (event_type) CROSS JOIN qs
         WHERE cum >= ceil(q * n) GROUP BY 1, 2, 3),
       ex AS ($exUnion)
       SELECT eq.event_type, eq.qi, q, $mid AS est, exact,
              round(abs($mid - exact), 4) AS abs_err
       FROM eq JOIN st USING (event_type)
       JOIN ex ON eq.event_type = ex.event_type AND eq.qi = ex.qi"""
  }

  /** SPLIT-BALANCE audit: per (split, lang) cell of the deterministic
    * hash-bucket split, the within-split language share vs the corpus
    * share and their absolute deviation — the distribution-parity check
    * run before trusting a val/test set (the split is hash-random, so
    * residual deviation is sampling noise; a biased splitter shows up
    * here). ONE corpus aggregate; every ratio is window arithmetic on
    * the ≤(splits × langs)-row count frame.
    */
  private def splitBalance(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bucket = Dedup.polyHash(concat(col("text"), lit(SplitSalt))) % 100
    val counts = Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n_docs"))
    val wSplit = Window.partitionBy("split")
    val wLang = Window.partitionBy("lang")
    val wAll = Window.partitionBy()
    val splitFrac = col("n_docs") / sum("n_docs").over(wSplit)
    val corpusFrac = sum("n_docs").over(wLang) / sum("n_docs").over(wAll)
    counts
      .withColumn("split_frac", round(splitFrac, 6))
      .withColumn("corpus_frac", round(corpusFrac, 6))
      .withColumn("abs_dev", round(abs(splitFrac - corpusFrac), 6))
  }

  private lazy val splitBalanceSql =
    s"""WITH c AS (
         SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
                     ELSE 'test' END AS split,
                lang, count(*) AS n_docs
         FROM (SELECT lang, ${polyHashSql(s"text || '$SplitSalt'")} % 100 AS b
               FROM documents) t
         GROUP BY 1, 2)
       SELECT split, lang, n_docs,
         round(n_docs / sum(n_docs) OVER (PARTITION BY split), 6) AS split_frac,
         round(sum(n_docs) OVER (PARTITION BY lang) / sum(n_docs) OVER (), 6) AS corpus_frac,
         round(abs(n_docs / sum(n_docs) OVER (PARTITION BY split)
                   - sum(n_docs) OVER (PARTITION BY lang) / sum(n_docs) OVER ()), 6) AS abs_dev
       FROM c"""

  /** Snapshot diff (Sampling.snapshotDiff) between two deterministic
    * corpus vintages carved from the fixture: "yesterday" drops the
    * doc_id%10==9 stratum, "today" drops doc_id%10==0 and revises every
    * doc_id%7==0 text — so all four statuses are populated and the
    * expected counts are fixture-derived, not engine artifacts.
    */
  private def corpusSnapdiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val prev = docs.where(col("doc_id") % 10 =!= 9)
    val cur = docs.where(col("doc_id") % 10 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    Sampling.snapshotDiff(prev, cur, "doc_id", "text")
  }

  private lazy val corpusSnapdiffSql =
    s"""WITH a AS (
         SELECT doc_id, ${polyHashSql("text")} AS h
         FROM documents WHERE doc_id % 10 != 9),
       b AS (
         SELECT doc_id,
                ${polyHashSql("CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END")} AS h
         FROM documents WHERE doc_id % 10 != 0)
       SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
                   WHEN b.doc_id IS NULL THEN 'removed'
                   WHEN a.h != b.h THEN 'changed'
                   ELSE 'unchanged' END AS status,
              count(*) AS n_docs
       FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
       GROUP BY 1"""

  /** TPC-H Q3-shaped shipping-priority top-k — the canonical selective
    * star-join: a filtered dimension SEMI-reduces the mid fact
    * (customer → orders, broadcast — orders rows never carry customer
    * payload), then ONE fact-fact equi-join on the order key feeds a
    * grouped revenue aggregate and a TakeOrderedAndProject top-10.
    * Revenue runs on the cent grid (ext_pricing_summary discipline) so
    * ranking ties and the hash gate are exact; both date filters reach
    * the parquet scans as pushed predicates (ScaleSpec pins the
    * broadcast + pushdown). At 100 TB: the only shuffle is lineitem ⇄
    * orders on orderkey, both sides pre-reduced by their pushed-down
    * date filters.
    */
  private val Q3Date = "1998-06-01 00:00:00"
  private val Q3Segment = "MACHINERY"
  private val Q3TopN = 10

  private def pricingQ3(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .where(col("c_mktsegment") === Q3Segment).select("c_custkey")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") < to_timestamp(lit(Q3Date)))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
    Tables.lineitem(s, d)
      .where(col("l_shipdate") > to_timestamp(lit(Q3Date)))
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(sum(col("__rc")).as("rev_cents"))
      .withColumn("revenue", round(col("rev_cents") / 100.0, 2))
      .orderBy(col("rev_cents").desc, col("l_orderkey"))
      .limit(Q3TopN)
  }

  private val pricingQ3Sql =
    s"""WITH li AS (
         SELECT l_orderkey,
                CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS rc
         FROM lineitem WHERE l_shipdate > TIMESTAMP '$Q3Date'),
       o AS (
         SELECT o_orderkey, o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderdate < TIMESTAMP '$Q3Date'
           AND o_custkey IN (SELECT c_custkey FROM customer
                             WHERE c_mktsegment = '$Q3Segment'))
       SELECT l_orderkey, o_orderdate, o_orderpriority,
              CAST(sum(rc) AS BIGINT) AS rev_cents,
              round(CAST(sum(rc) AS BIGINT) / 100.0, 2) AS revenue
       FROM li JOIN o ON l_orderkey = o_orderkey
       GROUP BY 1, 2, 3
       ORDER BY rev_cents DESC, l_orderkey LIMIT $Q3TopN"""

  /** TPC-H Q18-shaped large-volume-order query — the canonical
    * AGGREGATE-THEN-SEMI-REDUCE shape: the fact table aggregates FIRST
    * (sum of quantity per order, HAVING > threshold), and only the
    * surviving handful of order keys join back to orders + customer.
    * The complement of ext_pricing_q3 (there a dim filter reduces the
    * fact; here the fact's own aggregate is the filter). Quantities are
    * integer-valued doubles in the fixture — cast to BIGINT before
    * summing so the HAVING cut and the hash gate are exact, never a
    * float-sum race. At 100 TB: the qualifying-key set after HAVING is
    * tiny (heavy-hitter orders), so the join back to orders/customer
    * broadcasts it; the only big shuffle is the lineitem aggregate
    * itself, map-side combinable on the natural key.
    */
  private val Q18Qty = 250L
  private val Q18TopN = 100

  private def pricingQ18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast("long")).as("sum_qty"))
      .where(col("sum_qty") > Q18Qty)
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      .join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d).select("c_custkey", "c_name")),
        col("o_custkey") === col("c_custkey"))
      .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(Q18TopN)
  }

  private val pricingQ18Sql =
    s"""WITH big AS (
         SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > $Q18Qty)
       SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
       FROM orders
       JOIN big ON o_orderkey = l_orderkey
       JOIN customer ON o_custkey = c_custkey
       ORDER BY o_totalprice DESC, o_orderkey LIMIT $Q18TopN"""

  /** TPC-H Q5-shaped local-supplier-volume query — the canonical
    * BROADCAST-CHAIN star join: region cuts nation (5 rows), nation
    * cuts customer, the (custkey, nationkey) dim broadcasts onto
    * date-filtered orders, and the ONLY fact-fact shuffle is
    * lineitem ⇄ orders on the order key. The "local supplier"
    * constraint (customer and supplier share a nation) rides the
    * broadcast supplier join as a SECOND equi-condition — no extra
    * exchange. Revenue is cent-exact (the Q3 discipline).
    *
    * At 100 TB: region/nation/supplier broadcast at any scale; the
    * region-filtered customer key set is the one side that can outgrow
    * the broadcast threshold (~1/5 of customers) — AQE then falls back
    * to a custkey shuffle join and the plan gains the textbook second
    * fact shuffle; everything downstream is unchanged. Date predicates
    * push to the orders scan (ScaleSpec-pinned).
    */
  private val Q5Region = "ASIA"
  private val Q5Lo = "1996-01-01 00:00:00"
  private val Q5Hi = "1997-01-01 00:00:00"

  private def pricingQ5(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === Q5Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "c_nationkey")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit(Q5Lo))
        && col("o_orderdate") < to_timestamp(lit(Q5Hi)))
      .select("o_orderkey", "o_custkey")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey")
        && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(col("__rc")).as("rev_cents"))
      .withColumn("revenue", round(col("rev_cents") / 100.0, 2))
      .orderBy(col("rev_cents").desc, col("n_name"))
  }

  private val pricingQ5Sql =
    s"""WITH nat AS (SELECT n_nationkey, n_name
                   FROM nation JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = '$Q5Region'),
       o AS (SELECT o_orderkey, c_nationkey
             FROM orders
             JOIN (SELECT c_custkey, c_nationkey FROM customer
                   JOIN nat ON c_nationkey = n_nationkey) c
               ON o_custkey = c_custkey
             WHERE o_orderdate >= TIMESTAMP '$Q5Lo'
               AND o_orderdate < TIMESTAMP '$Q5Hi'),
       li AS (SELECT l_orderkey, l_suppkey,
                     CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS rc
              FROM lineitem)
       SELECT n_name, CAST(sum(rc) AS BIGINT) AS rev_cents,
              round(CAST(sum(rc) AS BIGINT) / 100.0, 2) AS revenue
       FROM li
       JOIN o ON li.l_orderkey = o.o_orderkey
       JOIN supplier s ON li.l_suppkey = s.s_suppkey
                      AND o.c_nationkey = s.s_nationkey
       JOIN nat n ON s.s_nationkey = n.n_nationkey
       GROUP BY n_name
       ORDER BY rev_cents DESC, n_name"""

  /** TPC-H Q10-SHAPED RETURNED-ITEM REPORTING: revenue lost to returns
    * per customer over a half-year order window, top-20 — the
    * "who should we call" churn report. Plan discipline: the
    * returned-lineitem × window-orders join is the ONLY fact-fact
    * shuffle, the per-custkey aggregate runs BEFORE any dimension
    * attaches (group-then-enrich — the customer and nation tables join
    * onto the aggregated frame, never the line stream), and the top-20
    * is a total order (rev_cents desc, custkey) planned as a heap.
    */
  private val Q10Lo = "1997-01-01 00:00:00"
  private val Q10Hi = "1997-07-01 00:00:00"
  private val Q10TopK = 20

  private def pricingQ10(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit(Q10Lo))
        && col("o_orderdate") < to_timestamp(lit(Q10Hi)))
      .select("o_orderkey", "o_custkey")
    val rev = Tables.lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("__rc")).as("rev_cents"))
    rev.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("rev_cents"),
        round(col("rev_cents") / 100.0, 2).as("revenue"))
      .orderBy(col("rev_cents").desc, col("c_custkey"))
      .limit(Q10TopK)
  }

  private val pricingQ10Sql =
    s"""WITH o AS (SELECT o_orderkey, o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '$Q10Lo'
                   AND o_orderdate < TIMESTAMP '$Q10Hi'),
       r AS (SELECT o_custkey,
                    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
             FROM lineitem JOIN o ON l_orderkey = o_orderkey
             WHERE l_returnflag = 'R'
             GROUP BY 1)
       SELECT c_custkey, c_name, n_name, c_acctbal, rev_cents,
              round(rev_cents / 100.0, 2) AS revenue
       FROM r JOIN customer ON o_custkey = c_custkey
       JOIN nation ON c_nationkey = n_nationkey
       ORDER BY rev_cents DESC, c_custkey LIMIT $Q10TopK"""

  /** TPC-H Q14-SHAPED PROMO REVENUE SHARE: the fraction of a month's
    * lineitem revenue carried by promo-type parts — conditional
    * aggregation over ONE join, the classic campaign-effect number.
    * Exact: both revenue sums are BIGINT cents off the same rows; the
    * share is one rounded division (never a float sum of per-row
    * percentages, whose value depends on reduction order).
    */
  private val Q14Lo = "1997-07-01 00:00:00"
  private val Q14Hi = "1997-08-01 00:00:00"

  private def pricingQ14(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit(Q14Lo))
        && col("l_shipdate") < to_timestamp(lit(Q14Hi)))
      .select(col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .agg(sum(when(col("p_type") === "PROMO", col("__rc")).otherwise(0L))
          .as("promo_cents"),
        sum(col("__rc")).as("total_cents"))
      .select(col("promo_cents"), col("total_cents"),
        round(col("promo_cents") * lit(100.0) / col("total_cents"), 6)
          .as("promo_share_pct"))

  private val pricingQ14Sql =
    s"""SELECT promo_cents, total_cents,
              round(promo_cents * 100.0 / total_cents, 6) AS promo_share_pct
       FROM (
         SELECT CAST(sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_cents,
                CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '$Q14Lo'
           AND l_shipdate < TIMESTAMP '$Q14Hi') t"""

  /** TPC-H Q19-SHAPED DISJUNCTIVE-PREDICATE REVENUE: an OR of three
    * (brand, size-range, quantity-range) triples across the
    * lineitem × part join — the query shape Catalyst's partial
    * predicate extraction exists for: the part-side residue of the
    * disjunction ((b1∧s≤10) ∨ (b2∧s≤20) ∨ (b3∧s≤30)) is derived and
    * PUSHED to the part scan even though each disjunct also references
    * lineitem columns (ScaleSpec pins the pushed part filter) — without
    * that, every part row survives to the join and the disjunction
    * filters post-join only.
    */
  private val Q19Triples = Seq(
    ("Brand#13", 10, 1L, 11L), ("Brand#19", 20, 10L, 20L),
    ("Brand#23", 30, 20L, 30L))

  private def pricingQ19(s: SparkSession, d: String): DataFrame = {
    val cond = Q19Triples.map { case (b, sz, qLo, qHi) =>
      col("p_brand") === b && col("p_size").between(1, sz) &&
        col("l_quantity").between(qLo, qHi)
    }.reduce(_ || _)
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_quantity"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(broadcast(Tables.part(s, d).select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey") && cond)
      .agg(count(lit(1)).as("n_lines"), sum(col("__rc")).as("rev_cents"))
      .withColumn("revenue", round(col("rev_cents") / 100.0, 2))
  }

  private val pricingQ19Sql = {
    val ors = Q19Triples.map { case (b, sz, qLo, qHi) =>
      s"(p_brand = '$b' AND p_size BETWEEN 1 AND $sz" +
        s" AND l_quantity BETWEEN $qLo AND $qHi)"
    }.mkString(" OR ")
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents,
              round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE $ors"""
  }

  /** TPC-H Q21-SHAPED WAITING-SUPPLIERS report, adapted to the fixture
    * (no commit/receipt dates): in finalized ('F') multi-supplier
    * orders, the suppliers who were the SOLE late shipper (ship > order
    * date + 60 days), counted per supplier, top-10. The classic
    * EXISTS ∧ NOT-EXISTS double correlation — the oracle states exactly
    * that subquery form — rewritten Spark-side as ONE
    * (orderkey, suppkey) aggregate feeding both the per-order supplier/
    * late counts and the qualifying-supplier filter (semantically
    * equal: EXISTS other-supplier ⟺ n_supp ≥ 2; NOT EXISTS other late
    * ⟺ n_late = 1 given this supplier is late). Two independent
    * derivations of one answer — that is the point of the gate.
    *
    * Scale shape: one lineitem × F-orders equi-join (the only
    * fact-fact shuffle), one map-side-combinable aggregate, and the
    * per-order rollup + filter reuse the SAME (orderkey, suppkey)
    * exchange (ReusedExchange, spec-pinned); supplier names broadcast
    * onto the 10-row result.
    */
  private val Q21LateDays = 60
  private val Q21TopK = 10

  private def pricingQ21(s: SparkSession, d: String): DataFrame = {
    val ordF = Tables.orders(s, d).where(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perOS = Tables.lineitem(s, d)
      .join(ordF, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $Q21LateDays DAYS"))
        .cast("int")).as("is_late"))
    val perO = perOS.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_supp"), sum(col("is_late")).as("n_late"))
    perOS.where(col("is_late") === 1)
      .join(perO.where(col("n_supp") >= 2 && col("n_late") === 1),
        Seq("l_orderkey"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, d).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(Q21TopK)
  }

  private val pricingQ21Sql =
    s"""WITH l AS (
         SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F')
       SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM (
         SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
         FROM l l1
         WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL $Q21LateDays DAY
           AND EXISTS (SELECT 1 FROM l l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM l l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > l3.o_orderdate + INTERVAL $Q21LateDays DAY)) w
       JOIN supplier ON l_suppkey = s_suppkey
       GROUP BY 1, 2
       ORDER BY numwait DESC, s_suppkey LIMIT $Q21TopK"""

  /** TPC-H Q22-SHAPED DORMANT-RICH-CUSTOMER report: customers whose
    * balance exceeds the positive-balance average but who placed NO
    * order since the dormancy cutoff, rolled up per nation — the
    * "global aggregate as a filter threshold" + anti-join composite
    * (the fixture gives every customer SOME order, so the anti-join
    * runs against the recent-window key set — same shape, non-vacuous
    * gate). The average compare is
    * CROSS-MULTIPLIED exact integers (cents·n_pos > sum_pos_cents):
    * the float average never exists, so the boundary customer lands on
    * the same side in both engines at any partitioning.
    *
    * Scale shape: the threshold is a 1-row aggregate broadcast onto
    * the customer scan (no second pass); the no-orders check is one
    * left-anti join against the orders key projection; the rollup is
    * per-nation.
    */
  private val Q22Since = "2000-01-01 00:00:00"

  private def pricingQ22(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("__bc"))
    val thresh = cust.where(col("__bc") > 0)
      .agg(count(lit(1)).as("__n_pos"), sum(col("__bc")).as("__sum_pos"))
    cust.crossJoin(broadcast(thresh))
      .where(col("__bc") * col("__n_pos") > col("__sum_pos"))
      .join(Tables.orders(s, d)
          .where(col("o_orderdate") >= to_timestamp(lit(Q22Since)))
          .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_custs"), sum(col("__bc")).as("bal_cents"))
      .withColumn("total_acctbal", round(col("bal_cents") / 100.0, 2))
  }

  private val pricingQ22Sql =
    s"""WITH c AS (SELECT c_custkey, c_nationkey,
                        CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bc
               FROM customer),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n_pos,
                    CAST(sum(bc) AS BIGINT) AS sum_pos
             FROM c WHERE bc > 0)
       SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
              CAST(sum(bc) AS BIGINT) AS bal_cents,
              round(CAST(sum(bc) AS BIGINT) / 100.0, 2) AS total_acctbal
       FROM c CROSS JOIN t
       JOIN nation ON c_nationkey = n_nationkey
       WHERE bc * n_pos > sum_pos
         AND NOT EXISTS (SELECT 1 FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '$Q22Since')
       GROUP BY 1"""

  /** TPC-H Q7-SHAPED VOLUME SHIPPING: bilateral revenue between two
    * nations (supplier side vs customer side, BOTH directions) per ship
    * year. Plan discipline: the two-nation cut broadcasts down both dim
    * chains (supplier directly; customer through orders), the
    * direction disjunction filters AFTER both chains attach — so
    * lineitem ⋈ orders stays the ONLY fact-fact shuffle; the year comes
    * off l_shipdate inside the fact projection (no post-join recompute).
    */
  private val Q7NationA = "NATION_13"
  private val Q7NationB = "NATION_19"
  private val Q7Lo = "1996-01-01 00:00:00"
  private val Q7Hi = "1998-01-01 00:00:00"

  private def pricingQ7(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .where(col("n_name").isin(Q7NationA, Q7NationB))
      .select("n_nationkey", "n_name")
    val supp = Tables.supplier(s, d)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit(Q7Lo))
        && col("l_shipdate") < to_timestamp(lit(Q7Hi)))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .where((col("supp_nation") === Q7NationA && col("cust_nation") === Q7NationB)
        || (col("supp_nation") === Q7NationB && col("cust_nation") === Q7NationA))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("__rc")).as("rev_cents"))
      .withColumn("revenue", round(col("rev_cents") / 100.0, 2))
  }

  private val pricingQ7Sql =
    s"""WITH nat AS (SELECT n_nationkey, n_name FROM nation
                   WHERE n_name IN ('$Q7NationA', '$Q7NationB')),
       sp AS (SELECT s_suppkey, n_name AS supp_nation
              FROM supplier JOIN nat ON s_nationkey = n_nationkey),
       cu AS (SELECT c_custkey, n_name AS cust_nation
              FROM customer JOIN nat ON c_nationkey = n_nationkey),
       o AS (SELECT o_orderkey, cust_nation
             FROM orders JOIN cu ON o_custkey = c_custkey),
       li AS (SELECT l_orderkey, l_suppkey,
                     CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year,
                     CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS rc
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '$Q7Lo'
                AND l_shipdate < TIMESTAMP '$Q7Hi')
       SELECT supp_nation, cust_nation, l_year,
              CAST(sum(rc) AS BIGINT) AS rev_cents,
              round(CAST(sum(rc) AS BIGINT) / 100.0, 2) AS revenue
       FROM li JOIN o ON li.l_orderkey = o.o_orderkey
       JOIN sp ON li.l_suppkey = sp.s_suppkey
       WHERE (supp_nation = '$Q7NationA' AND cust_nation = '$Q7NationB')
          OR (supp_nation = '$Q7NationB' AND cust_nation = '$Q7NationA')
       GROUP BY 1, 2, 3"""

  /** TPC-H Q8-SHAPED MARKET SHARE: of the revenue EUROPE customers
    * spent on LARGE-type parts per order year, the fraction served by
    * the target nation's suppliers — numerator and denominator are the
    * SAME conditional aggregate over one joined frame (never two
    * scans), both BIGINT cents, share one rounded division per year
    * (the Q14 discipline under a grouping).
    */
  private val Q8Region = "EUROPE"
  private val Q8Nation = "NATION_8"
  private val Q8PType = "LARGE"
  private val Q8Lo = "1996-01-01 00:00:00"
  private val Q8Hi = "1998-01-01 00:00:00"

  private def pricingQ8(s: SparkSession, d: String): DataFrame = {
    val nat = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).where(col("r_name") === Q8Region)),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(s, d)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit(Q8Lo))
        && col("o_orderdate") < to_timestamp(lit(Q8Hi)))
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"), col("o_custkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_year")
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).where(col("p_type") === Q8PType)
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy("o_year")
      .agg(sum(when(col("supp_nation") === Q8Nation, col("__rc"))
          .otherwise(0L)).as("nation_cents"),
        sum(col("__rc")).as("total_cents"))
      .withColumn("mkt_share",
        round(col("nation_cents") * lit(1.0) / col("total_cents"), 6))
  }

  private val pricingQ8Sql =
    s"""WITH nat AS (SELECT n_nationkey FROM nation
                   JOIN region ON n_regionkey = r_regionkey
                   WHERE r_name = '$Q8Region'),
       cu AS (SELECT c_custkey FROM customer
              JOIN nat ON c_nationkey = n_nationkey),
       o AS (SELECT o_orderkey,
                    CAST(date_part('year', o_orderdate) AS BIGINT) AS o_year
             FROM orders JOIN cu ON o_custkey = c_custkey
             WHERE o_orderdate >= TIMESTAMP '$Q8Lo'
               AND o_orderdate < TIMESTAMP '$Q8Hi'),
       sp AS (SELECT s_suppkey, n_name AS supp_nation
              FROM supplier JOIN nation ON s_nationkey = n_nationkey),
       li AS (SELECT l_orderkey, l_suppkey,
                     CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT) AS rc
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_type = '$Q8PType')
       SELECT o_year,
              CAST(sum(CASE WHEN supp_nation = '$Q8Nation' THEN rc ELSE 0 END) AS BIGINT) AS nation_cents,
              CAST(sum(rc) AS BIGINT) AS total_cents,
              round(sum(CASE WHEN supp_nation = '$Q8Nation' THEN rc ELSE 0 END) * 1.0
                    / sum(rc), 6) AS mkt_share
       FROM li JOIN o ON li.l_orderkey = o.o_orderkey
       JOIN sp ON li.l_suppkey = sp.s_suppkey
       GROUP BY 1"""

  /** TPC-H Q13-SHAPED ORDER-COUNT DISTRIBUTION: how many customers
    * placed exactly k qualifying orders — including k = 0, which is the
    * whole point: the LEFT join keeps order-less customers and
    * count(o_custkey) (nulls don't count) scores them zero; an inner
    * join would silently drop the most interesting bucket. Two-level
    * aggregate: per-customer counts (fact-sized shuffle) roll up to the
    * ≤ max-orders-per-customer histogram frame.
    */
  private val Q13Excl = "4-NOT SPECIFIED"

  private def pricingQ13(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_custkey")
      .join(Tables.orders(s, d)
          .where(col("o_orderpriority") =!= Q13Excl).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_custkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  private val pricingQ13Sql =
    s"""WITH co AS (
         SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
         FROM customer
         LEFT JOIN (SELECT o_custkey FROM orders
                    WHERE o_orderpriority <> '$Q13Excl') o
           ON c_custkey = o_custkey
         GROUP BY 1)
       SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM co GROUP BY 1"""

  /** TPC-H Q15-SHAPED TOP SUPPLIER: the supplier(s) with the maximum
    * quarter revenue — the classic view + scalar-max-subquery shape.
    * The max attaches by broadcast crossJoin (never a driver collect),
    * the comparison is exact BIGINT cents so ties survive identically
    * in both engines (the reason Q15 is specified with = max and not
    * LIMIT 1), and the supplier dim joins the one-or-few winner rows,
    * not the revenue frame.
    */
  private val Q15Lo = "1997-07-01 00:00:00"
  private val Q15Hi = "1997-10-01 00:00:00"

  private def pricingQ15(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit(Q15Lo))
        && col("l_shipdate") < to_timestamp(lit(Q15Hi)))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("__rc"))
      .groupBy("l_suppkey")
      .agg(sum(col("__rc")).as("total_cents"))
    val mx = rev.agg(max(col("total_cents")).as("__mx"))
    rev.crossJoin(broadcast(mx))
      .where(col("total_cents") === col("__mx"))
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_cents"),
        round(col("total_cents") / 100.0, 2).as("total_revenue"))
  }

  private val pricingQ15Sql =
    s"""WITH rev AS (
         SELECT l_suppkey,
                CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '$Q15Lo'
           AND l_shipdate < TIMESTAMP '$Q15Hi'
         GROUP BY 1)
       SELECT s_suppkey, s_name, total_cents,
              round(total_cents / 100.0, 2) AS total_revenue
       FROM rev JOIN supplier ON l_suppkey = s_suppkey
       WHERE total_cents = (SELECT max(total_cents) FROM rev)"""

  /** TPC-H Q17-SHAPED SMALL-QUANTITY REVENUE: the average yearly
    * revenue lost if sub-20%-of-average-quantity line items of one
    * brand+type slice stopped shipping. The correlated per-part average
    * is ONE window over the slice (the part cut broadcasts into the
    * fact scan first, so the window frame is slice-sized, never
    * fact-sized), and the threshold q < avg/5 is decided as
    * 5·q·n < sum_q — exact integers, no float average ever exists
    * (quantities are integral; the boundary line lands identically in
    * both engines).
    */
  private val Q17Brand = "Brand#13"
  private val Q17PType = "SMALL"

  private def pricingQ17(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_partkey")
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
          .where(col("p_brand") === Q17Brand && col("p_type") === Q17PType)
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("__q"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("__ec"))
      .withColumn("__sum_q", sum(col("__q")).over(w))
      .withColumn("__n_q", count(lit(1)).over(w))
      .where(lit(5L) * col("__q") * col("__n_q") < col("__sum_q"))
      .agg(count(lit(1)).as("n_lines"), sum(col("__ec")).as("loss_cents"))
      .withColumn("avg_yearly", round(col("loss_cents") / 700.0, 2))
  }

  private val pricingQ17Sql =
    s"""WITH sl AS (
         SELECT l_partkey, CAST(l_quantity AS BIGINT) AS q,
                CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS ec
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_brand = '$Q17Brand' AND p_type = '$Q17PType'),
       wn AS (SELECT q, ec,
                CAST(sum(q) OVER (PARTITION BY l_partkey) AS BIGINT) AS sum_q,
                CAST(count(*) OVER (PARTITION BY l_partkey) AS BIGINT) AS n_q
              FROM sl)
       SELECT CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(ec) AS BIGINT) AS loss_cents,
              round(CAST(sum(ec) AS BIGINT) / 700.0, 2) AS avg_yearly
       FROM wn WHERE 5 * q * n_q < sum_q"""

  /** TPC-H Q6-SHAPED FORECASTING REVENUE CHANGE: one filter + one
    * global aggregate, no join at all — the query every engine should
    * reduce to a single scan with every predicate pushed (ScaleSpec-
    * style discipline carried by the oracle gate: the discount band is
    * decided on the integer percent grid, so the band edges land
    * identically in both engines).
    */
  private val Q6Lo = "1997-01-01 00:00:00"
  private val Q6Hi = "1998-01-01 00:00:00"

  private def pricingQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit(Q6Lo))
        && col("l_shipdate") < to_timestamp(lit(Q6Hi))
        && col("l_quantity") < 24.0)
      .select(round(col("l_discount") * 100, 0).cast("long").as("__dpct"),
        round(col("l_extendedprice") * col("l_discount") * 100, 0)
          .cast("long").as("__rc"))
      .where(col("__dpct").between(5L, 7L))
      .agg(count(lit(1)).as("n_lines"), sum(col("__rc")).as("rev_cents"))
      .withColumn("revenue", round(col("rev_cents") / 100.0, 2))

  private val pricingQ6Sql =
    s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
              CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents,
              round(CAST(sum(CAST(round(l_extendedprice * l_discount * 100, 0) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '$Q6Lo'
         AND l_shipdate < TIMESTAMP '$Q6Hi'
         AND l_quantity < 24.0
         AND CAST(round(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7"""

  /** TPC-H Q9-SHAPED PRODUCT-TYPE PROFIT: per (supplier nation, ship
    * year) profit of one part-name slice — the fixture has no partsupp,
    * so supply cost is proxied by p_retailprice·quantity (the shape is
    * what's exercised: two broadcast dim chains onto the fact, profit
    * possibly NEGATIVE, cent-exact signed sums). The part cut rides a
    * LIKE, pushed as a StartsWith to the part scan.
    */
  private val Q9PartPrefix = "blue"

  private def pricingQ9(s: SparkSession, d: String): DataFrame = {
    val pt = Tables.part(s, d)
      .where(col("p_name").startsWith(Q9PartPrefix))
      .select(col("p_partkey"),
        round(col("p_retailprice") * 100, 0).cast("long").as("__cost_c"))
    val supp = Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    Tables.lineitem(s, d)
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .select(col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long")
          - col("__cost_c") * col("l_quantity").cast("long")).as("__pc"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"), col("l_year"))
      .agg(sum(col("__pc")).as("profit_cents"))
      .withColumn("profit", round(col("profit_cents") / 100.0, 2))
  }

  private val pricingQ9Sql =
    s"""WITH pt AS (SELECT p_partkey,
                        CAST(round(p_retailprice * 100, 0) AS BIGINT) AS cost_c
               FROM part WHERE p_name LIKE '$Q9PartPrefix%'),
       sp AS (SELECT s_suppkey, n_name
              FROM supplier JOIN nation ON s_nationkey = n_nationkey)
       SELECT n_name AS nation,
              CAST(date_part('year', l_shipdate) AS BIGINT) AS l_year,
              CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)
                       - cost_c * CAST(l_quantity AS BIGINT)) AS BIGINT) AS profit_cents,
              round(CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100, 0) AS BIGINT)
                             - cost_c * CAST(l_quantity AS BIGINT)) AS BIGINT) / 100.0, 2) AS profit
       FROM lineitem
       JOIN pt ON l_partkey = p_partkey
       JOIN sp ON l_suppkey = s_suppkey
       GROUP BY 1, 2"""

  /** TPC-H Q16-SHAPED SUPPLIER-COUNT DISTRIBUTION: distinct suppliers
    * able to serve each (brand, type, size) combination of a size
    * slice, EXCLUDING flagged suppliers — the fixture has no partsupp,
    * so the observed part–supplier pairs come off lineitem (distinct
    * BEFORE the rollup: the same supplier shipping a part twice counts
    * once). The exclusion is an anti-join with the flagged supplier
    * set (low account balance — Q16's complaint-supplier stand-in).
    */
  private val Q16Sizes = Seq(1, 7, 14, 23, 36, 45)

  private def pricingQ16(s: SparkSession, d: String): DataFrame = {
    val pt = Tables.part(s, d)
      .where(col("p_size").isin(Q16Sizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val flagged = Tables.supplier(s, d)
      .where(col("s_acctbal") < 1500.0).select("s_suppkey")
    Tables.lineitem(s, d)
      .select("l_partkey", "l_suppkey")
      .join(broadcast(pt), col("l_partkey") === col("p_partkey"))
      .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .select("p_brand", "p_type", "p_size", "l_suppkey")
      .distinct()
      .groupBy("p_brand", "p_type", "p_size")
      .agg(count(lit(1)).as("supplier_cnt"))
  }

  private val pricingQ16Sql =
    s"""WITH pt AS (SELECT p_partkey, p_brand, p_type, p_size FROM part
                  WHERE p_size IN (${Q16Sizes.mkString(", ")})),
       ps AS (SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
              FROM lineitem JOIN pt ON l_partkey = p_partkey
              WHERE NOT EXISTS (SELECT 1 FROM supplier
                                WHERE s_suppkey = l_suppkey
                                  AND s_acctbal < 1500.0))
       SELECT p_brand, p_type, p_size,
              CAST(count(*) AS BIGINT) AS supplier_cnt
       FROM ps GROUP BY 1, 2, 3"""

  /** HIERARCHICAL SKETCH ROLLUP: per-(event_type, day) linear-counting
    * occupancy states OR-merged up the time hierarchy to a per-type
    * distinct-user estimate — the data-cube story for mergeable
    * sketches. Because the bucket hash ignores the day, the union of
    * the day bitmaps IS the one-shot bitmap (state(∪ days) ≡
    * ⊕ state(day)), so the rolled-up estimate equals the one-shot
    * estimate exactly — the algebraic property that lets a 100 TB
    * pipeline keep ONLY per-day states (groups × buckets rows each)
    * and answer any coarser granularity by merge, never rescanning
    * history. `sum_day_occupied` (Σ of per-day occupancies, exact
    * BIGINT) rides along as the integer witness of WHY the merge must
    * be an OR and not an ADD: it double-counts every user active on
    * multiple days.
    */
  private def sketchRollup(s: SparkSession, d: String): DataFrame = {
    val b = LinCountBuckets
    val dayState = Tables.events(s, d)
      .select(col("event_type"), expr(s"ts div $ZDayNs").as("day"),
        Sketches.bucketOf(col("user_id"), b, 7L).as("bucket"))
      .distinct()
    dayState.groupBy("event_type")
      .agg(countDistinct(col("day")).as("n_days"),
        count(lit(1)).as("sum_day_occupied"),
        countDistinct(col("bucket")).as("n_occupied"))
      .withColumn("est",
        when(col("n_occupied") < b,
          round(lit(b.toDouble) * log(lit(b.toDouble) / (lit(b) - col("n_occupied"))), 4)))
  }

  private val sketchRollupSql = {
    val b = LinCountBuckets
    s"""WITH ds AS (
         SELECT DISTINCT event_type, epoch_ns(ts) // $ZDayNs AS day,
                (((user_id % ${Sketches.Mod}) * ${Sketches.KnuthA} + 7) % ${Sketches.Mod}) % $b AS bucket
         FROM events),
       m AS (SELECT event_type,
                    CAST(count(DISTINCT day) AS BIGINT) AS n_days,
                    CAST(count(*) AS BIGINT) AS sum_day_occupied,
                    CAST(count(DISTINCT bucket) AS BIGINT) AS n_occupied
             FROM ds GROUP BY 1)
       SELECT event_type, n_days, sum_day_occupied, n_occupied,
              CASE WHEN n_occupied < $b
                   THEN round($b * ln($b.0 / ($b - n_occupied)), 4) END AS est
       FROM m"""
  }

  private val JoinSketchWidth = 512
  private val JoinSketchDepth = 3

  /** Join-size estimation audit (Sketches.joinSizeAudit): predicted
    * |day-1 events ⋈ day-2 events| on user_id from count-min inner
    * products vs the exact Σ cntA·cntB — the optimizer statistic for
    * picking join strategies without touching either side.
    */
  private def sketchJoinsize(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
    Sketches.joinSizeAudit(ev, "user_id",
      col("ts") < IncrCutoffNs, col("ts") >= IncrCutoffNs,
      JoinSketchWidth, JoinSketchDepth)
  }

  private lazy val sketchJoinsizeSql = {
    val (m, a, w, dep) =
      (Sketches.Mod, Sketches.KnuthA, JoinSketchWidth, JoinSketchDepth)
    s"""WITH kc AS (
         SELECT user_id,
                CAST(sum(CASE WHEN epoch_ns(ts) < $IncrCutoffNs THEN 1 ELSE 0 END) AS BIGINT) AS ca,
                CAST(sum(CASE WHEN epoch_ns(ts) >= $IncrCutoffNs THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                ((user_id % $m) * $a + 7) % $m AS sid
         FROM events GROUP BY 1),
       ga AS (SELECT r, ((sid * (2 * r + 3) + (5 * r + 1)) % $m) % $w AS bucket,
                     CAST(sum(ca) AS BIGINT) AS cnt_a
              FROM kc, range($dep) t(r) WHERE ca > 0 GROUP BY 1, 2),
       gb AS (SELECT r, ((sid * (2 * r + 3) + (5 * r + 1)) % $m) % $w AS bucket,
                     CAST(sum(cb) AS BIGINT) AS cnt_b
              FROM kc, range($dep) t(r) WHERE cb > 0 GROUP BY 1, 2),
       ipr AS (SELECT ga.r AS r, CAST(sum(cnt_a * cnt_b) AS BIGINT) AS est
               FROM ga JOIN gb ON ga.r = gb.r AND ga.bucket = gb.bucket
               GROUP BY 1),
       ip AS (SELECT t.r, CAST(coalesce(est, 0) AS BIGINT) AS est
              FROM range($dep) t(r) LEFT JOIN ipr ON t.r = ipr.r),
       ex AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS n_exact FROM kc)
       SELECT n_exact, CAST(min(est) AS BIGINT) AS n_est,
              CAST(min(est) AS BIGINT) - n_exact AS overcount
       FROM ip, ex GROUP BY n_exact"""
  }

  private val CalibBins = 10

  /** Classifier calibration audit
    * (TextAnalysis.hashedPerceptronCalibration): the trained
    * perceptron's margins banded into 10 equal-width bins with
    * per-band empirical positive rate — the reliability diagram run
    * before the score becomes a corpus-filter threshold.
    */
  private def classifyCalib(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
    TextAnalysis.hashedPerceptronCalibration(docs, "doc_id", "text", "y",
      TrainDim, TrainRounds, CalibBins)
  }

  private lazy val classifyCalibSql =
    s"""WITH $classifyTrainCtes,
       sc AS (
         SELECT doc_id, y, CAST(sum(f.cnt * w.w) AS BIGINT) AS margin
         FROM feat f JOIN w$TrainRounds w USING (bucket)
         GROUP BY doc_id, y),
       env AS (SELECT min(margin) AS lo, max(margin) AS hi FROM sc),
       b AS (SELECT y, margin,
                    least($CalibBins - 1,
                          ((margin - lo) * $CalibBins) // (hi - lo + 1)) AS bin
             FROM sc, env)
       SELECT bin, CAST(min(margin) AS BIGINT) AS margin_lo,
              CAST(max(margin) AS BIGINT) AS margin_hi,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
              round(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) / count(*), 6) AS pos_rate
       FROM b GROUP BY 1"""

  private val SkewTopK = 10

  /** JOIN-KEY SKEW PROFILE: the diagnostic run BEFORE choosing between
    * a plain shuffle join, a salted join (ext_skew_salted is the cure
    * this query indicates), or an AQE skew split — per-key load summary
    * for events.user_id as one row: total rows, distinct keys, max and
    * mean per-key load, their ratio (the straggler multiplier: one
    * reducer gets skew_ratio × the average work), and the mass share of
    * the top-10 heaviest keys. All counts exact BIGINTs off ONE per-key
    * aggregate; the top-k side is a TakeOrderedAndProject over the
    * per-key frame, never the raw rows.
    */
  private def skewProfile(s: SparkSession, d: String): DataFrame = {
    val kc = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = kc.agg(sum(col("c")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("c")).as("max_cnt"))
    val topk = kc.orderBy(col("c").desc, col("user_id")).limit(SkewTopK)
      .agg(sum(col("c")).as("topk_rows"))
    tot.crossJoin(broadcast(topk))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("n_rows") / col("n_keys"), 4).as("mean_cnt"),
        round(col("max_cnt") * col("n_keys") / col("n_rows"), 4).as("skew_ratio"),
        col("topk_rows"),
        round(col("topk_rows") / col("n_rows"), 6).as("topk_share"))
  }

  private val skewProfileSql =
    s"""WITH kc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                    FROM events GROUP BY 1),
       t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                    CAST(count(*) AS BIGINT) AS n_keys,
                    CAST(max(c) AS BIGINT) AS max_cnt FROM kc),
       tk AS (SELECT CAST(sum(c) AS BIGINT) AS topk_rows
              FROM (SELECT c FROM kc ORDER BY c DESC, user_id LIMIT $SkewTopK))
       SELECT n_rows, n_keys, max_cnt,
              round(n_rows / n_keys, 4) AS mean_cnt,
              round(max_cnt * n_keys / n_rows, 4) AS skew_ratio,
              topk_rows,
              round(topk_rows / n_rows, 6) AS topk_share
       FROM t, tk"""

  /** TIME-DECAYED ACTIVITY MASS with exact integer arithmetic: per
    * event type, Σ 2^(−age_days div H) under half-life H = 7 days —
    * the freshness-weighted engagement statistic (recent activity
    * counts full, stale activity geometrically less). The decay weight
    * is computed as a SCALED BIGINT 2^(30 − k) (k capped at 30), summed
    * exactly, and divided by 2^30 exactly ONCE at the end — so the
    * result is bit-reproducible at any partitioning/order, unlike a
    * float pow() sum whose value depends on reduction order. Overflow
    * headroom: Σ ≤ rows·2^30, safe under 2^63 to ~8·10^9 rows per
    * group; past that, decimal(38,0) is the same one-line swap the TV
    * drift query already demonstrates.
    */
  private val DecayRefNs = 1706745600000000000L // 2024-02-01T00:00:00Z
  private val DecayHalfLifeDays = 7L
  private val DecayScaleBits = 30

  private def eventsDecay(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        least(expr(s"($DecayRefNs - ts) div $ZDayNs div $DecayHalfLifeDays"),
          lit(DecayScaleBits.toLong)).as("k"))
      .withColumn("w",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST($DecayScaleBits - k AS INT))"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("w")).as("decay_scaled"))
      .withColumn("decayed_mass",
        round(col("decay_scaled") / math.pow(2.0, DecayScaleBits), 6))

  private val eventsDecaySql =
    s"""WITH k AS (
         SELECT event_type,
                least(($DecayRefNs - epoch_ns(ts)) // $ZDayNs // $DecayHalfLifeDays,
                      $DecayScaleBits) AS k
         FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              CAST(sum(CAST(1 AS BIGINT) << CAST($DecayScaleBits - k AS INTEGER)) AS BIGINT) AS decay_scaled,
              round(sum(CAST(1 AS BIGINT) << CAST($DecayScaleBits - k AS INTEGER)) / ${1L << DecayScaleBits}.0, 6) AS decayed_mass
       FROM k GROUP BY 1"""

  /** The 64-bit headroom form of ext_events_decay
    * (Monitoring.decayMass wide = DECIMAL(38,0) sum — BIGINT holds only
    * ~2^63/2^scaleBits rows per group, 8·10^9 at 30 bits): identical
    * decayed_mass, scaled integer kept internal (it no longer fits a
    * BIGINT column by construction). Oracle sums in DuckDB's native
    * HUGEINT; both engines divide exact-integer → nearest-double.
    * TimeSeriesSpec pins the overflow magnitudes the narrow form
    * cannot carry.
    */
  private def eventsDecayWide(s: SparkSession, d: String): DataFrame =
    graft.operators.Monitoring.decayMass(
      Tables.events(s, d)
        .select(col("event_type"),
          least(expr(s"($DecayRefNs - ts) div $ZDayNs div $DecayHalfLifeDays"),
            lit(DecayScaleBits.toLong)).as("k")),
      "event_type", DecayScaleBits, wide = true)

  private val eventsDecayWideSql =
    s"""WITH k AS (
         SELECT event_type,
                least(($DecayRefNs - epoch_ns(ts)) // $ZDayNs // $DecayHalfLifeDays,
                      $DecayScaleBits) AS k
         FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
              round(CAST(sum(CAST(1 AS BIGINT) << CAST($DecayScaleBits - k AS INTEGER)) AS DOUBLE)
                    / ${1L << DecayScaleBits}.0, 6) AS decayed_mass
       FROM k GROUP BY 1"""

  /** INTER-LABELER AGREEMENT (Cohen's kappa): the freshly-trained
    * perceptron's en/non-en prediction against the ground-truth label,
    * chance-corrected — the labeling-ops statistic that separates "the
    * cheap labeler agrees 80%" from "…but 70% of that was chance
    * because one class dominates" (raw accuracy, which
    * ext_classify_apply reports, cannot tell the two apart). All counts
    * ride the tiny (pred, truth) confusion frame (≤ classes² rows after
    * ONE aggregate over the scored docs); po, pe, and kappa are
    * fixed-order float divisions off exact BIGINTs, rounded at 6 dp.
    * pe divides by n twice ((pe_num/n)/n) so no intermediate needs
    * n² — which would overflow BIGINT past ~3·10^9 docs.
    *
    * On the synthetic fixture this audit EARNS ITS KEEP: the text
    * carries no real signal for the lang label, the batch perceptron
    * collapses to the majority-class constant predictor, and kappa
    * reports exactly 0 while ext_classify_apply's raw accuracy reads a
    * respectable-looking 43% — the precise failure mode chance
    * correction exists to expose.
    */
  private def labelKappa(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L))
    val cm = TextAnalysis.hashedPerceptronPredictions(docs, "doc_id", "text",
        "y", TrainDim, TrainRounds)
      .groupBy("pred", "y").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = cm.agg(sum(col("c")).as("n"),
      sum(when(col("pred") === col("y"), col("c")).otherwise(0L))
        .as("n_agree"))
    val peNum = cm.groupBy("pred").agg(sum(col("c")).as("ca"))
      .join(cm.groupBy("y").agg(sum(col("c")).as("cb")),
        col("pred") === col("y"))
      .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("pe_num"))
    val po = col("n_agree") / col("n")
    val pe = col("pe_num") / col("n") / col("n")
    tot.crossJoin(broadcast(peNum))
      .select(col("n"), col("n_agree"),
        round(po, 6).as("po"), round(pe, 6).as("pe"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  private lazy val labelKappaSql =
    s"""WITH $classifyTrainCtes,
       sc AS (
         SELECT doc_id, y,
                CASE WHEN sum(f.cnt * w.w) >= 0 THEN 1 ELSE -1 END AS pred
         FROM feat f JOIN w$TrainRounds w USING (bucket)
         GROUP BY doc_id, y),
       cm AS (SELECT pred, y, CAST(count(*) AS BIGINT) AS c
              FROM sc GROUP BY 1, 2),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
                      CAST(sum(CASE WHEN pred = y THEN c ELSE 0 END) AS BIGINT) AS n_agree
               FROM cm),
       ma AS (SELECT pred AS cls, CAST(sum(c) AS BIGINT) AS ca FROM cm GROUP BY 1),
       mb AS (SELECT y AS cls, CAST(sum(c) AS BIGINT) AS cb FROM cm GROUP BY 1),
       pe AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS pe_num
              FROM ma JOIN mb USING (cls))
       SELECT n, n_agree, round(n_agree / n, 6) AS po,
              round(pe_num / n / n, 6) AS pe,
              CASE WHEN pe_num / n / n < 1
                   THEN round((n_agree / n - pe_num / n / n) / (1 - pe_num / n / n), 6)
              END AS kappa
       FROM tot, pe"""

  /** RIGHT-TO-BE-FORGOTTEN SWEEP: erasure requests propagated through
    * the fact tables with per-table accounting — events erased by a
    * user-id request list (GDPR deletion), documents by a source
    * takedown list (DMCA/robots revocation). The request table is
    * telephone-book-sized next to the corpus, so it BROADCASTS and each
    * table is processed in ONE pass: a broadcast left join marks hits,
    * and a single aggregate emits kept/deleted/before counts — the same
    * job that would write the kept rows writes the audit row, no second
    * scan. (The user request list here is derived from the fixture by a
    * deterministic predicate — the stand-in for an external requests
    * table.)
    */
  private val TakedownSources = Seq("src3", "src7")

  private def privacyErasure(s: SparkSession, d: String): DataFrame = {
    val reqUsers = Tables.events(s, d).select(col("user_id"))
      .where(col("user_id") % 97 === 0).distinct()
    val ev = Tables.events(s, d)
      .join(broadcast(reqUsers.withColumn("__del", lit(1))),
        Seq("user_id"), "left_outer")
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("__del").isNotNull, 1L).otherwise(0L)).as("n_deleted"))
      .select(lit("events").as("tbl"), col("n_before"), col("n_deleted"),
        (col("n_before") - col("n_deleted")).as("n_after"))
    val docs = Tables.documents(s, d)
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("source").isin(TakedownSources: _*), 1L).otherwise(0L))
          .as("n_deleted"))
      .select(lit("documents").as("tbl"), col("n_before"), col("n_deleted"),
        (col("n_before") - col("n_deleted")).as("n_after"))
    ev.unionByName(docs)
  }

  private val privacyErasureSql = {
    val srcs = TakedownSources.map(x => s"'$x'").mkString(", ")
    s"""SELECT 'events' AS tbl, CAST(count(*) AS BIGINT) AS n_before,
              CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
              CAST(count(*) - sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after
       FROM events
       UNION ALL
       SELECT 'documents', CAST(count(*) AS BIGINT),
              CAST(sum(CASE WHEN source IN ($srcs) THEN 1 ELSE 0 END) AS BIGINT),
              CAST(count(*) - sum(CASE WHEN source IN ($srcs) THEN 1 ELSE 0 END) AS BIGINT)
       FROM documents"""
  }

  /** DUPLICATE-MASS GROWTH CURVE: how duplication accumulates across
    * crawl days — per synthetic crawl day (doc_id mod 7, the vintage
    * convention of ext_corpus_snapdiff), new-content-hash count vs doc
    * count, with running totals and the cumulative duplicate share
    * 1 − unique/total. This is the curve that sizes incremental dedup:
    * its slope says how much of tomorrow's crawl is already in the
    * index. Scale shape: content hashes reduce to a (hash → first day)
    * frame (ONE aggregate over 8-byte hashes, never text); the window
    * runs over the DAYS frame (7 rows), not the corpus.
    */
  private def corpusDupgrowth(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val h = Tables.documents(s, d)
      .select((col("doc_id") % 7).as("day"),
        Dedup.polyHash(col("text")).as("h"))
    val byDay = h.groupBy("day").agg(count(lit(1)).as("n_docs"))
    val newByDay = h.groupBy("h").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("n_new_hashes"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDay.join(newByDay, Seq("day"), "left_outer")
      .withColumn("n_new_hashes", coalesce(col("n_new_hashes"), lit(0L)))
      .withColumn("cum_docs", sum(col("n_docs")).over(w))
      .withColumn("cum_unique", sum(col("n_new_hashes")).over(w))
      .withColumn("dup_share",
        round(lit(1.0) - col("cum_unique") / col("cum_docs"), 6))
  }

  private lazy val corpusDupgrowthSql =
    s"""WITH h AS (SELECT doc_id % 7 AS day, ${polyHashSql("text")} AS h
                   FROM documents),
       bd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_docs FROM h GROUP BY 1),
       fd AS (SELECT h, min(day) AS day FROM h GROUP BY 1),
       nd AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new_hashes FROM fd GROUP BY 1)
       SELECT bd.day, n_docs, coalesce(n_new_hashes, 0) AS n_new_hashes,
              CAST(sum(n_docs) OVER (ORDER BY bd.day) AS BIGINT) AS cum_docs,
              CAST(sum(coalesce(n_new_hashes, 0)) OVER (ORDER BY bd.day) AS BIGINT) AS cum_unique,
              round(1 - sum(coalesce(n_new_hashes, 0)) OVER (ORDER BY bd.day)
                        / sum(n_docs) OVER (ORDER BY bd.day), 6) AS dup_share
       FROM bd LEFT JOIN nd ON bd.day = nd.day"""

  /** DATA-CONTRACT BATTERY (the Deequ/dbt-test/Great-Expectations
    * role): a declarative suite of quality checks over the orders feed,
    * evaluated in ONE fused pass — row-count floor, primary-key
    * uniqueness, null rate, accepted-values sets, value range,
    * referential integrity against customer, and freshness — emitting
    * one row per check with the observed statistic, violation count,
    * and pass flag. The contract gate a pipeline runs BEFORE letting a
    * new drop of data into training.
    *
    * Scale shape: every column check folds into a SINGLE aggregate scan
    * of orders, and the referential-integrity probe rides the SAME scan
    * (customer reduces to its broadcast key set; a left join marks
    * orphans, the aggregate counts them) — Deequ's fused-metrics
    * design: N checks ≠ N scans. countDistinct shares the pass via
    * expand; at 100 TB you'd swap it for the lincount sketch column
    * this repo already ships if the exact distinct got hot.
    *
    * One check intentionally FAILS on the fixture: the strict status
    * contract declares {O, F} while the feed carries P (pending) rows —
    * exercising the violation-accounting path, not just eight green
    * rows.
    */
  private val ContractPriorities = Seq(
    "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ContractMinRows = 1000L
  private val ContractFreshDay = 11323L // 2001-01-01 as epoch day

  private def qualityContract(s: SparkSession, d: String): DataFrame = {
    val custKeys = Tables.customer(s, d).select(col("c_custkey")).distinct()
    val agg = Tables.orders(s, d)
      .join(broadcast(custKeys), col("o_custkey") === col("c_custkey"),
        "left_outer")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("nd"),
        sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_cust"),
        sum(when(!col("o_orderpriority").isin(ContractPriorities: _*), 1L)
          .otherwise(0L)).as("bad_prio"),
        sum(when(!col("o_orderstatus").isin("O", "F"), 1L).otherwise(0L))
          .as("bad_status"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("bad_price"),
        sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("ri_viol"),
        datediff(max(col("o_orderdate").cast("date")),
          to_date(lit("1970-01-01"))).cast("long").as("max_day"))
    agg.selectExpr(s"""stack(8,
      'row_count_min', n, CAST(0 AS BIGINT),
        CASE WHEN n >= $ContractMinRows THEN 1 ELSE 0 END,
      'pk_unique', nd, n - nd, CASE WHEN n = nd THEN 1 ELSE 0 END,
      'custkey_not_null', null_cust, null_cust,
        CASE WHEN null_cust = 0 THEN 1 ELSE 0 END,
      'priority_accepted', bad_prio, bad_prio,
        CASE WHEN bad_prio = 0 THEN 1 ELSE 0 END,
      'status_accepted_strict', bad_status, bad_status,
        CASE WHEN bad_status = 0 THEN 1 ELSE 0 END,
      'totalprice_positive', bad_price, bad_price,
        CASE WHEN bad_price = 0 THEN 1 ELSE 0 END,
      'ri_custkey', ri_viol, ri_viol,
        CASE WHEN ri_viol = 0 THEN 1 ELSE 0 END,
      'freshness', max_day, CAST(0 AS BIGINT),
        CASE WHEN max_day >= $ContractFreshDay THEN 1 ELSE 0 END
      ) AS (check, observed, violations, passed)""")
  }

  private val qualityContractSql = {
    val prios = ContractPriorities.map(p => s"'$p'").mkString(", ")
    s"""WITH a AS (
         SELECT CAST(count(*) AS BIGINT) AS n,
                CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd,
                CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
                CAST(sum(CASE WHEN o_orderpriority NOT IN ($prios) THEN 1 ELSE 0 END) AS BIGINT) AS bad_prio,
                CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
                CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
                CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ri_viol,
                CAST(date_diff('day', DATE '1970-01-01',
                               max(CAST(o_orderdate AS DATE))) AS BIGINT) AS max_day
         FROM orders o
         LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
           ON o.o_custkey = c.c_custkey)
       SELECT 'row_count_min' AS check, n AS observed, CAST(0 AS BIGINT) AS violations,
              CASE WHEN n >= $ContractMinRows THEN 1 ELSE 0 END AS passed FROM a
       UNION ALL SELECT 'pk_unique', nd, n - nd, CASE WHEN n = nd THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'custkey_not_null', null_cust, null_cust, CASE WHEN null_cust = 0 THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'priority_accepted', bad_prio, bad_prio, CASE WHEN bad_prio = 0 THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'status_accepted_strict', bad_status, bad_status, CASE WHEN bad_status = 0 THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'totalprice_positive', bad_price, bad_price, CASE WHEN bad_price = 0 THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'ri_custkey', ri_viol, ri_viol, CASE WHEN ri_viol = 0 THEN 1 ELSE 0 END FROM a
       UNION ALL SELECT 'freshness', max_day, CAST(0 AS BIGINT), CASE WHEN max_day >= $ContractFreshDay THEN 1 ELSE 0 END FROM a"""
  }

  /** PERSIST-AND-ADD-MERGE quantile-sketch lifecycle — the histogram
    * counterpart of ext_sketch_lincount2, demonstrating the OPPOSITE
    * merge algebra: day-1's fixed-edge histogram state is written to
    * parquet, re-read, and VECTOR-ADDED to day-2's before the P50/P90/
    * P99 estimates. Additive counts merge exactly (state(A)+state(B) ≡
    * state(A∪B) for disjoint batches) but are NOT idempotent — a
    * replayed batch double-counts where the lincount OR shrugs it off —
    * which is why the daily loop pairs this state with exactly-once
    * batch delivery. Oracle = the one-shot fixed-grid sketch over all
    * events: the split/write/re-read are semantically invisible for the
    * disjoint ts partition, exactly the property gated.
    */
  private val QHistLo = 0.0
  private val QHistHi = 512.0
  private val QHistBins = 256
  private val QHistQs = Seq(0.5, 0.9, 0.99)

  private def sketchQuantile2(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"),
      col("ts"))
    val path = scratchPath(s, "qhist", d)
    Sketches.fixedHistState(ev.where(col("ts") < IncrCutoffNs), "value",
        "event_type", QHistLo, QHistHi, QHistBins)
      .write.mode("overwrite").parquet(path)
    Sketches.fixedHistQuantiles(
      Sketches.mergeHistStates(
        s.read.parquet(path),
        Sketches.fixedHistState(ev.where(col("ts") >= IncrCutoffNs), "value",
          "event_type", QHistLo, QHistHi, QHistBins)),
      "event_type", QHistLo, QHistHi, QHistBins, QHistQs)
  }

  private val sketchQuantile2Sql = {
    val width = (QHistHi - QHistLo) / QHistBins
    val vals = QHistQs.zipWithIndex.map { case (q, i) => s"($i, $q)" }
      .mkString(", ")
    s"""WITH h AS (
         SELECT event_type,
                greatest(0, least(${QHistBins - 1},
                  CAST(floor((value - $QHistLo) / $width) AS BIGINT))) AS bin,
                CAST(count(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1, 2),
       c AS (SELECT event_type, bin, cnt,
                    sum(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                    sum(cnt) OVER (PARTITION BY event_type) AS n
             FROM h),
       qs AS (SELECT * FROM (VALUES $vals) t(qi, q))
       SELECT event_type, qi, q, CAST(n AS BIGINT) AS n_rows,
              round($QHistLo + (min(bin) + 0.5) * $width, 4) AS est
       FROM c CROSS JOIN qs
       WHERE cum >= ceil(q * n)
       GROUP BY event_type, qi, q, n"""
  }

  /** TEMPORAL train/val/test split with entity-overlap accounting: rows
    * split by fixed time cuts (the forecasting-correct protocol — the
    * model never trains on the future), plus the per-user split bitmask
    * histogram (1=train, 2=val, 4=test) that QUANTIFIES what a temporal
    * split does NOT give you: user disjointness. mask 5/7 counts are
    * the users whose test behavior is partially memorizable from train —
    * the complement of ext_split_leakfree's group-hash split, where
    * entity disjointness is the guarantee and temporal order is not.
    * One corpus scan per output branch; the mask histogram rides a
    * per-user aggregate (3 bit-max's) then a ≤7-row count.
    */
  private val TemporalT1Ns = 1705795200000000000L // 2024-01-21T00:00:00Z
  private val TemporalT2Ns = 1706227200000000000L // 2024-01-26T00:00:00Z

  private def splitTemporal(s: SparkSession, d: String): DataFrame = {
    val tagged = Tables.events(s, d).select(col("user_id"),
      when(col("ts") < TemporalT1Ns, "train")
        .when(col("ts") < TemporalT2Ns, "val")
        .otherwise("test").as("split"))
    val bySplit = tagged.groupBy("split").agg(count(lit(1)).as("n"))
      .select(lit("split_rows").as("kind"), col("split").as("key"), col("n"))
    val byMask = tagged.groupBy("user_id")
      .agg((max(when(col("split") === "train", 1L).otherwise(0L)) +
        max(when(col("split") === "val", 2L).otherwise(0L)) +
        max(when(col("split") === "test", 4L).otherwise(0L))).as("mask"))
      .groupBy("mask").agg(count(lit(1)).as("n"))
      .select(lit("user_mask").as("kind"),
        col("mask").cast("string").as("key"), col("n"))
    bySplit.unionByName(byMask)
  }

  private val splitTemporalSql =
    s"""WITH e AS (
         SELECT user_id,
                CASE WHEN epoch_ns(ts) < $TemporalT1Ns THEN 'train'
                     WHEN epoch_ns(ts) < $TemporalT2Ns THEN 'val'
                     ELSE 'test' END AS split
         FROM events),
       s1 AS (SELECT 'split_rows' AS kind, split AS key,
                     CAST(count(*) AS BIGINT) AS n
              FROM e GROUP BY 2),
       m AS (SELECT user_id,
                    max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) +
                    max(CASE WHEN split = 'val' THEN 2 ELSE 0 END) +
                    max(CASE WHEN split = 'test' THEN 4 ELSE 0 END) AS mask
             FROM e GROUP BY 1),
       s2 AS (SELECT 'user_mask' AS kind, CAST(mask AS VARCHAR) AS key,
                     CAST(count(*) AS BIGINT) AS n
              FROM m GROUP BY 2)
       SELECT * FROM s1 UNION ALL SELECT * FROM s2"""

  /** NATIVE session windows: Spark's session_window(event_time, gap)
    * doing what Relational.sessionize composes by hand (lag + prefix
    * sum) — per (user, session): event count and the session's first
    * event time. Boundary semantics verified EMPIRICALLY and
    * spec-pinned (TimeSeriesSpec): an exactly-gap-later event MERGES
    * (split iff diff > gap, inclusive ends) — the same ≤-gap rule as
    * sessionize, so the two operators agree row-for-row including the
    * boundary, and the oracle encodes `diff > gap` splits. Same single
    * shuffle on the user key as the hand-rolled form; the native
    * operator additionally works unchanged in Structured Streaming with
    * watermark-evicted session state.
    */
  private val SessionGapSeconds = 600L

  private def sessionNative(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
      .groupBy(col("user_id"),
        session_window(col("event_time"), s"$SessionGapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_timestamp(col("session_window.start")).as("session_start_sec"),
        col("n_events"))

  private val sessionNativeSql =
    s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t FROM events),
       l AS (SELECT user_id, t,
                    CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
                           OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                              > ${SessionGapSeconds * 1000000000L}
                         THEN 1 ELSE 0 END AS brk
             FROM e),
       s AS (SELECT user_id, t,
                    sum(brk) OVER (PARTITION BY user_id ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS sid
             FROM l)
       SELECT user_id, CAST(min(t) // 1000000000 AS BIGINT) AS session_start_sec,
              count(*) AS n_events
       FROM s GROUP BY user_id, sid"""

  /** MMR diversification (Similarity.mmrTopK): greedy relevance-vs-
    * redundancy re-rank of the exact top-8 candidates, 3 unrolled
    * picks at λ=0.7/μ=0.3 — the serving-tier step after rerank: a
    * result page of near-duplicates is useless however relevant.
    */
  private val MmrCands = 8
  private val MmrPicks = 3
  private val MmrLambda = 0.7
  private val MmrMu = 0.3

  private def searchMmr(s: SparkSession, d: String): DataFrame =
    Similarity.mmrTopK(Tables.embeddings(s, d), annQueries(s, d),
      "vec_id", "embedding", MmrCands, MmrPicks, MmrLambda, MmrMu)

  private lazy val searchMmrSql =
    s"""WITH $vecsSql,
       sc AS (
         SELECT q.vec_id AS q_id, b.vec_id AS vec_b,
                ${dotOf("q.vec", "b.vec")} / (sqrt(q.nsq) * sqrt(b.nsq)) AS rel
         FROM n q, n b
         WHERE q.vec_id % $QueryMod = 0 AND q.vec_id <> b.vec_id),
       cand AS (SELECT q_id, vec_b, rel FROM (
           SELECT q_id, vec_b, rel,
                  row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_b) AS rn
           FROM sc) t WHERE rn <= $MmrCands),
       sims AS (
         SELECT c1.q_id, c1.vec_b, c2.vec_b AS sel_b,
                ${dotOf("b1.vec", "b2.vec")} / (sqrt(b1.nsq) * sqrt(b2.nsq)) AS sim
         FROM cand c1
         JOIN cand c2 ON c1.q_id = c2.q_id AND c1.vec_b <> c2.vec_b
         JOIN n b1 ON b1.vec_id = c1.vec_b
         JOIN n b2 ON b2.vec_id = c2.vec_b),
       s1 AS (SELECT q_id, vec_b AS sel, rel AS score FROM (
           SELECT q_id, vec_b, rel,
                  row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_b) AS rn
           FROM cand) t WHERE rn = 1),
       m2 AS (
         SELECT c.q_id, c.vec_b, $MmrLambda * c.rel - $MmrMu * si.sim AS score
         FROM cand c
         JOIN s1 ON s1.q_id = c.q_id AND c.vec_b <> s1.sel
         JOIN sims si ON si.q_id = c.q_id AND si.vec_b = c.vec_b
                     AND si.sel_b = s1.sel),
       s2 AS (SELECT q_id, vec_b AS sel, score FROM (
           SELECT q_id, vec_b, score,
                  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_b) AS rn
           FROM m2) t WHERE rn = 1),
       m3 AS (
         SELECT c.q_id, c.vec_b,
                $MmrLambda * c.rel - $MmrMu * max(si.sim) AS score
         FROM cand c
         JOIN s1 ON s1.q_id = c.q_id
         JOIN s2 ON s2.q_id = c.q_id
         JOIN sims si ON si.q_id = c.q_id AND si.vec_b = c.vec_b
                     AND si.sel_b IN (s1.sel, s2.sel)
         WHERE c.vec_b <> s1.sel AND c.vec_b <> s2.sel
         GROUP BY c.q_id, c.vec_b, c.rel),
       s3 AS (SELECT q_id, vec_b AS sel, score FROM (
           SELECT q_id, vec_b, score,
                  row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_b) AS rn
           FROM m3) t WHERE rn = 1)
       SELECT q_id, 1 AS pick, sel AS selected_id, round(score, 6) AS mmr FROM s1
       UNION ALL SELECT q_id, 2, sel, round(score, 6) FROM s2
       UNION ALL SELECT q_id, 3, sel, round(score, 6) FROM s3"""

  /** TREND DETECTION: per-type least-squares slope of the daily event
    * count — is this event type growing or declining, as a number with
    * a closed form instead of an eyeballed chart. slope = (n·Σxy −
    * Σx·Σy) / (n·Σx² − (Σx)²) over (day-index, daily-count) points:
    * every Σ is an exact BIGINT off the tiny per-day frame (≤ types ×
    * days rows after ONE corpus aggregate), so the only float work is
    * the final division — the ext_events_decay determinism discipline.
    * Magnitudes: day indices ~2e4, counts ≤ 2^31 → n·Σxy bounded well
    * under 2^63 for any per-type daily series a dashboard would hold.
    */
  private def eventsTrend(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"), expr(s"ts div $ZDayNs").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"), col("sy").as("n_events"),
        when(col("n_days") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n_days") * col("sxy") - col("sx") * col("sy")) /
            (col("n_days") * col("sxx") - col("sx") * col("sx")), 6))
          .as("slope_per_day"))
  }

  private val eventsTrendSql =
    s"""WITH daily AS (
         SELECT event_type, epoch_ns(ts) // $ZDayNs AS x,
                CAST(count(*) AS BIGINT) AS y
         FROM events GROUP BY 1, 2),
       a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(x * x) AS BIGINT) AS sxx
             FROM daily GROUP BY 1)
       SELECT event_type, n_days, sy AS n_events,
              CASE WHEN n_days * sxx - sx * sx != 0
                   THEN round((n_days * sxy - sx * sy)
                              / (n_days * sxx - sx * sx), 6) END AS slope_per_day
       FROM a"""

  /** CO-OCCURRENCE LIFT (association-rule telemetry): for every pair of
    * event types, how much more often do they share a user than
    * independence predicts — lift = P(a∧b) / (P(a)·P(b)) over the user
    * universe. The market-basket statistic that finds coupled behaviors
    * (and, in a corpus context, coupled source/topic memberships). All
    * counts ride the distinct (user, type) frame: pair counts from its
    * self-join (type universe is tiny, so pairs ≤ types²/2), marginals
    * from one aggregate, n_users from one count — the only corpus-sized
    * work is the initial distinct. Lift computes as (both·n)/(ca·cb) in
    * a fixed order, one rounded division.
    */
  private def eventsLift(s: SparkSession, d: String): DataFrame = {
    val ut = Tables.events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
      .localCheckpoint()
    val marg = ut.groupBy("event_type").agg(count(lit(1)).as("c"))
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val pairs = ut.as("a")
      .join(ut.select(col("user_id"), col("event_type").as("type_b")).as("b"),
        Seq("user_id"))
      .where(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("event_type").as("type_a"),
        col("c").as("ca"))), Seq("type_a"))
      .join(broadcast(marg.select(col("event_type").as("type_b"),
        col("c").as("cb"))), Seq("type_b"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_both"), col("ca"),
        col("cb"), col("n_users"),
        round(col("n_both") * col("n_users") / (col("ca") * col("cb")), 6)
          .as("lift"))
  }

  private val eventsLiftSql =
    s"""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
       marg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
                FROM ut GROUP BY 1),
       nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
       pairs AS (
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                CAST(count(*) AS BIGINT) AS n_both
         FROM ut a JOIN ut b ON a.user_id = b.user_id
                          AND a.event_type < b.event_type
         GROUP BY 1, 2)
       SELECT type_a, type_b, n_both,
              ma.c AS ca, mb.c AS cb, n_users,
              round(n_both * n_users / (ma.c * mb.c), 6) AS lift
       FROM pairs
       JOIN marg ma ON ma.event_type = type_a
       JOIN marg mb ON mb.event_type = type_b
       CROSS JOIN nu"""

  /** AUTOCORRELATION of the daily arrival-count series at lags 1..7 —
    * the seasonality detector behind capacity planning and the lag-7
    * forecaster (ext_ts_forecast): a weekly-periodic corpus shows a
    * spike at lag 7. EXACT, no floats until the final division: with
    * mean S/n rational, the residual n·y_t − S is a BIGINT, the n²
    * factors cancel between numerator and denominator, and
    * acf_l = Σ r_t·r_{t+l} / Σ r_t² is one rounded division per lag.
    *
    * Scale shape: ONE events aggregate reduces the corpus to the
    * |days| frame (zero-filled on the dense day spine — ACF needs a
    * regular series); every join/window after that runs on ≤ |days|
    * rows. The residual products run WIDE (DECIMAL(38,0) Spark-side,
    * HUGEINT in the oracle — Monitoring.acfFromDaily's documented
    * 64-bit headroom swap, landed round 8): daily counts of n·y ~ 1e13
    * square past BIGINT at 100 TB. The quotient is exact-integer →
    * nearest-double in both engines, so wide ≡ narrow wherever narrow
    * doesn't overflow; TimeSeriesSpec pins the overflow magnitudes.
    */
  private val AcfMaxLag = 7

  private def tsAcf(s: SparkSession, d: String): DataFrame =
    graft.operators.Monitoring.acfFromDaily(
      graft.operators.Monitoring.dailySpine(
        Tables.events(s, d)
          .groupBy(expr(s"ts div $ZDayNs").as("day"))
          .agg(count(lit(1)).as("y")),
        Seq.empty),
      AcfMaxLag, wide = true)

  private val tsAcfSql =
    s"""WITH d0 AS (SELECT epoch_ns(ts) // $ZDayNs AS day,
                         CAST(count(*) AS BIGINT) AS y
                  FROM events GROUP BY 1),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
       daily AS (
         SELECT s.day, CAST(coalesce(y, 0) AS BIGINT) AS y
         FROM (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds) s
         LEFT JOIN d0 USING (day)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS sm FROM daily),
       r AS (SELECT day, CAST(n * y - sm AS BIGINT) AS r
             FROM daily CROSS JOIN tot),
       den AS (SELECT sum(CAST(r AS HUGEINT) * r) AS den FROM r),
       lags AS (SELECT unnest(range(1, ${AcfMaxLag + 1})) AS lag),
       num AS (
         SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
                sum(CAST(a.r AS HUGEINT) * b.r) AS num
         FROM lags, r a, r b
         WHERE b.day = a.day + lag
         GROUP BY 1)
       SELECT lag, n_pairs,
              CASE WHEN den != 0
                THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS acf
       FROM num CROSS JOIN den"""

  /** SEASONAL-NAIVE FORECAST BACKTEST per event type: predict each
    * day's arrival count by the count 7 days earlier (snaive) and by
    * yesterday (naive-1), score both with MAE over the days where the
    * lag-7 observation exists, and report the skill of snaive over
    * naive-1 — the zero-parameter baseline every capacity forecast
    * must beat before a model earns its keep.
    *
    * Scale shape: ONE events aggregate → the (type × days) zero-filled
    * frame; lag windows partition by type over ≤ |days| rows each.
    * Absolute errors are BIGINT sums; the two MAEs and the skill are
    * final divisions (skill from the INTEGER sums, not the rounded
    * MAEs — identical float trees in both engines).
    */
  private def tsForecast(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("day")
    graft.operators.Monitoring.dailySpine(
        Tables.events(s, d)
          .groupBy(col("event_type"), expr(s"ts div $ZDayNs").as("day"))
          .agg(count(lit(1)).as("y")),
        Seq("event_type"))
      .withColumn("p7", lag(col("y"), AcfMaxLag).over(w))
      .withColumn("p1", lag(col("y"), 1).over(w))
      .where(col("p7").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y") - col("p7"))).as("__e7"),
        sum(abs(col("y") - col("p1"))).as("__e1"))
      .select(col("event_type"), col("n_eval"),
        round(col("__e7") / col("n_eval"), 6).as("mae_snaive"),
        round(col("__e1") / col("n_eval"), 6).as("mae_naive"),
        when(col("__e1") =!= 0,
          round(lit(1.0) - col("__e7") / col("__e1"), 6)).as("skill"))
  }

  private val tsForecastSql =
    s"""WITH d0 AS (SELECT event_type, epoch_ns(ts) // $ZDayNs AS day,
                         CAST(count(*) AS BIGINT) AS y
                  FROM events GROUP BY 1, 2),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
       spine AS (SELECT event_type, day
                 FROM (SELECT DISTINCT event_type FROM d0),
                      (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds)),
       f AS (
         SELECT s.event_type, s.day, CAST(coalesce(y, 0) AS BIGINT) AS y
         FROM spine s LEFT JOIN d0 USING (event_type, day)),
       p AS (
         SELECT event_type, y,
                lag(y, $AcfMaxLag) OVER (PARTITION BY event_type ORDER BY day) AS p7,
                lag(y, 1) OVER (PARTITION BY event_type ORDER BY day) AS p1
         FROM f),
       e AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
                    CAST(sum(abs(y - p7)) AS BIGINT) AS e7,
                    CAST(sum(abs(y - p1)) AS BIGINT) AS e1
             FROM p WHERE p7 IS NOT NULL GROUP BY 1)
       SELECT event_type, n_eval,
              round(e7 / n_eval, 6) AS mae_snaive,
              round(e1 / n_eval, 6) AS mae_naive,
              CASE WHEN e1 != 0 THEN round(1.0 - e7 / e1, 6) END AS skill
       FROM e"""

  /** RFM SEGMENTATION: every purchaser scored 1..4 on Recency,
    * Frequency, and Monetary value (1 = best on each axis), rolled up
    * per (r, f, m) cell — the classic customer-base segmentation
    * (champions = 111, at-risk = high-R low-F). Quartiles are
    * TIE-COHERENT, not ntile: equal metric values always share a
    * score (score of a value = quartile of its first position,
    * (4·users_strictly_better) div n + 1), so the cut never depends
    * on engine-internal tie order — the corpus-gini/pareto
    * distinct-value discipline pointed at segmentation.
    *
    * Scale shape: ONE purchase aggregate → the per-user frame; each
    * axis reduces to its DISTINCT-value frame (recency ≤ |days|,
    * frequency ≤ max count, monetary ≤ distinct cent totals), the
    * window orders that bounded frame, and scores re-attach by three
    * value equi-joins (broadcast-sized). No rank window ever runs
    * over the user universe.
    */
  private def eventsRfm(s: SparkSession, d: String): DataFrame =
    eventsRfmGrid(s, d, 1L)

  /** RFM with the ValueGrid coarsening knob: `gridCents` snaps the
    * monetary axis onto an equal-width cent grid BEFORE the
    * distinct-value score frame is built, bounding the ordered frame to
    * ≤ max_cents/grid rows at ANY revenue distribution (near-unique
    * cents would otherwise make it user-sized — the 100 TB adversarial
    * case). gridCents = 1 is the exact form (ext_events_rfm);
    * ext_events_rfm_grid registers the coarsened form with its own
    * oracle, so the knob's semantics are gated, not asserted.
    */
  private def eventsRfmGrid(s: SparkSession, d: String,
      gridCents: Long): DataFrame = {
    import graft.operators.ValueGrid
    val u = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(expr(s"ts div $ZDayNs")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .localCheckpoint()
    val hi = u.agg(max("last_day").as("hi"), count(lit(1)).as("n_users"))
    val base = u.crossJoin(broadcast(hi))
      .select(col("user_id"), (col("hi") - col("last_day")).as("rec"),
        col("freq"), col("cents"), col("n_users"))
    // tie-coherent quartile over the metric's distinct-(grid-)value frame;
    // asc=true means smaller is better (recency), else larger is better.
    // Recency/frequency are naturally bounded (≤ |days| / max count); only
    // the monetary axis takes the grid.
    def attach(df: DataFrame, metric: String, asc: Boolean,
        step: Long): DataFrame =
      df.withColumn(s"__k_$metric", ValueGrid.snap(col(metric), step))
        .join(broadcast(
          ValueGrid.quantileScores(base, metric, 4, asc, step)),
          Seq(s"__k_$metric"))
    attach(attach(attach(base, "rec", asc = true, 1L),
        "freq", asc = false, 1L),
        "cents", asc = false, gridCents)
      .groupBy(col("rec_score").as("r_score"),
        col("freq_score").as("f_score"), col("cents_score").as("m_score"))
      .agg(count(lit(1)).as("n_users"),
        sum("cents").as("seg_cents"),
        sum("freq").as("seg_purchases"))
      .select(col("r_score"), col("f_score"), col("m_score"), col("n_users"),
        col("seg_purchases"), col("seg_cents"),
        // exact integer division first so the double is a ≤4-decimal grid
        // point — round(x/100/n, 2) ties at the half-cent (309.585) and the
        // engines break the tie differently (decimal HALF_UP vs binary)
        round(expr("seg_cents * 100 div n_users") / 10000.0, 4)
          .as("avg_monetary"))
  }

  /** RFM oracle, step-parameterized like eventsParetoSqlGrid: the
    * monetary score CTE groups by the snapped cent value; step = 1
    * makes cents_k = cents and reproduces the exact form. */
  private def eventsRfmSqlGrid(step: Long): String = {
    def sc(metric: String, dir: String) =
      s"""SELECT v AS $metric,
            CAST(cb * 4 // n_users AS BIGINT) + 1 AS ${metric}_score
          FROM (SELECT v, n_users,
                  CAST(coalesce(sum(m) OVER (ORDER BY v $dir
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
                FROM (SELECT $metric AS v, n_users, CAST(count(*) AS BIGINT) AS m
                      FROM base GROUP BY 1, 2) t)"""
    val centsK = if (step <= 1L) "cents" else s"cents - (cents % $step)"
    s"""WITH u AS (
         SELECT user_id, max(epoch_ns(ts) // $ZDayNs) AS last_day,
                CAST(count(*) AS BIGINT) AS freq,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
       hi AS (SELECT max(last_day) AS hi,
                     CAST(count(*) AS BIGINT) AS n_users FROM u),
       base AS (SELECT user_id, hi - last_day AS rec, freq, cents,
                       $centsK AS cents_k, n_users
                FROM u CROSS JOIN hi),
       rs AS (${sc("rec", "ASC")}),
       fs AS (${sc("freq", "DESC")}),
       ms AS (${sc("cents_k", "DESC")})
       SELECT rec_score AS r_score, freq_score AS f_score,
              cents_k_score AS m_score,
              CAST(count(*) AS BIGINT) AS n_users,
              CAST(sum(freq) AS BIGINT) AS seg_purchases,
              CAST(sum(cents) AS BIGINT) AS seg_cents,
              round((CAST(sum(cents) AS BIGINT) * 100 // count(*)) / 10000.0, 4)
                AS avg_monetary
       FROM base JOIN rs USING (rec) JOIN fs USING (freq) JOIN ms USING (cents_k)
       GROUP BY 1, 2, 3"""
  }

  private val eventsRfmSql = eventsRfmSqlGrid(1L)

  private def eventsRfmGridQ(s: SparkSession, d: String): DataFrame =
    eventsRfmGrid(s, d, GridCentsStep)

  private val eventsRfmGridSql = eventsRfmSqlGrid(GridCentsStep)

  /** PMI COLLOCATIONS: the top-50 adjacent word pairs by pointwise
    * mutual information (min pair count 5) — the phrase-mining /
    * tokenizer-seeding statistic that surfaces strongly-associated
    * pairs a raw frequency ranking buries under stopword bigrams.
    * Marginals come from the bigram frame itself (first-position and
    * second-position counts), so PMI = ln(c_xy·N / (c1·c2)).
    *
    * Determinism: PMI quantizes PER ROW to the 1e6 grid
    * (round(ln·1e6) as BIGINT — the zipf/decay discipline; no big
    * integer products, so nothing can overflow at any SF), ranking
    * orders (pmi_grid desc, w1, w2) and plans as
    * TakeOrderedAndProject. The corpus-sized work is ONE bigram
    * aggregate; marginals are two aggregates of the |pairs| frame.
    */
  private val CollocMinCount = 5
  private val CollocTopK = 50

  private def textColloc(s: SparkSession, d: String): DataFrame = {
    val bi = Tables.documents(s, d)
      .select(TextAnalysis.tokens(col("text")).as("__w"))
      .selectExpr(
        """explode(CASE WHEN size(__w) >= 2
             THEN transform(sequence(0, size(__w) - 2),
                  i -> struct(__w[i] AS w1, __w[i+1] AS w2))
             ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END) AS bg""")
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pairs = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint()
    val c1 = pairs.groupBy("w1").agg(sum("n_pair").as("c1"))
    val c2 = pairs.groupBy("w2").agg(sum("n_pair").as("c2"))
    val tot = pairs.agg(sum("n_pair").as("n_bi"))
    pairs.where(col("n_pair") >= CollocMinCount)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_grid",
        expr("CAST(round((ln(CAST(n_pair AS DOUBLE)) + ln(CAST(n_bi AS DOUBLE))" +
          " - ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE))) * 1000000, 0)" +
          " AS BIGINT)"))
      .orderBy(col("pmi_grid").desc, col("w1").asc, col("w2").asc)
      .limit(CollocTopK)
      .select(col("w1"), col("w2"), col("n_pair"), col("c1"), col("c2"),
        round(col("pmi_grid") / lit(1000000.0), 6).as("pmi"))
  }

  private val textCollocSql =
    s"""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
       bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
              FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM w) t),
       pairs AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
                 FROM bi GROUP BY 1, 2),
       c1 AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS c1 FROM pairs GROUP BY 1),
       c2 AS (SELECT w2, CAST(sum(n_pair) AS BIGINT) AS c2 FROM pairs GROUP BY 1),
       tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_bi FROM pairs),
       g AS (
         SELECT w1, w2, n_pair, c1, c2,
                CAST(round((ln(CAST(n_pair AS DOUBLE)) + ln(CAST(n_bi AS DOUBLE))
                  - ln(CAST(c1 AS DOUBLE)) - ln(CAST(c2 AS DOUBLE))) * 1000000, 0)
                  AS BIGINT) AS pmi_grid
         FROM pairs JOIN c1 USING (w1) JOIN c2 USING (w2) CROSS JOIN tot
         WHERE n_pair >= $CollocMinCount)
       SELECT w1, w2, n_pair, c1, c2,
              round(pmi_grid / 1000000.0, 6) AS pmi
       FROM g ORDER BY pmi_grid DESC, w1, w2 LIMIT $CollocTopK"""

  /** CUSUM LEVEL-SHIFT DETECTION per event type: the cumulative-sum
    * changepoint statistic over the zero-filled daily-count series —
    * D_t = n·P_t − t·S (P_t the prefix sum, S the total) peaks in
    * magnitude at the most likely mean-shift point. Complements
    * ext_events_anomaly (one-day spikes) with the sustained-shift
    * detector a pipeline-health monitor needs (a crawler source going
    * quiet shifts the LEVEL; it may never spike). EXACT: D_t is a
    * BIGINT (it is n² × the centered prefix), the argmax is a total
    * order (|D| desc, day asc), and the before/after means plus the
    * normalized drift are the only float ops — identical trees.
    *
    * Scale shape: ONE events aggregate → the (type × days) frame; both
    * windows partition by type over ≤ |days| rows.
    */
  private def eventsCusum(s: SparkSession, d: String): DataFrame =
    graft.operators.Monitoring.cusumFromDaily(
      Tables.events(s, d)
        .groupBy(col("event_type"), expr(s"ts div $ZDayNs").as("day"))
        .agg(count(lit(1)).as("y")),
      "event_type")

  private val eventsCusumSql =
    s"""WITH d0 AS (SELECT event_type, epoch_ns(ts) // $ZDayNs AS day,
                         CAST(count(*) AS BIGINT) AS y
                  FROM events GROUP BY 1, 2),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
       spine AS (SELECT event_type, day
                 FROM (SELECT DISTINCT event_type FROM d0),
                      (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds)),
       f AS (SELECT s.event_type, s.day, CAST(coalesce(y, 0) AS BIGINT) AS y
             FROM spine s LEFT JOIN d0 USING (event_type, day)),
       tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS sm
               FROM f GROUP BY 1),
       pre AS (
         SELECT f.event_type, f.day,
                CAST(sum(y) OVER (PARTITION BY f.event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
                CAST(row_number() OVER (PARTITION BY f.event_type ORDER BY day)
                  AS BIGINT) AS t,
                n, sm
         FROM f JOIN tot USING (event_type)),
       dr AS (SELECT *, CAST(n * p - t * sm AS BIGINT) AS drift FROM pre),
       rk AS (SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY abs(drift) DESC, day) AS rn
              FROM dr)
       SELECT event_type, n AS n_days, day AS cp_day, t AS cp_index, drift,
              CASE WHEN sm != 0 THEN round(drift / (n * sm), 6) END AS drift_norm,
              round(p / t, 6) AS mean_before,
              CASE WHEN t < n THEN round((sm - p) / (n - t), 6) END AS mean_after
       FROM rk WHERE rn = 1"""

  /** TPC-H Q2-SHAPED ARGMIN: for every part in a size slice, the
    * supplier observed offering the lowest unit price (cents-per-unit
    * on the exact integer grid), enriched with supplier and nation —
    * the correlated-subquery pattern (min within group, then a second
    * correlated min to break supplier ties) expressed Spark-side as a
    * single top-1 window over (part). Top-100 by (unit_cents, part).
    *
    * Scale shape: the part slice broadcasts into the lineitem scan
    * (the selective dimension filter reaches the fact scan as a
    * semi-join before any aggregate); the (part, supplier) reduce is
    * map-side combinable; the argmin window partitions by part over
    * the reduced frame; supplier/nation attach after the top-1 cut.
    */
  private val Q2SizeMax = 5
  private val Q2TopK = 100

  private def pricingQ2(s: SparkSession, d: String): DataFrame = {
    val ps = Tables.part(s, d).where(col("p_size") <= Q2SizeMax)
      .select("p_partkey", "p_brand", "p_size")
    val uc = Tables.lineitem(s, d)
      .join(broadcast(ps), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"), col("l_suppkey"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)" +
          " div CAST(round(l_quantity, 0) AS BIGINT)").as("uc"))
      .groupBy("p_partkey", "p_brand", "p_size", "l_suppkey")
      .agg(min("uc").as("unit_cents"))
    val w = Window.partitionBy("p_partkey")
      .orderBy(col("unit_cents").asc, col("l_suppkey").asc)
    uc.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .orderBy(col("unit_cents").asc, col("p_partkey").asc)
      .limit(Q2TopK)
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("unit_cents"), col("s_suppkey"), col("s_name"), col("n_name"))
  }

  private val pricingQ2Sql =
    s"""WITH ps AS (SELECT p_partkey, p_brand, p_size FROM part
                  WHERE p_size <= $Q2SizeMax),
       uc AS (
         SELECT p_partkey, p_brand, p_size, l_suppkey,
                min(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                    // CAST(round(l_quantity, 0) AS BIGINT)) AS unit_cents
         FROM lineitem JOIN ps ON p_partkey = l_partkey
         GROUP BY 1, 2, 3, 4),
       best AS (
         SELECT * FROM uc u
         WHERE unit_cents = (SELECT min(unit_cents) FROM uc u2
                             WHERE u2.p_partkey = u.p_partkey)
           AND l_suppkey = (SELECT min(l_suppkey) FROM uc u3
                            WHERE u3.p_partkey = u.p_partkey
                              AND u3.unit_cents = u.unit_cents))
       SELECT p_partkey, p_brand, p_size, unit_cents,
              s_suppkey, s_name, n_name
       FROM best
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON n_nationkey = s_nationkey
       ORDER BY unit_cents, p_partkey LIMIT $Q2TopK"""

  /** STRATIFIED K-FOLD ASSIGNMENT AUDIT: every document lands in one
    * of K cross-validation folds by the salted content-free id hash
    * (so membership survives re-crawls that change text), and the
    * query reports the per-stratum balance — fold-count min/max and
    * the imbalance in ppm of the stratum — the realized-balance check
    * a CV harness runs before trusting fold variance. Content-hash
    * splitting is corpus_split's job; id hashing here keeps a doc's
    * fold stable under text edits (the CV contract).
    *
    * Scale shape: one hash per doc, one (lang, fold) aggregate, the
    * audit runs over ≤ |langs|·K rows. No window ever touches the doc
    * universe (round-robin ranking would exactly balance but costs a
    * per-stratum global sort — the hash variant is the 100 TB shape).
    */
  private val KfoldK = 5
  private val KfoldSalt = "|graft-kfold-7"

  private def splitKfold(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val fold = Dedup.polyHash(
      concat(col("doc_id").cast("string"), lit(KfoldSalt))) % KfoldK
    Tables.documents(s, d)
      .select(col("lang"), fold.as("fold"))
      .groupBy("lang", "fold").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_docs"), count(lit(1)).as("n_folds_used"),
        min("c").as("__mn"), max("c").as("max_fold_n"))
      .select(col("lang"), col("n_docs"), col("n_folds_used"),
        // an unpopulated fold means the realized minimum is zero
        when(col("n_folds_used") < KfoldK, lit(0L)).otherwise(col("__mn"))
          .as("min_fold_n"),
        col("max_fold_n"))
      .withColumn("imbalance_ppm",
        expr("(max_fold_n - min_fold_n) * 1000000 div n_docs"))
  }

  private val splitKfoldSql =
    s"""WITH f AS (
         SELECT lang,
                ${polyHashSql(s"CAST(doc_id AS VARCHAR) || '$KfoldSalt'")}
                  % $KfoldK AS fold
         FROM documents),
       c AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS c
             FROM f GROUP BY 1, 2),
       a AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
                    CAST(count(*) AS BIGINT) AS n_folds_used,
                    min(c) AS mn, max(c) AS max_fold_n
             FROM c GROUP BY 1),
       b AS (SELECT lang, n_docs, n_folds_used,
                    CASE WHEN n_folds_used < $KfoldK
                         THEN CAST(0 AS BIGINT) ELSE mn END AS min_fold_n,
                    max_fold_n
             FROM a)
       SELECT lang, n_docs, n_folds_used, min_fold_n, max_fold_n,
              CAST((max_fold_n - min_fold_n) * 1000000 // n_docs AS BIGINT)
                AS imbalance_ppm
       FROM b"""

  /** COMMUNITY DETECTION by synchronous label propagation over the
    * minhash near-dup pair graph ([[Dedup.labelPropagation]]): each
    * node adopts the MODE of its neighbors' labels for a fixed 3
    * rounds, ties to the smallest label. Where min-label components
    * merge everything a bridge edge touches, LPA keeps DENSE duplicate
    * families apart — the community histogram is the template-family
    * census (a 500-node community = one boilerplate template, not 500
    * independent near-dup pairs). Oracle unrolls the same 3 rounds as
    * CTEs with the identical (count desc, label asc) tiebreak.
    */
  private val LpaRounds = 3

  private def ccLabelprop(s: SparkSession, d: String): DataFrame =
    Dedup.labelPropagation(
      Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
        .select("doc_a", "doc_b"),
      LpaRounds, broadcastLabels = true)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))

  private lazy val ccLabelpropSql = {
    val iters = (0 until LpaRounds).map { k =>
      s"""l${k + 1} AS (
           SELECT doc_id, label FROM (
             SELECT e.s AS doc_id, ln.label,
                    row_number() OVER (PARTITION BY e.s
                      ORDER BY count(*) DESC, ln.label) AS rn
             FROM e JOIN l$k ln ON e.d = ln.doc_id
             GROUP BY e.s, ln.label) t
           WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH pairs AS ($dedupMinhashSql),
       e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       l0 AS (SELECT DISTINCT s AS doc_id, s AS label FROM e),
       $iters
       SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
       FROM l$LpaRounds GROUP BY 1"""
  }

  /** TOP PRINCIPAL COMPONENT of the embedding corpus
    * ([[Similarity.pcaTopComponent]]): the dimensionality-reduction /
    * whitening primitive an embedding pipeline runs at ingest (drop
    * the dominant direction to de-bias, or project onto it to rank
    * variance). Power iteration runs ENTIRELY on integer grids —
    * quantized components, exact BIGINT centered Gram matrix, integer
    * matvec + integer renormalization per round — so the eigenvector
    * is bit-identical across engines and partitionings; the oracle
    * unrolls the same $PcaRounds rounds as CTEs with the identical
    * sign-symmetric truncating divisions.
    */
  private val PcaGrid = 1000000L
  private val PcaCDiv = 100000000L
  private val PcaRounds = 8

  private def embPca(s: SparkSession, d: String): DataFrame =
    Similarity.pcaTopComponent(Tables.embeddings(s, d), "vec_id", "embedding",
      PcaRounds, PcaGrid, PcaCDiv)

  private def pcaTruncDiv(a: String, b: String) =
    graft.operators.IntMath.truncDivDuck(a, b)

  /** The shared CTE chain (quantize → Gram → unrolled power rounds) up
    * to the converged eigenvector v$PcaRounds — reused verbatim by the
    * PCA query and the projection query so they can never diverge on
    * the iteration. MATERIALIZED everywhere a CTE is referenced more
    * than once: inlined, the expression tree doubles per round and
    * DuckDB plans 2^rounds copies of the Gram aggregate.
    */
  private lazy val pcaChainSql = {
    val rounds = (1 to PcaRounds).map { k =>
      s"""m$k AS MATERIALIZED (SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS m
                FROM c JOIN v${k - 1} v ON v.i = c.j GROUP BY 1),
         d$k AS (SELECT greatest(CAST(max(abs(m)) // $PcaGrid AS BIGINT),
                   CAST(1 AS BIGINT)) AS dv FROM m$k),
         v$k AS MATERIALIZED (SELECT i, ${pcaTruncDiv("m", "dv")} AS v
                 FROM m$k CROSS JOIN d$k)"""
    }.mkString(",\n")
    s"""q AS MATERIALIZED (
         SELECT vec_id, i,
                CAST(round(CAST(e[i + 1] AS DOUBLE) * $PcaGrid, 0) AS BIGINT) AS q
         FROM (SELECT vec_id, embedding AS e,
                      unnest(range(0, len(embedding))) AS i
               FROM embeddings) t),
       s AS (SELECT i, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY 1),
       nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM q),
       cp AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sqq
              FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
       c AS MATERIALIZED (SELECT cp.i, cp.j,
                    ${pcaTruncDiv("n * sqq - si.s * sj.s", PcaCDiv.toString)} AS c
             FROM cp JOIN s si ON si.i = cp.i
                     JOIN s sj ON sj.i = cp.j CROSS JOIN nn),
       v0 AS (SELECT i, CAST($PcaGrid AS BIGINT) AS v FROM s),
       $rounds"""
  }

  private lazy val embPcaSql =
    s"""WITH $pcaChainSql,
       mf AS (SELECT c.i, CAST(sum(c.c * v.v) AS BIGINT) AS m
              FROM c JOIN v$PcaRounds v ON v.i = c.j GROUP BY 1),
       fin AS (SELECT f.i, f.v, mf.m FROM v$PcaRounds f JOIN mf ON mf.i = f.i),
       st AS (SELECT CAST(sum(vs * ms) AS BIGINT) AS num,
                     CAST(sum(vs * vs) AS BIGINT) AS den,
                     CAST(sum(v * v) AS BIGINT) AS vv
              FROM (SELECT v, ${pcaTruncDiv("v", "1000")} AS vs,
                           ${pcaTruncDiv("m", "1000000")} AS ms
                    FROM fin) t),
       tr AS (SELECT CAST(sum(c) AS BIGINT) AS tr FROM c WHERE i = j)
       SELECT i AS dim, v AS v_grid,
              round(v / sqrt(vv), 6) AS loading,
              round(num / den, 6) AS rayleigh,
              round(num * 1000.0 / den / tr, 6) AS ev_share
       FROM v$PcaRounds CROSS JOIN st CROSS JOIN tr"""

  /** PER-LABEL PROJECTION onto the learned top component — the
    * downstream half of PCA: if label means separate along the
    * dominant direction, the corpus's main variance axis IS the label
    * signal (and dropping it de-biases; keeping it makes a 1-D
    * classifier). Projections p = Σ q_j·v_j are exact BIGINTs on the
    * composed grids; per-label mean/min/max divide and rescale at the
    * end (1e12 = component grid × vector grid).
    */
  private def embPcaProject(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val v = Similarity.pcaTopComponent(emb, "vec_id", "embedding",
      PcaRounds, PcaGrid, PcaCDiv).select(col("dim"), col("v_grid"))
    val proj = emb
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
        expr(s"CAST(round(CAST(x AS DOUBLE) * $PcaGrid, 0) AS BIGINT)").as("q"))
      .join(broadcast(v), Seq("dim"))
      .groupBy("vec_id", "label")
      .agg(sum(col("q") * col("v_grid")).as("p"))
    proj.groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum("p").as("__sp"), min("p").as("__mn"), max("p").as("__mx"))
      .select(col("label"), col("n_vecs"),
        round(col("__sp") / col("n_vecs") / 1e12, 6).as("mean_proj"),
        round(col("__mn") / 1e12, 6).as("min_proj"),
        round(col("__mx") / 1e12, 6).as("max_proj"))
  }

  private lazy val embPcaProjectSql =
    s"""WITH $pcaChainSql,
       proj AS (
         SELECT q.vec_id, CAST(sum(q.q * v.v) AS BIGINT) AS p
         FROM q JOIN v$PcaRounds v ON v.i = q.i
         GROUP BY 1),
       lab AS (SELECT vec_id, label FROM embeddings)
       SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
              round(CAST(sum(p) AS BIGINT) / count(*) / 1e12, 6) AS mean_proj,
              round(min(p) / 1e12, 6) AS min_proj,
              round(max(p) / 1e12, 6) AS max_proj
       FROM proj JOIN lab USING (vec_id)
       GROUP BY 1"""

  /** TEMPLATE-RADIUS HISTOGRAM: multi-source BFS distance from the
    * dup graph's HUB nodes (degree ≥ $BfsHubDeg) — how many hops every
    * near-dup sits from a template center ([[Dedup.bfsDistance]],
    * $BfsRounds synchronous relaxations; unreached = −1). Hop-0 counts
    * the hubs themselves; a heavy tail at −1 means the graph is
    * drift-chains, not template families — the actionable split
    * between "delete the template" and "cluster-then-keep-one".
    */
  private val BfsRounds = 4
  private val BfsHubDeg = 2

  private def ccBfs(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
      MinhashPerms, MinhashRows, MinhashTau, Dedup.PolyHash)
      .select("doc_a", "doc_b").localCheckpoint()
    val deg = pairs.select(col("doc_a").as("doc_id"))
      .unionAll(pairs.select(col("doc_b").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("deg"))
    val seeds = deg.where(col("deg") >= BfsHubDeg).select("doc_id")
    Dedup.bfsDistance(pairs, seeds, BfsRounds, broadcastDist = true)
      .groupBy("dist").agg(count(lit(1)).as("n_nodes"))
  }

  private lazy val ccBfsSql = {
    val rounds = (0 until BfsRounds).map { k =>
      s"""d${k + 1} AS MATERIALIZED (
           SELECT d.doc_id,
                  least(coalesce(d.dist, nm.nd), coalesce(nm.nd, d.dist)) AS dist
           FROM d$k d LEFT JOIN (
             SELECT e.s AS doc_id, min(dn.dist) + 1 AS nd
             FROM e JOIN d$k dn ON e.d = dn.doc_id
             WHERE dn.dist IS NOT NULL GROUP BY 1) nm USING (doc_id))"""
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($dedupMinhashSql),
       e AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM pairs
             UNION ALL SELECT doc_b, doc_a FROM pairs),
       deg AS (SELECT s AS doc_id, count(*) AS deg FROM e GROUP BY 1),
       d0 AS MATERIALIZED (
         SELECT doc_id, CASE WHEN deg >= $BfsHubDeg
                             THEN CAST(0 AS BIGINT) END AS dist
         FROM deg),
       $rounds
       SELECT coalesce(dist, CAST(-1 AS BIGINT)) AS dist,
              CAST(count(*) AS BIGINT) AS n_nodes
       FROM d$BfsRounds GROUP BY 1"""
  }

  /** DP-STYLE NOISED HISTOGRAM RELEASE: per-language doc counts with
    * Laplace(sensitivity/ε) noise via inverse-CDF sampling — the
    * fourth privacy lane (k-anon/l-div/t-close audit; this one
    * RELEASES). The uniform draw is the salted polyHash of the group
    * key mapped to (−1, 1) — a deterministic PRNG stand-in (the
    * multimodal-codec discipline: a production release re-seeds per
    * publication; the MECHANISM — inverse CDF, sensitivity/ε scale,
    * integer noised counts — is what ships and is exactly testable).
    * noise = −(1/ε)·sign(u)·ln(1 − |u|), quantized to the 1e6 grid
    * per row; the noised count adds the sign-symmetric truncation of
    * the grid noise.
    */
  private val DpSalt = "|graft-dp-eps"
  private val DpScale = 2.0 // sensitivity 1 / epsilon 0.5

  private def privacyDp(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val u = Dedup.polyHash(concat(col("lang"), lit(DpSalt))) % 2000001L -
      lit(1000000L)
    Tables.documents(s, d)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("__u", u)
      .withColumn("__raw",
        expr(s"ln(1.0 - CAST(abs(__u) AS DOUBLE) / 1000001.0)"))
      .withColumn("noise_grid",
        expr(s"CAST(round((CASE WHEN __u < 0 THEN $DpScale * __raw" +
          s" ELSE -($DpScale) * __raw END) * 1000000, 0) AS BIGINT)"))
      .select(col("lang"), col("n_docs"),
        round(col("noise_grid") / 1000000.0, 6).as("noise"),
        expr("n_docs + " +
          graft.operators.IntMath.truncDivSpark("noise_grid", "1000000"))
          .as("noised_count"))
  }

  private val privacyDpSql =
    s"""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                 FROM documents GROUP BY 1),
       u AS (SELECT lang, n_docs,
               ${polyHashSql(s"lang || '$DpSalt'")} % 2000001 - 1000000 AS u
             FROM g),
       r AS (SELECT lang, n_docs, u,
               ln(1.0 - CAST(abs(u) AS DOUBLE) / 1000001.0) AS raw
             FROM u),
       n AS (SELECT lang, n_docs,
               CAST(round((CASE WHEN u < 0 THEN $DpScale * raw
                           ELSE -($DpScale) * raw END) * 1000000, 0)
                 AS BIGINT) AS noise_grid
             FROM r)
       SELECT lang, n_docs,
              round(noise_grid / 1000000.0, 6) AS noise,
              n_docs + ${graft.operators.IntMath
                .truncDivDuck("noise_grid", "1000000")} AS noised_count
       FROM n"""

  /** TPC-H Q4-SHAPED EXISTS: orders placed in one quarter having AT
    * LEAST ONE late-shipped lineitem (shipped > 30 days after the
    * order date), counted per priority — the canonical correlated
    * EXISTS whose Spark form is a LEFT SEMI join with a compound
    * condition (key equality + the cross-table date inequality). The
    * semi join deduplicates by construction: an order with five late
    * lines counts once, which a plain inner join + distinct would pay
    * a fact-sized distinct for.
    */
  private val Q4Lo = "1997-01-01 00:00:00"
  private val Q4Hi = "1997-04-01 00:00:00"

  private def pricingQ4(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit(Q4Lo)) &&
        col("o_orderdate") < to_timestamp(lit(Q4Hi)))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > expr("o_orderdate + INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late_orders"))
  }

  private val pricingQ4Sql =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_late_orders
       FROM orders o
       WHERE o_orderdate >= TIMESTAMP '$Q4Lo'
         AND o_orderdate < TIMESTAMP '$Q4Hi'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
       GROUP BY 1"""

  /** PHRASE SEARCH over a positional inverted index: exact "$PhraseA
    * $PhraseB" matches found by self-joining the (term, doc, pos)
    * postings on (doc, pos+1) — the IR primitive BM25/TF-IDF ranking
    * cannot express (bag-of-words loses adjacency). Top-20 docs by
    * occurrence count with doc_id tiebreak.
    *
    * Scale shape: the postings explode is the corpus-sized step; BOTH
    * sides of the positional join are pre-filtered to their single
    * term, so the join input is |postings(term)| rows, not the corpus
    * — at 100 TB the index is materialized once and term-bucketed, and
    * this query never rebuilds it (the persisted-index lifecycle of
    * ext_ann_ivf_persist applies unchanged).
    */
  private val PhraseA = "table"
  private val PhraseB = "hash"
  private val PhraseTopK = 20

  private def searchPhrase(s: SparkSession, d: String): DataFrame = {
    val post = Tables.documents(s, d)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "w")))
    val a = post.where(col("w") === PhraseA)
      .select(col("doc_id"), col("pos"))
    val b = post.where(col("w") === PhraseB)
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    a.join(b, Seq("doc_id", "pos"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
      .limit(PhraseTopK)
  }

  private val searchPhraseSql =
    s"""WITH post AS (
         SELECT doc_id, i AS pos, ws[i + 1] AS w
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) t,
              unnest(range(0, len(ws))) u(i)),
       a AS (SELECT doc_id, pos FROM post WHERE w = '$PhraseA'),
       b AS (SELECT doc_id, pos - 1 AS pos FROM post WHERE w = '$PhraseB')
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       FROM a JOIN b USING (doc_id, pos)
       GROUP BY 1
       ORDER BY n_occurrences DESC, doc_id LIMIT $PhraseTopK"""

  /** DAY-OF-WEEK SEASONALITY STRENGTH: one-way variance decomposition
    * of the zero-filled daily totals across the 7 epoch-day-mod-7
    * groups — η² = SS_between / SS_total. ext_ts_acf detects the
    * period, ext_ts_forecast exploits it; this measures how much of
    * the variance the weekly cycle explains (the go/no-go for a
    * seasonal model at all). EXACT: residuals on the n·y − S grid,
    * SS_total an integer sum; each group's between-term
    * (n·S_g − n_g·S)²/n_g lands on a 1e6 integer grid via truncating
    * division, so the η² numerator is an order-free BIGINT and the
    * statistic is ONE double division. At 100 TB swap the squared
    * sums to DECIMAL(38,0); the shape (one corpus aggregate → |days|
    * frame → 7-row decomposition) is unchanged.
    */
  private def tsDow(s: SparkSession, d: String): DataFrame = {
    val daily = graft.operators.Monitoring.dailySpine(
        Tables.events(s, d)
          .groupBy(expr(s"ts div $ZDayNs").as("day"))
          .agg(count(lit(1)).as("y")),
        Seq.empty)
      .withColumn("dow", expr("day % 7")).localCheckpoint()
    val tot = daily.agg(count(lit(1)).as("n"), sum("y").as("sm"))
    val sst = daily.crossJoin(broadcast(tot))
      .select(((col("n") * col("y") - col("sm")) *
        (col("n") * col("y") - col("sm"))).as("r2"))
      .agg(sum("r2").as("sst"))
    val grp = daily.groupBy("dow")
      .agg(count(lit(1)).as("n_g"), sum("y").as("s_g"))
      .crossJoin(broadcast(tot))
      .withColumn("b",
        (col("n") * col("s_g") - col("n_g") * col("sm")) *
          (col("n") * col("s_g") - col("n_g") * col("sm")))
      .withColumn("bg", expr("b * 1000000 div n_g"))
    val eta = grp.agg(sum("bg").as("ssb_grid"))
    grp.crossJoin(broadcast(sst)).crossJoin(broadcast(eta))
      .select(col("dow"), col("n_g").as("n_days"),
        col("s_g").as("n_events"),
        round(col("s_g") / col("n_g"), 6).as("mean_per_day"),
        when(col("sst") =!= 0,
          round(col("ssb_grid") / 1000000.0 / col("sst"), 6)).as("eta2"))
  }

  private val tsDowSql =
    s"""WITH d0 AS (SELECT epoch_ns(ts) // $ZDayNs AS day,
                         CAST(count(*) AS BIGINT) AS y
                  FROM events GROUP BY 1),
       bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d0),
       daily AS (
         SELECT s.day, s.day % 7 AS dow, CAST(coalesce(y, 0) AS BIGINT) AS y
         FROM (SELECT unnest(range(lo, hi + 1)) AS day FROM bounds) s
         LEFT JOIN d0 USING (day)),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS sm FROM daily),
       sst AS (SELECT CAST(sum((n * y - sm) * (n * y - sm)) AS BIGINT) AS sst
               FROM daily CROSS JOIN tot),
       grp AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(sum(y) AS BIGINT) AS s_g
               FROM daily GROUP BY 1),
       b AS (SELECT dow, n_g, s_g,
                    CAST((n * s_g - n_g * sm) * (n * s_g - n_g * sm) * 1000000
                         // n_g AS BIGINT) AS bg
             FROM grp CROSS JOIN tot),
       eta AS (SELECT CAST(sum(bg) AS BIGINT) AS ssb_grid FROM b)
       SELECT dow, n_g AS n_days, s_g AS n_events,
              round(s_g / n_g, 6) AS mean_per_day,
              CASE WHEN sst != 0
                   THEN round(ssb_grid / 1000000.0 / sst, 6) END AS eta2
       FROM b CROSS JOIN sst CROSS JOIN eta"""

  /** ERASURE FROM THE SERVING INDEX ([[Similarity.deleteFromIvfIndex]]):
    * build the persisted IVF index, tombstone every vec_id ≡
    * $IvfDeleteRem (mod $IvfDeleteMod), rewrite ONLY the touched cell
    * partitions (dynamic overwrite), probe. The oracle recomputes the
    * probe over the corpus minus tombstones with the ORIGINAL
    * (pre-delete, full-corpus) quantizer — pinning the two semantic
    * choices that matter: deleted vectors can never be returned, and
    * the cell geometry does NOT retrain on delete. Closes the loop
    * between ext_privacy_erasure (corpus side) and the ANN serving
    * tier.
    */
  private val IvfDeleteMod = 7
  private val IvfDeleteRem = 3

  private def annIvfDelete(s: SparkSession, d: String): DataFrame = {
    val path = scratchPath(s, "ivf_del", d)
    Similarity.writeIvfIndex(Tables.embeddings(s, d), "vec_id", "embedding",
      IvfCentroidEvery, path)
    Similarity.deleteFromIvfIndex(path,
      Tables.embeddings(s, d)
        .where(col("vec_id") % IvfDeleteMod === IvfDeleteRem)
        .select("vec_id"))
    Similarity.probeIvfIndex(path, annQueries(s, d), "vec_id", "embedding",
      TopK)
  }

  private lazy val annIvfDeleteSql = {
    val assignCos = s"${dotOf("n.vec", "c.cvec")} / (sqrt(n.nsq) * sqrt(c.cn))"
    val qassignCos = s"${dotOf("q.vec", "c.cvec")} / (sqrt(q.nsq) * sqrt(c.cn))"
    val searchCos = s"${dotOf("q.vec", "c.vec")} / (sqrt(q.nsq) * sqrt(c.nsq))"
    s"""WITH $vecsSql,
       cents AS (SELECT vec_id AS cent_id, vec AS cvec, nsq AS cn
                 FROM n WHERE vec_id % $IvfCentroidEvery = 0),
       corp AS (SELECT * FROM n
                WHERE vec_id % $IvfDeleteMod <> $IvfDeleteRem),
       cassign AS (
         SELECT vid, vec, nsq, cell FROM (
           SELECT n.vec_id AS vid, n.vec, n.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY n.vec_id
                    ORDER BY $assignCos DESC, c.cent_id ASC) AS rn
           FROM corp n, cents c) t
         WHERE rn = 1),
       qassign AS (
         SELECT vid, vec, nsq, cell FROM (
           SELECT q.vec_id AS vid, q.vec, q.nsq, c.cent_id AS cell,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY $qassignCos DESC, c.cent_id ASC) AS rn
           FROM (SELECT * FROM n WHERE vec_id % $QueryMod = 0) q, cents c) t
         WHERE rn = 1),
       scored AS (
         SELECT q.vid AS q_id, c.vid AS vec_b, $searchCos AS cosine
         FROM qassign q JOIN cassign c
           ON q.cell = c.cell AND q.vid <> c.vid)
       SELECT q_id, rnk, vec_b AS neighbor_id
       FROM (SELECT q_id, vec_b,
               CAST(row_number() OVER (PARTITION BY q_id
                 ORDER BY cosine DESC, vec_b) AS INTEGER) AS rnk
             FROM scored) r
       WHERE rnk <= $TopK"""
  }

  /** TOP USER JOURNEYS: the 20 most common consecutive event-type
    * TRIGRAMS across users — where ext_events_markov gives one-step
    * transition probabilities, this surfaces the actual multi-step
    * paths (browse→cart→purchase vs browse→cart→abandon is THE
    * product question a first-order matrix cannot answer). Per-user
    * ordering is total ((ts, event_id) — same-instant events cannot
    * reorder across engines); the corpus-sized step is ONE user_id
    * window pass, the trigram rollup is ≤ |types|³ rows, top-20 is
    * TakeOrderedAndProject.
    */
  private val PathTopK = 20

  private def eventsPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(w))
      .withColumn("e3", lead(col("e1"), 2).over(w))
      .where(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3").agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("e1").asc, col("e2").asc,
        col("e3").asc)
      .limit(PathTopK)
  }

  private val eventsPathsSql =
    s"""WITH p AS (
         SELECT event_type AS e1,
                lead(event_type, 1) OVER w AS e2,
                lead(event_type, 2) OVER w AS e3
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
       FROM p WHERE e3 IS NOT NULL
       GROUP BY 1, 2, 3
       ORDER BY n_paths DESC, e1, e2, e3 LIMIT $PathTopK"""

  /** HILBERT layout audit over the same (user, day) dims as
    * ext_layout_zorder — the curve-quality comparison a table-
    * maintenance job runs before choosing its clustering key:
    * consecutive Hilbert values are always grid neighbors, so
    * equal-width buckets cover tighter rectangles than Morton's
    * power-of-two jumps. Same output shape as the z-order audit, so
    * the per-file rectangles compare row for row; 16 unrolled
    * integer-CASE steps, repeated verbatim in the oracle.
    */
  private def layoutHilbert(s: SparkSession, d: String): DataFrame =
    Layout.hilbertAudit(
      Tables.events(s, d)
        .select(col("user_id"), expr(s"ts div $ZDayNs").as("day")),
      "user_id", "day")

  private lazy val layoutHilbertSql = {
    val steps = ((16 - 1) to 0 by -1).map { i =>
      val sVal = 1L << i
      val rx = s"(x & $sVal) > 0"
      val ry = s"(y & $sVal) > 0"
      s"""h$i AS (
           SELECT user_id, day,
             CASE WHEN NOT ($ry)
                  THEN (CASE WHEN $rx THEN $sVal - 1 - (y & ${sVal - 1})
                             ELSE y & ${sVal - 1} END)
                  ELSE x & ${sVal - 1} END AS x,
             CASE WHEN NOT ($ry)
                  THEN (CASE WHEN $rx THEN $sVal - 1 - (x & ${sVal - 1})
                             ELSE x & ${sVal - 1} END)
                  ELSE y & ${sVal - 1} END AS y,
             d + $sVal * $sVal *
               (CASE WHEN NOT ($rx) AND NOT ($ry) THEN 0
                     WHEN NOT ($rx) THEN 1
                     WHEN NOT ($ry) THEN 3
                     ELSE 2 END) AS d
           FROM h${i + 1})"""
    }.mkString(",\n")
    s"""WITH h16 AS (
         SELECT user_id, epoch_ns(ts) // $ZDayNs AS day,
                user_id & 65535 AS x,
                (epoch_ns(ts) // $ZDayNs) & 65535 AS y,
                CAST(0 AS BIGINT) AS d
         FROM events),
       $steps
       SELECT d // 1024 AS hbucket, CAST(count(*) AS BIGINT) AS n_rows,
              min(user_id) AS a_min, max(user_id) AS a_max,
              min(day) AS b_min, max(day) AS b_max
       FROM h0 GROUP BY 1"""
  }

  override val queries: Seq[GQuery] = Seq(
    GQuery("ext_text_stats", textStats, Some(textStatsSql), "token/type/BPE-ish counts + quality score"),
    GQuery("ext_text_langid", textLangId, Some(textLangIdSql), "n-gram-heuristic language ID"),
    GQuery("ext_text_fingerprint", textFingerprint, Some(textFingerprintSql), "rolling-hash fingerprint"),
    GQuery("ext_text_tfidf", textTfidf, Some(textTfidfSql), "top-k TF-IDF terms per doc (round-then-rank)"),
    GQuery("ext_text_topterms", textTopTerms, Some(textTopTermsSql), "top terms per language"),
    GQuery("ext_text_zipf", textZipf, Some(textZipfSql), "Zipf slope + r2 of the top-100 vocabulary (integer-grid log-log regression)"),
    GQuery("ext_text_colloc", textColloc, Some(textCollocSql), "PMI collocations: top-50 adjacent pairs on the 1e6 log grid, min count 5"),
    GQuery("ext_text_bpe_merges", textBpeMerges, Some(textBpeMergesSql), "BPE first-merge adjacent-char-pair frequencies over the distinct-word vocab"),
    GQuery("ext_text_bpe_train", textBpeTrain, Some(textBpeTrainSql), "iterated BPE merge training: K argmax-merge-recount rounds over the vocab"),
    GQuery("ext_text_bpe_apply", textBpeApply, Some(textBpeApplySql), "tokenizer application: per-source token budget under the K-merge trained vocab"),
    GQuery("ext_text_redact", textRedact, Some(textRedactSql), "number-run redaction + redacted-text fingerprint"),
    GQuery("ext_text_boilerplate", textBoilerplate, Some(textBoilerplateSql), "cross-doc repeated 3-gram (boilerplate) detection"),
    GQuery("ext_text_bigram_lm", textBigramLm, Some(textBigramLmSql), "corpus-model bigram log-prob (perplexity-filter) scoring"),
    GQuery("ext_text_repetition", textRepetition, Some(textRepetitionSql), "intra-doc repeated-n-gram quality profile (zero-shuffle fold)"),
    GQuery("ext_text_classify", textClassify, Some(textClassifySql), "hashed-feature linear classifier inference (vocabulary-free, zero-shuffle)"),
    GQuery("ext_text_bm25", textBm25, Some(textBm25Sql), "BM25 top-20 against a fixed term query (broadcast stats, TakeOrdered)"),
    GQuery("ext_corpus_cube", corpusCube, Some(corpusCubeSql), "CUBE grouping-set corpus stats"),
    GQuery("ext_corpus_split", corpusSplit, Some(corpusSplitSql), "deterministic hash-bucket train/val/test split"),
    GQuery("ext_split_kfold", splitKfold, Some(splitKfoldSql), "stratified k-fold assignment audit: salted id-hash folds, per-stratum balance in ppm"),
    GQuery("ext_corpus_sample", corpusSample, Some(corpusSampleSql), "stratified weighted-quota sample (deterministic salted-hash draw)"),
    GQuery("ext_corpus_pack", corpusPack, Some(corpusPackSql), "sequence packing into fixed context budgets (per-pack occupancy)"),
    GQuery("ext_corpus_curate", corpusCurate, Some(corpusCurateSql), "clean -> sample -> pack: the full curation pipeline, one DAG"),
    GQuery("ext_corpus_lineage", corpusLineage, Some(corpusLineageSql), "per-doc curation stage bitmask (prefilter|canonical|sampled|spanning) rollup"),
    GQuery("ext_corpus_deciles", corpusDeciles, Some(corpusDecilesSql), "per-language quality deciles (histogram form, value-based buckets)"),
    GQuery("ext_corpus_pplfilter", corpusPplFilter, Some(corpusPplFilterSql), "CCNet perplexity-band filter: bigram-LM deciles, keep-middle, mass telemetry"),
    GQuery("ext_corpus_dsir", corpusDsir, Some(corpusDsirSql), "DSIR hashed-unigram importance scores vs the target language slice"),
    GQuery("ext_corpus_entropy", corpusEntropy, Some(corpusEntropySql), "per-source unigram entropy + type-token ratio (lexical diversity telemetry)"),
    GQuery("ext_corpus_gini", corpusGini, Some(corpusGiniSql), "per-source Gini concentration of document lengths (token-mass inequality)"),
    GQuery("ext_corpus_mix", corpusMix, Some(corpusMixSql), "temperature-scaled domain mixture weights (sqrt flatten, integer-grid normalizer)"),
    GQuery("ext_corpus_chunk", corpusChunk, Some(corpusChunkSql), "sliding-window chunking into overlapping context windows (zero-shuffle explode)"),
    GQuery("ext_layout_zorder", layoutZorder, Some(layoutZorderSql), "Z-order layout audit: Morton-bucket rectangles over (user, day)"),
    GQuery("ext_layout_hilbert", layoutHilbert, Some(layoutHilbertSql), "Hilbert layout audit: neighbor-continuous curve buckets over (user, day), 16 unrolled steps"),
    GQuery("ext_layout_manifest", layoutManifest, Some(layoutManifestSql), "zone-map manifest: per-file footer stats + skippable flag, z-order vs natural layout"),
    GQuery("ext_layout_shards", layoutShards, Some(layoutShardsSql), "export shard-balance audit: content-hashed shards, doc/mass balance ratios"),
    GQuery("ext_layout_compact", layoutCompact, Some(layoutCompactSql), "compaction planner: next-fit packing of partition cells into target-size files"),
    GQuery("ext_layout_zonemap", layoutZonemap, Some(layoutZonemapSql), "physical zone-map harvest: distributed parquet footer stats of a range-clustered write ≡ logical zone bounds"),
    GQuery("ext_layout_zorder_phys", layoutZorderPhys, Some(layoutZorderPhysSql), "physical Z-order audit: one footer read serves all three columns' chunk stats, both dims bounded per file"),
    GQuery("ext_corpus_epochs", corpusEpochs, Some(corpusEpochsSql), "epoch/repetition schedule from the temperature mixture (exact-integer budgets)"),
    GQuery("ext_corpus_drift", corpusDrift, Some(corpusDriftSql), "per-source unigram TV distance from the corpus mix (exact-integer drift)"),
    GQuery("ext_corpus_fences", corpusFences, Some(corpusFencesSql), "per-language Tukey outlier fences (exact quartiles off the histogram)"),
    GQuery("ext_dedup_exact", dedupExact, Some(dedupExactSql), "exact dedup w/ multiplicity"),
    GQuery("ext_dedup_jaccard", dedupJaccard, Some(dedupJaccardSql), "3-gram Jaccard near-dup pairs"),
    GQuery("ext_dedup_contain", dedupContain, Some(dedupContainSql), "overlap-coefficient (containment) pairs — quote-inclusion dups"),
    GQuery("ext_dedup_tfidfcos", dedupTfidfCos, Some(dedupTfidfCosSql), "top-k TF-IDF signature cosine pairs (integer-grid exact sums)"),
    GQuery("ext_dedup_contaminate", dedupContaminate, Some(dedupContaminateSql), "cross-corpus benchmark decontamination (train x test shingle coverage)"),
    GQuery("ext_dedup_bloom", dedupBloom, Some(dedupBloomSql), "bloom-filter decontamination (broadcast eval bitset, map-side probes, FP-exact oracle)"),
    GQuery("ext_dedup_bloom_fpr", dedupBloomFpr, Some(dedupBloomFprSql), "measured bloom FPR: probed vs exact membership per distinct train shingle, fill^k estimate"),
    GQuery("ext_dedup_incremental", dedupIncremental, Some(dedupIncrementalSql), "incremental MinHash dedup: new batch probed against the stored corpus index"),
    GQuery("ext_dedup_incr_persist", dedupIncrPersist, Some(dedupIncrementalSql), "persist-and-probe incremental dedup: band index written to parquet, re-read, probed"),
    GQuery("ext_dedup_incr_bucketed", dedupIncrBucketed, Some(dedupIncrementalSql), "bucketed persisted band index: probe join exchange-free on the stored side"),
    GQuery("ext_dedup_spans", dedupSpans, Some(dedupSpansSql), "verbatim-span detection: exact substring overlaps via positional-gram diagonals"),
    GQuery("ext_cc_triangles", ccTriangles, Some(ccTrianglesSql), "triangle participation on the dup graph (degree-ordered wedge join)"),
    GQuery("ext_cc_labelprop", ccLabelprop, Some(ccLabelpropSql), "synchronous LPA communities on the dup graph: mode-of-neighbors, 3 unrolled rounds"),
    GQuery("ext_cc_bfs", ccBfs, Some(ccBfsSql), "template-radius histogram: multi-source BFS from degree hubs, 4 unrolled rounds, unreached = -1"),
    GQuery("ext_dedup_jaccard_capped", dedupJaccardCapped, Some(dedupJaccardCappedSql), "Jaccard with hot-shingle DF cap (scale path, exact verify)"),
    GQuery("ext_dedup_minhash", dedupMinhash, Some(dedupMinhashSql), "MinHash+LSH banding near-dup"),
    GQuery("ext_dedup_bandsweep", dedupBandSweep, Some(dedupBandSweepSql), "LSH band-sweep: candidate cost + pair recall at rows-per-band 1/2/4"),
    GQuery("ext_dedup_minhash_est", dedupMinhashEst, Some(dedupMinhashEstSql), "MinHash estimator-error audit: est vs exact Jaccard per candidate pair"),
    GQuery("ext_dedup_prcurve", dedupPrCurve, Some(dedupPrCurveSql), "MinHash P/R/F1 operating-point curve over the matching-perm threshold ladder"),
    GQuery("ext_dedup_incr2", dedupIncr2, Some(dedupIncr2Sql), "two-day index lifecycle: write, append day-1 admissions, probe day-2 batch"),
    GQuery("ext_dedup_simhash", dedupSimhash, Some(dedupSimhashSql), "SimHash banded near-dup"),
    GQuery("ext_dedup_embcos", dedupEmbCos, Some(dedupEmbCosSql), "embedding-cosine near-dup"),
    GQuery("ext_dedup_emblsh", dedupEmbLsh, Some(dedupEmbLshSql), "LSH-bucketed embedding near-dup (scale path)"),
    GQuery("ext_dedup_sweep", dedupSweep, Some(dedupSweepSql), "pairs -> cleaned corpus (greedy sweep)"),
    GQuery("ext_dedup_ensemble", dedupEnsemble, Some(dedupEnsembleSql), "detector-consensus near-dup votes (jaccard + minhash + simhash)"),
    GQuery("ext_dedup_minhash_fast",
      (s, d) => Dedup.minhashLshPairs(Tables.documents(s, d), "doc_id", "text",
        MinhashPerms, MinhashRows, MinhashTau, Dedup.XxHash),
      Some(dedupMinhashFastSql),
      "MinHash in XxHash mode — the production path (no global vocabulary " +
        "rank); gated against the EXACT pair set (100% band recall at this " +
        "operating point)"),
    GQuery("ext_ann_topk", annTopK, Some(annTopKSql), "brute-force cosine top-k"),
    GQuery("ext_ann_lsh", annLsh, Some(annLshSql), "hyperplane-LSH bucketed ANN"),
    GQuery("ext_ann_ivf", annIvf, Some(annIvfSql), "IVF coarse-quantizer ANN (nprobe=1)"),
    GQuery("ext_ann_hnsw", annHnsw, Some(annHnswSql), "graph ANN (HNSW-lite): entry level + border-crossing m-NN edges + fixed-round beam search"),
    GQuery("ext_ann_hnsw_sweep", annHnswSweep, Some(annHnswSweepSql), "recall-vs-beam curve for the graph path: the HNSW operating-point dial"),
    GQuery("ext_ann_hnsw_persist", annHnswPersist, Some(annHnswSql), "persisted graph index: vectors + edge list round-trip parquet, probe ≡ in-plan"),
    GQuery("ext_ann_hnsw_append", annHnswAppend, Some(annHnswAppendSql), "graph-index admission: stored-centroid assignment + leaderboard edge merge ≡ rebuild, surgical partition rewrite"),
    GQuery("ext_ann_hnsw_delete", annHnswDelete, Some(annHnswDeleteSql), "tombstone-masked graph probe: erasure on the graph serving structure, never returned nor scored"),
    GQuery("ext_ann_hnsw_compact", annHnswCompact, Some(annHnswDeleteSql), "tombstone compaction baked into storage: touched pcell partitions rewrite, side tables shed masked rows, probe runs UNMASKED — same oracle as the masked probe"),
    GQuery("ext_ann_ivf_persist", annIvfPersist, Some(annIvfSql), "persisted cell-partitioned IVF index probe (probed cells pruned at planning time), ≡ in-plan IVF"),
    GQuery("ext_ann_ivf_v2", annIvfV2, Some(annIvfSql), "persisted IVF probe through the graft-index DataSourceV2 table (claimed cell partition filter, post-pruning stats)"),
    GQuery("ext_ann_ivf_v2_filtered", annIvfV2Filtered, Some(annIvfV2FilteredSql), "filtered serving slice through the V2 table: pushed data filters (one on a non-projected scratch column) decoded on the vectorized lane, per-cell integer aggregates"),
    GQuery("ext_events_index_ts", eventsIndexTs, Some(eventsIndexTsSql), "event-time serving table: TIMESTAMP column decoded through the graft-index connector under a pushed filter, epoch-micros aggregates per bucket"),
    GQuery("ext_events_index_or", eventsIndexOr, Some(eventsIndexOrSql), "two-level Hive layout through the connector (depth-ordered (bucket, event_type) chain) under an OR-of-ranges pruning hint on value, re-filtered by Spark; exact-cents aggregates per chain"),
    GQuery("ext_events_index_ne", eventsIndexNe, Some(eventsIndexNeSql), "`<>` through the connector: Not(EqualTo) as a pruning hint (Spark's ParquetFilters notEq), Spark re-filters above for SQL null semantics; exact-cents aggregates"),
    GQuery("ext_layout_lineage", layoutLineage, Some(layoutLineageSql), "provenance audit via the _file lineage metadata column: per-file rows/cents folded to the bucket parsed from the path; oracle pins one file per bucket"),
    GQuery("ext_events_index_prefix", eventsIndexPrefix, Some(eventsIndexPrefixSql), "LIKE-prefix + NOT IN hints through the connector: Spark's ParquetFilters prefix predicate and notEq legs prune, Spark re-filters above; exact-cents aggregates"),
    GQuery("ext_events_index_date", eventsIndexDate, Some(eventsIndexDateSql), "DATE data column through the connector: range + `<>` claims as INT32 epoch-day compares with row-group pruning, day-number aggregates, exact cents"),
    GQuery("ext_events_index_datepart", eventsIndexDatePart, Some(eventsIndexDatePartSql), "DATE partition directories (ed=YYYY-MM-DD) through the connector: DateType inference + planning-time directory pruning on a date predicate"),
    GQuery("ext_docs_index_binary", docsIndexBinary, Some(docsIndexBinarySql), "BINARY payloads through the connector: multimodal-shape blobs decoded byte-exact on the vectorized lane, md5 fingerprints + byte totals per bucket"),
    GQuery("ext_events_index_decimal", eventsIndexDecimal, Some(eventsIndexDecimalSql), "DECIMAL(24,2) money column (FLBA physical) + SMALLINT bucket through the connector: short `<>` as a pruning hint, decimal decode on Spark's vectorized reader, exact-cents fold"),
    GQuery("ext_events_index_nested", eventsIndexNested, Some(eventsIndexNestedSql), "nested struct + map columns through the connector (mounted-lake-table shape): claims refused wholesale, delegated-lane nested decode, Spark re-filter; cents folded from the struct field and the map value independently"),
    GQuery("ext_events_index_tsrange", eventsIndexTsRange, Some(eventsIndexTsRangeSql), "page-pruned range probe: sorted column, small pages, range as a pruning hint — the column index sheds non-matching pages inside surviving row groups in Spark's vectorized reader; exact-cents fold"),
    GQuery("ext_ann_ivf_cat", annIvfCat, Some(annIvfSql), "catalog-routed IVF probe: the index resolves by NAME through the read-only GraftIndexCatalog (no paths in the query)"),
    GQuery("ext_ann_hnsw_cat", annHnswCat, Some(annHnswSql), "catalog-routed graph probe: vecs + edges resolved by NAME through the GraftIndexCatalog"),
    GQuery("ext_ann_hnsw_v2", annHnswV2, Some(annHnswSql), "persisted graph probe through the graft-index DataSourceV2 table (projection-pruned edge scan)"),
    GQuery("ext_ann_ivf_append", annIvfAppend, Some(annIvfAppendSql), "IVF admission: append with stored centroids (no retrain), probe the grown index"),
    GQuery("ext_ann_ivf_delete", annIvfDelete, Some(annIvfDeleteSql), "index erasure: tombstoned cells rewritten in place (dynamic overwrite), quantizer unretained, probe ≡ filtered rebuild"),
    GQuery("ext_ann_ivf2", annIvf2, Some(annIvf2Sql), "multi-probe IVF ANN (nprobe=2, the recall knob)"),
    GQuery("ext_ann_ivf_kmeans", annIvfKmeans, Some(annIvfKmeansSql), "k-means-refined IVF ANN (2 Lloyd rounds on the exact integer grid)"),
    GQuery("ext_ann_recall", annRecall, Some(annRecallSql), "recall@k of each ANN method vs brute-force ground truth"),
    GQuery("ext_ann_int8recall", annInt8Recall, Some(annInt8RecallSql), "recall@k of asymmetric search over int8-reconstructed corpus vectors"),
    GQuery("ext_ann_ivf_probes", annIvfProbes, Some(annIvfProbesSql), "recall-vs-nprobe curve: IVF at 1/2/4/8 probes vs brute-force truth"),
    GQuery("ext_ann_matryoshka", annMatryoshka, Some(annMatryoshkaSql), "recall@k of prefix-dim (matryoshka) search vs full-dim truth"),
    GQuery("ext_ann_randproj", annRandProj, Some(annRandProjSql), "recall@k of JL sign-flip random projection vs full-dim truth"),
    GQuery("ext_ann_knnclass", annKnnClass, Some(annKnnClassSql), "kNN majority-vote label accuracy per class (embedding-quality probe)"),
    GQuery("ext_ann_firstrel", annFirstRel, Some(annFirstRelSql), "first same-label neighbor rank histogram (exact-integer MRR stand-in)"),
    GQuery("ext_ann_ndcg", annNdcg, Some(annNdcgSql), "micro-averaged nDCG@k per ANN method (integer-grid discounts, label relevance)"),
    GQuery("ext_emb_centroids", embCentroids, Some(embCentroidsSql), "per-label centroid cosine vs the global centroid (semantic drift, exact grid sums)"),
    GQuery("ext_ann_triplets", annTriplets, Some(annTripletsSql), "contrastive triplet mining: anchor + nearest positive + hard negative"),
    GQuery("ext_corpus_qnorm", corpusQnorm, Some(corpusQnormSql), "per-source percentile-rank quality normalization (cross-source calibration)"),
    GQuery("ext_dedup_semantic", dedupSemantic, Some(dedupSemanticSql), "SemDeDup: k-means clusters prune the cosine pair search to cluster-mates"),
    GQuery("ext_ann_pq", annPq, Some(annPqSql), "angular product-quantization ANN (codes + reconstruction scoring)"),
    GQuery("ext_ann_ivfpq", annIvfPq, Some(annIvfPqSql), "IVF-PQ: cell-pruned candidates scored against code reconstructions"),
    GQuery("ext_ann_rerank", annRerank, Some(annRerankSql), "two-stage retrieval: IVF-PQ top-c candidates exact-cosine re-ranked to top-k"),
    GQuery("ext_search_mmr", searchMmr, Some(searchMmrSql), "MMR diversification: greedy relevance-vs-redundancy picks over the exact top-8"),
    GQuery("ext_search_phrase", searchPhrase, Some(searchPhraseSql), "positional-index phrase search: (doc, pos+1) postings self-join, top-20 by occurrences"),
    GQuery("ext_pricing_q4", pricingQ4, Some(pricingQ4Sql), "TPC-H Q4-shaped EXISTS: late-shipment orders per priority via compound-condition semi join"),
    GQuery("ext_search_hybrid", searchHybrid, Some(searchHybridSql), "hybrid retrieval: dense cosine + lexical Jaccard legs fused by reciprocal rank"),
    GQuery("ext_ann_filtered", annFiltered, Some(annFilteredSql), "filtered vector search: pre-filter vs post-filter within the query's label"),
    GQuery("ext_emb_quant", embQuant, Some(embQuantSql), "per-vector int8 quantization audit (scale, max reconstruction error, saturation)"),
    GQuery("ext_emb_silhouette", embSilhouette, Some(embSilhouetteSql), "per-vector simplified silhouette + assignment margin over the coarse quantizer"),
    GQuery("ext_emb_pca", embPca, Some(embPcaSql), "top principal component: integer-grid power iteration, 8 unrolled rounds, exact BIGINT Gram"),
    GQuery("ext_emb_pca_project", embPcaProject, Some(embPcaProjectSql), "per-label projection onto the top component: exact BIGINT dot on composed grids"),
    GQuery("ext_cc_components", ccComponents, Some(ccComponentsSql), "transitive near-dup clusters (min-label propagation, unrolled oracle)"),
    GQuery("ext_split_leakfree", splitLeakfree, Some(splitLeakfreeSql), "leakage-safe split: whole near-dup clusters per split, cross-split pairs audited"),
    GQuery("ext_dedup_canonical", dedupCanonical, Some(dedupCanonicalSql), "quality-aware canonical selection: argmax-quality survivor per near-dup cluster"),
    GQuery("ext_dedup_prf", dedupPrf, Some(dedupPrfSql), "detector precision/recall/F1 vs exact truth (one shared edge build)"),
    GQuery("ext_privacy_kanon", privacyKanon, Some(privacyKanonSql), "k-anonymity audit: violating quasi-id classes and row fractions per threshold"),
    GQuery("ext_privacy_ldiv", privacyLdiv, Some(privacyLdivSql), "l-diversity audit: distinct sensitive bands per quasi-id class, violation sweep"),
    GQuery("ext_privacy_tclose", privacyTclose, Some(privacyTcloseSql), "t-closeness audit: per-class total-variation drift vs global sensitive distribution"),
    GQuery("ext_privacy_dp", privacyDp, Some(privacyDpSql), "Laplace-noised histogram release: inverse-CDF noise on the 1e6 grid, deterministic PRNG stand-in"),
    GQuery("ext_events_describe", eventsDescribe, Some(eventsDescribeSql), "pandas describe() per group: exact-grid mean/std + order-stat quartiles"),
    GQuery("ext_events_props", eventsProps, Some(eventsPropsSql), "semi-structured props through VARIANT: try_parse_json once, typed variant_get paths, integer-exact rollup"),
    GQuery("ext_cc_kcore", ccKcore, Some(ccKcoreSql), "k-core of the dup graph: iterative degree peel, unrolled oracle"),
    GQuery("ext_text_cdc", textCdc, Some(textCdcSql), "content-defined chunking: rolling-hash boundaries, chunk-dedup savings per source"),
    GQuery("ext_cc_sweep", ccSweep, Some(ccSweepSql), "transitive dedup: one survivor per converged component"),
    GQuery("ext_cc_pagerank", ccPageRank, Some(ccPageRankSql), "integer-exact PageRank authority over the near-dup graph"),
    GQuery("ext_range_join", rangeJoin, Some(rangeJoinSql), "binned range join (clicks within 1h before purchase)"),
    GQuery("ext_range_sql", rangeSqlSurface, Some(rangeJoinSql), "binned range join written in plain SQL: graft_range marker rewritten to the explode-into-bins equi-join"),
    GQuery("ext_skew_salted", skewSalted, Some(skewSaltedSql), "salted skew join ≡ plain equi-join (hot-key shear)"),
    GQuery("ext_skew_sql", skewSqlSurface, Some(skewSaltedSql), "salted skew join written in plain SQL: graft_salted marker rewritten to the whole-row-hash shear"),
    GQuery("ext_events_quantiles", eventsQuantiles, Some(eventsQuantilesSql), "exact per-group percentiles (approx_percentile at scale)"),
    GQuery("ext_events_winsor", eventsWinsor, Some(eventsWinsorSql), "per-group winsorization at [p05,p95]: clipped mass and mean before/after"),
    GQuery("ext_events_markov", eventsMarkov, Some(eventsMarkovSql), "first-order event-transition matrix: per-user consecutive pairs, row-normalized"),
    GQuery("ext_events_paths", eventsPaths, Some(eventsPathsSql), "top-20 consecutive event trigrams: the multi-step journeys a first-order matrix can't see"),
    GQuery("ext_events_attrib", eventsAttrib, Some(eventsAttribSql), "last-touch attribution: purchase -> latest click within 24h, daily rate + latency"),
    GQuery("ext_events_touchpoints", eventsTouchpoints, Some(eventsTouchpointsSql), "multi-touch path-length distribution per day (binned range join, 24h lookback)"),
    GQuery("ext_events_anomaly", eventsAnomaly, Some(eventsAnomalySql), "trailing-3-day volume anomaly flags: integer spike/drop rules per type-day"),
    GQuery("ext_events_cusum", eventsCusum, Some(eventsCusumSql), "CUSUM level-shift changepoint per type: BIGINT drift argmax, before/after means"),
    GQuery("ext_events_ltv", eventsLtv, Some(eventsLtvSql), "cohort LTV triangle: signup cohorts x age, cumulative cent-exact revenue per user"),
    GQuery("ext_events_rfm", eventsRfm, Some(eventsRfmSql), "RFM segmentation: tie-coherent quartile scores off distinct-value frames, per-cell rollup"),
    GQuery("ext_events_rfm_grid", eventsRfmGridQ, Some(eventsRfmGridSql), "RFM with the ValueGrid coarsening knob: $5 cent-grid bounds the monetary score frame at any revenue distribution"),
    GQuery("ext_ts_acf", tsAcf, Some(tsAcfSql), "daily-count autocorrelation at lags 1..7: exact cross-multiplied BIGINT residuals"),
    GQuery("ext_ts_dow", tsDow, Some(tsDowSql), "day-of-week seasonality strength: eta2 variance decomposition on the integer grid"),
    GQuery("ext_ts_forecast", tsForecast, Some(tsForecastSql), "seasonal-naive lag-7 backtest vs naive-1: per-type MAE + skill from integer sums"),
    GQuery("ext_stats_analyze", statsAnalyze, Some(statsAnalyzeSql), "ANALYZE-style per-column stats (count/nulls/ndv/min/max) in one fused scan"),
    GQuery("ext_incr_agg", incrAgg, Some(incrAggSql), "incremental aggregate maintenance: state ⊕ delta ≡ full recompute"),
    GQuery("ext_incr_topk", incrTopk, Some(incrTopkSql), "mergeable top-k leaderboard: split-batch states merge to the one-shot top-k"),
    GQuery("ext_pricing_summary", pricingSummary, Some(pricingSummarySql), "TPC-H Q1-shaped fact aggregate (cent-exact, map-side partials)"),
    GQuery("ext_events_retention", eventsRetention, Some(eventsRetentionSql), "cohort retention grid (first-week cohorts x week offset)"),
    GQuery("ext_events_novelty", eventsNovelty, Some(eventsNoveltySql), "per-day novelty-rate drift monitor (first-seen key fraction)"),
    GQuery("ext_events_wau", eventsWau, Some(eventsWauSql), "DAU / 7-day WAU / stickiness engagement telemetry"),
    GQuery("ext_events_mad", eventsMad, Some(eventsMadSql), "volume-anomaly days via median ± 3·MAD (exact lower-median order stats)"),
    GQuery("ext_events_cap", eventsCap, Some(eventsCapSql), "ingest quota telemetry: shed rate of a first-N-per-(user,day) cap"),
    GQuery("ext_dedup_srcmatrix", dedupSourceMatrix, Some(dedupSourceMatrixSql), "cross-source duplication matrix (near-dup pairs by unordered source pair)"),
    GQuery("ext_events_funnel", eventsFunnel, Some(eventsFunnelSql), "staged conversion funnel via prefix-max windows"),
    GQuery("ext_reconcile_full", reconcileFull, Some(reconcileFullSql), "snapshot reconciliation (full outer join, zero-filled)"),
    GQuery("ext_mm_props", mmProps, Some(mmPropsSql), "JSON props metadata extraction"),
    GQuery("ext_mm_resize", mmResize, Some(mmResizeSql), "aspect-preserving resize stage (stub resample, real plumbing)"),
    GQuery("ext_mm_decode", mmDecode, Some(mmDecodeSql), "binary payload + stub decode plumbing"),
    GQuery("ext_mm_frames", mmFrames, Some(mmFramesSql), "frame sampling with per-frame fingerprints"),
    GQuery("ext_mm_framedup", mmFrameDup, Some(mmFrameDupSql), "media near-dup by frame-fingerprint collisions (video-dedup shape)"),
    GQuery("ext_corpus_clean", corpusClean, Some(corpusCleanSql), "quality+lang+dedup corpus clean (north-star composite)"),
    GQuery("ext_ts_rolling", tsRolling, Some(tsRollingSql), "window frames: running sum, trailing avg, lag gap per user"),
    GQuery("ext_corpus_gsets", corpusGsets, Some(corpusGsetsSql), "explicit GROUPING SETS slices w/ grouping_id"),
    GQuery("ext_asof_join", asof, Some(asofSql), "as-of join via union+ordered window"),
    GQuery("ext_asof_exec", asofExec, Some(asofSql), "as-of join via the custom AsofJoinExec merge operator (physical twin of ext_asof_join)"),
    GQuery("ext_asof_fwd", asofFwd, Some(asofFwdSql), "forward as-of with 1h tolerance via AsofJoinExec (next action after the event)"),
    GQuery("ext_asof_fwd_sql", asofFwdSqlSurface, Some(asofFwdSql), "forward+tolerance as-of in plain SQL: graft_asof direction/tolerance arg list through the marker rewrite"),
    GQuery("ext_asof_nearest", asofNearest, Some(asofNearestSql), "nearest as-of via AsofJoinExec (closer of backward/forward, ties -> backward)"),
    GQuery("ext_asof_bcast", asofBcast, Some(asofBcastSql), "SCD2 point-in-time enrichment via BroadcastAsofJoinExec (no shuffle/sort on the fact side)"),
    GQuery("ext_interval_exec", intervalExec, Some(intervalSql), "SCD2 temporal alignment via the sweep-line IntervalJoinExec (validity-chain overlap pairs)"),
    GQuery("ext_interval_bcast", intervalBcast, Some(intervalSql), "temporal alignment with the stats-chosen broadcast interval join (auto physical choice)"),
    GQuery("ext_asof_sql", asofSqlSurface, Some(asofSql), "as-of join written in plain SQL: graft_asof ON-clause marker rewritten to AsofJoinPlan by MarkerJoinRewrite"),
    GQuery("ext_interval_sql", intervalSqlSurface, Some(intervalSql), "interval overlap join written in plain SQL: graft_overlaps marker rewritten to IntervalJoinPlan"),
    GQuery("ext_temporal_pipeline", temporalPipeline, Some(temporalPipelineSql), "point-in-time feature join: as-of enrich -> point-in-interval align -> per-user aggregate, chained through both custom execs"),
    GQuery("ext_scd2_cdc", scd2Cdc, Some(scd2CdcSql), "CDC fold with the delete lane: I/U/D changefeed into the SCD2 dimension, soft-delete expirations"),
    GQuery("ext_sessionize", sessionized, Some(sessionizedSql), "gap-based sessionization (lag + prefix sum)"),
    GQuery("ext_sessions_stats", sessionStats, Some(sessionStatsSql), "per-day session quality: bounce rate, events/session, mean+median duration"),
    GQuery("ext_events_pareto", eventsPareto, Some(eventsParetoSql), "whale concentration: exact top-k% revenue shares off the distinct-value frame"),
    GQuery("ext_events_pareto_grid", eventsParetoGridQ, Some(eventsParetoGridSql), "Pareto with the ValueGrid coarsening knob: grid-bounded ordering over true revenue mass"),
    GQuery("ext_sessionize_native", sessionNative, Some(sessionNativeSql), "native session_window sessions: per (user, session) count + start, exclusive-end gap semantics"),
    GQuery("ext_stream_window", streamWindow, Some(streamWindowSql), "tumbling-window agg (batch twin)"),
    GQuery("ext_stream_sliding", streamSliding, Some(streamSlidingSql), "sliding-window agg (batch twin): 10-min windows every 5, each event in 2 windows"),
    GQuery("ext_stream_approx", streamWindowApprox, Some(streamWindowApproxSql), "windowed approx-distinct users via the deterministic lincount sketch (HLL++ flavor spec-asserted)"),
    GQuery("ext_dedup_editverify", dedupEditVerify, Some(dedupEditVerifySql), "two-stage fuzzy dedup: MinHash candidates verified by normalized Levenshtein similarity"),
    GQuery("ext_dedup_ngramcov", dedupNgramCov, Some(dedupNgramCovSql), "per-doc duplicated-ngram coverage (linear-cost doc-level contamination signal)"),
    GQuery("ext_sketch_lincount", sketchLincount, Some(sketchLincountSql), "linear-counting distinct sketch with exact-count audit (deterministic bitmap)"),
    GQuery("ext_sketch_cms", sketchCms, Some(sketchCmsSql), "count-min heavy-hitter estimates vs exact top-20 word counts"),
    GQuery("ext_classify_train", classifyTrain, Some(classifyTrainSql), "batch-perceptron classifier training over hashed features (3 oracle-unrolled rounds)"),
    GQuery("ext_ts_resample", tsResample, Some(tsResampleSql), "calendar resample + gap fill: dense day spine, zero-filled counts, forward-filled values"),
    GQuery("ext_classify_apply", classifyApply, Some(classifyApplySql), "train-then-apply: freshly-trained perceptron scores the corpus, per-source rollup"),
    GQuery("ext_sketch_quantile", sketchQuantile, Some(sketchQuantileSql), "fixed-grid histogram quantile sketch vs exact percentile (P50/P90/P99 audit)"),
    GQuery("ext_split_balance", splitBalance, Some(splitBalanceSql), "split distribution-balance audit: per-split language share vs corpus share"),
    GQuery("ext_corpus_snapdiff", corpusSnapdiff, Some(corpusSnapdiffSql), "snapshot diff by content hash: added/removed/changed/unchanged between corpus vintages"),
    GQuery("ext_sketch_lincount2", sketchLincount2, Some(sketchLincount2Sql), "persist-and-merge sketch lifecycle: day-1 bitmap written/re-read, OR-merged with day-2"),
    GQuery("ext_sketch_overlap", sketchOverlap, Some(sketchOverlapSql), "pairwise audience overlap via lincount inclusion-exclusion, exact-overlap audit"),
    GQuery("ext_pricing_q3", pricingQ3, Some(pricingQ3Sql), "TPC-H Q3-shaped shipping-priority top-10: broadcast dim semi-join + one fact-fact shuffle, cent-exact revenue"),
    GQuery("ext_pricing_q18", pricingQ18, Some(pricingQ18Sql), "TPC-H Q18-shaped large-volume orders: aggregate-then-semi-reduce, exact BIGINT quantity sums"),
    GQuery("ext_pricing_q2", pricingQ2, Some(pricingQ2Sql), "TPC-H Q2-shaped cheapest-supplier argmin: window top-1 vs doubly-correlated subquery oracle"),
    GQuery("ext_pricing_q5", pricingQ5, Some(pricingQ5Sql), "TPC-H Q5-shaped local-supplier volume: broadcast-chain star join, one fact-fact shuffle"),
    GQuery("ext_pricing_q10", pricingQ10, Some(pricingQ10Sql), "TPC-H Q10-shaped returned-item reporting: group-then-enrich, top-20 heap"),
    GQuery("ext_pricing_q14", pricingQ14, Some(pricingQ14Sql), "TPC-H Q14-shaped promo revenue share: conditional aggregation, one rounded division"),
    GQuery("ext_pricing_q19", pricingQ19, Some(pricingQ19Sql), "TPC-H Q19-shaped disjunctive-predicate revenue: OR-of-ANDs with part-side residue pushed to the scan"),
    GQuery("ext_pricing_q21", pricingQ21, Some(pricingQ21Sql), "TPC-H Q21-shaped sole-late-supplier count: EXISTS+NOT-EXISTS oracle vs one-aggregate rewrite"),
    GQuery("ext_pricing_q22", pricingQ22, Some(pricingQ22Sql), "TPC-H Q22-shaped dormant-rich customers: cross-multiplied integer avg threshold + anti-join"),
    GQuery("ext_pricing_q7", pricingQ7, Some(pricingQ7Sql), "TPC-H Q7-shaped volume shipping: bilateral nation revenue per ship year, one fact-fact shuffle"),
    GQuery("ext_pricing_q8", pricingQ8, Some(pricingQ8Sql), "TPC-H Q8-shaped market share: conditional num/denominator off one joined frame, per-year rounded division"),
    GQuery("ext_pricing_q13", pricingQ13, Some(pricingQ13Sql), "TPC-H Q13-shaped order-count distribution: LEFT join keeps the zero-order bucket, two-level aggregate"),
    GQuery("ext_pricing_q15", pricingQ15, Some(pricingQ15Sql), "TPC-H Q15-shaped top supplier: broadcast scalar-max attach, exact-cents ties survive"),
    GQuery("ext_pricing_q17", pricingQ17, Some(pricingQ17Sql), "TPC-H Q17-shaped small-quantity loss: slice-sized window, 5·q·n < sum_q integer threshold"),
    GQuery("ext_pricing_q6", pricingQ6, Some(pricingQ6Sql), "TPC-H Q6-shaped forecasting revenue: single pushed-predicate scan, integer-grid discount band"),
    GQuery("ext_pricing_q9", pricingQ9, Some(pricingQ9Sql), "TPC-H Q9-shaped product profit: two broadcast dim chains, signed cent-exact sums, LIKE pushed as StartsWith"),
    GQuery("ext_pricing_q16", pricingQ16, Some(pricingQ16Sql), "TPC-H Q16-shaped supplier-count distribution: distinct-before-rollup pairs, anti-join exclusion"),
    GQuery("ext_sketch_rollup", sketchRollup, Some(sketchRollupSql), "hierarchical sketch rollup: per-day lincount states OR-merged up the time hierarchy"),
    GQuery("ext_sketch_joinsize", sketchJoinsize, Some(sketchJoinsizeSql), "join-size estimation from count-min inner products vs exact sum(cntA*cntB)"),
    GQuery("ext_classify_calib", classifyCalib, Some(classifyCalibSql), "classifier calibration audit: margin bands vs empirical positive rate (reliability diagram)"),
    GQuery("ext_skew_profile", skewProfile, Some(skewProfileSql), "join-key skew profile: max/mean load ratio + top-k heavy-hitter mass share"),
    GQuery("ext_events_decay", eventsDecay, Some(eventsDecaySql), "time-decayed activity mass: exact scaled-BIGINT half-life weighting, one division at the end"),
    GQuery("ext_events_decay_wide", eventsDecayWide, Some(eventsDecayWideSql), "decay mass in the DECIMAL(38,0) headroom form: same mass, sum survives past 8e9 rows/group"),
    GQuery("ext_events_trend", eventsTrend, Some(eventsTrendSql), "per-type least-squares daily-count slope: exact BIGINT sums, one division"),
    GQuery("ext_events_lift", eventsLift, Some(eventsLiftSql), "event-type co-occurrence lift over the user universe (association-rule telemetry)"),
    GQuery("ext_label_kappa", labelKappa, Some(labelKappaSql), "inter-labeler agreement: Cohen's kappa of heuristic langid vs ground truth"),
    GQuery("ext_privacy_erasure", privacyErasure, Some(privacyErasureSql), "right-to-be-forgotten sweep: broadcast request lists, one-pass kept/deleted accounting"),
    GQuery("ext_corpus_dupgrowth", corpusDupgrowth, Some(corpusDupgrowthSql), "duplicate-mass growth curve across crawl days: cumulative unique vs total, dup share"),
    GQuery("ext_quality_contract", qualityContract, Some(qualityContractSql), "data-contract battery: 8 declarative checks fused into one scan, violation accounting"),
    GQuery("ext_sketch_quantile2", sketchQuantile2, Some(sketchQuantile2Sql), "persist-and-ADD-merge quantile lifecycle: day-1 histogram written/re-read, vector-added to day-2"),
    GQuery("ext_split_temporal", splitTemporal, Some(splitTemporalSql), "temporal train/val/test split with per-user split-bitmask overlap accounting"))
}
