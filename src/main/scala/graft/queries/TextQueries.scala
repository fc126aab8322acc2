package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Samplers, TextFunctions, TextPipeline}
import graft.operators.TextFunctions._
import graft.util.Tables.{load, sqlDsum}

/** Text-analysis + deduplication operators over `documents.parquet`,
  * driver-gradable with DuckDB oracles wherever the arithmetic is
  * engine-agnostic (everything here is length/replace/md5 identities —
  * no libm, no RNG). MinHash-LSH and SimHash near-dup live in
  * `graft.operators.Dedup` with their own queries (DedupQueries).
  */
object TextQueries {

  /** Shared oracle fragment: per-doc word occurrences WITH ORDER —
    * toks(doc_id, wi, w) from the normalized text ('' words dropped,
    * NULL texts excluded). This encodes the Dedup.normalize parity
    * contract once for both tokenizer oracles (t19 WordPiece, t20
    * BPE); DedupQueries.sqlShingles carries the shingle rendition of
    * the same normalization. */
  private[queries] val sqlDocWords =
    """toks0 AS (SELECT doc_id,
                   string_split(lower(trim(regexp_replace(text,
                     '\s+', ' ', 'g'))), ' ') AS l
                 FROM documents WHERE text IS NOT NULL),
       toks AS (SELECT doc_id, i AS wi, l[i] AS w
                FROM toks0,
                     unnest(generate_series(1, len(l))) AS g(i)
                WHERE l[i] <> '')"""

  /** t20's fixed ranked merge list — ONE definition feeds both the
    * Spark encode and the oracle's VALUES literal. Chain-consistent
    * (multi-char sides are produced by earlier ranks) and chosen for
    * the corpus's en/es/de/fr mix. */
  private[queries] val t20Merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"), ("e", "n"), ("o", "r"),
    ("an", "d"), ("s", "t"), ("t", "o"), ("e", "s"), ("d", "e"),
    ("l", "a"))

  // the SQL rendition of occurrences(padded_text, kw)
  private def sqlOcc(padded: String, kw: String): String =
    s"CAST((length($padded) - length(replace($padded, '$kw', ''))) / ${kw.length} AS BIGINT)"

  // the SQL rendition of TextFunctions.qualityScore, shared by every
  // oracle that thresholds on it (t09 global, t16 per-language) so the
  // two cannot silently diverge
  private val sqlNTok =
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
  private val sqlQuality: String = {
    val mtl = s"(CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST($sqlNTok AS DOUBLE))"
    // CASE mirrors charClassRatio's empty-doc guard (0.0, not 0/0 - r15)
    val punct = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)"
    s"""least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                     * (1.0 - least($punct * 5.0, 1.0))
                     * (CASE WHEN $mtl > 12.0 THEN 0.0 ELSE 1.0 - $mtl / 24.0 END)"""
  }

  // the t13 Stupid-Backoff scoring chain (train on the English
  // sub-corpus, score every doc, 2⁻²⁰-quantize the average log score),
  // ending in w = (doc_id, qlp) — shared by t13's ranking and t24's
  // per-language tercile split so the two cannot silently diverge
  private val sqlLmQlp =
    """base AS (SELECT doc_id, lang, list_filter(string_split(lower(trim(
                   regexp_replace(text, '\s+', ' ', 'g'))), ' '),
                   x -> x <> '') AS l
               FROM documents),
              tr_toks AS (SELECT unnest(l) AS tok FROM base
                          WHERE lang = 'en'),
              u AS (SELECT tok, count(*) AS c1 FROM tr_toks GROUP BY tok),
              st AS (SELECT (SELECT sum(c1) FROM u) AS n,
                            (SELECT count(*) FROM u) AS v),
              b AS (SELECT l[i-1] AS prev, l[i] AS tok, count(*) AS c2
                    FROM base, unnest(generate_series(2, len(l))) AS t(i)
                    WHERE lang = 'en' GROUP BY 1, 2),
              sc AS (SELECT doc_id, l[i] AS tok,
                            CASE WHEN i > 1 THEN l[i-1] END AS prev
                     FROM base, unnest(generate_series(1, len(l))) AS t(i)),
              j AS (SELECT sc.doc_id, sc.prev, b.c2, up.c1 AS c1p,
                           ut.c1 AS c1t
                    FROM sc LEFT JOIN b ON sc.prev = b.prev
                                       AND sc.tok = b.tok
                            LEFT JOIN u up ON sc.prev = up.tok
                            LEFT JOIN u ut ON sc.tok = ut.tok),
              lp AS (SELECT doc_id, CASE
                       WHEN c2 IS NOT NULL THEN
                         ln(CAST(c2 AS DOUBLE) / CAST(c1p AS DOUBLE))
                       WHEN prev IS NULL THEN
                         ln((CAST(coalesce(c1t, 0) AS DOUBLE) + 1.0) /
                            (CAST(n AS DOUBLE) + CAST(v AS DOUBLE) + 1.0))
                       ELSE ln(CAST(0.4 AS DOUBLE)) +
                         ln((CAST(coalesce(c1t, 0) AS DOUBLE) + 1.0) /
                            (CAST(n AS DOUBLE) + CAST(v AS DOUBLE) + 1.0))
                       END AS lp
                     FROM j, st),
              w AS (SELECT doc_id, CAST(floor(avg(lp) * 1048576.0 + 0.5)
                                        AS BIGINT) AS qlp
                    FROM lp GROUP BY doc_id)"""

  /** Scala twin of [[sqlLmQlp]] — train the Stupid-Backoff LM on the
    * English sub-corpus and score every document to a 2⁻²⁰-quantized
    * (doc_id, qlp). ONE definition shared by t13/t24/t25 (mirroring the
    * SQL-side factoring) so the three graders cannot silently diverge.
    * Returns (documents, scored). */
  private def lmQlpScored(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = load(s, d, "documents")
    val model = graft.operators.NgramLm.train(
      docs.filter(col("lang") === "en"), "text")
    // the model's count-table caches must outlive this function (the
    // caller materializes the lazy `scored` later), so the release is
    // LEASED rather than finally'd: Verify/Bench drain QueryLeases after
    // each query's materialization, so a full pass no longer accumulates
    // one trained model per t13/t24/t25 run (r16 verdict finding 1)
    graft.util.QueryLeases.lease(model.unpersist())
    val scored = graft.operators.NgramLm
      .scoreDocs(model, docs, "doc_id", "text")
      .select(col("doc_id"),
        floor(col("avg_logp") * lit(1048576.0) + lit(0.5))
          .cast("long").as("qlp"))
    (docs, scored)
  }

  /** Shared t23/t28 oracle chain: the frequency-derived unigram
    * vocab (capped word table → substring counts → chars + top-400
    * pieces, quantized ln) plus the recursive Viterbi DP, ending in
    * perdoc = (doc_id, n_words, n_pieces, lp). Prefix with
    * WITH RECURSIVE. ONE definition so the segmentation grader (t23)
    * and the fertility grader (t28) cannot diverge. */
  private val sqlUnigramPerdoc: String = s"""$sqlDocWords,
             wcnt AS (SELECT w, count(*) AS n FROM toks GROUP BY w
                      ORDER BY n DESC, w LIMIT 50000),
             dw AS (SELECT DISTINCT w FROM toks),
             ch AS (SELECT DISTINCT substring(dw.w, ci, 1) AS p
                    FROM dw,
                         unnest(generate_series(1, length(dw.w))) AS g(ci)),
             subs AS (SELECT substring(t.w, st, l) AS p, sum(t.n) AS cnt
                      FROM wcnt t,
                           unnest(generate_series(1, length(t.w))) AS a(st),
                           unnest(generate_series(1, 4)) AS b(l)
                      WHERE st + l - 1 <= length(t.w)
                      GROUP BY 1),
             multi AS (SELECT p, cnt FROM subs WHERE length(p) > 1
                       ORDER BY cnt DESC, p LIMIT 400),
             singles AS (SELECT ch.p, coalesce(s.cnt, 1) AS cnt
                         FROM ch LEFT JOIN subs s ON s.p = ch.p),
             vr AS (SELECT p, cnt FROM singles
                    UNION ALL SELECT p, cnt FROM multi),
             tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vr),
             vocab AS (SELECT p,
                         floor(ln(CAST(cnt AS DOUBLE) / t) * 1048576.0
                           + 0.5) / 1048576.0 AS lp
                       FROM vr, tot),
             dp AS (
               SELECT w, length(w) AS len, 0 AS i,
                      CAST(0.0 AS DOUBLE) AS s0, 0 AS n0,
                      CAST(NULL AS DOUBLE) AS s1, CAST(NULL AS INT) AS n1,
                      CAST(NULL AS DOUBLE) AS s2, CAST(NULL AS INT) AS n2,
                      CAST(NULL AS DOUBLE) AS s3, CAST(NULL AS INT) AS n3
               FROM dw
               UNION ALL
               SELECT w, len, i + 1,
                      pick['s'], CAST(pick['np'] AS INT),
                      s0, n0, s1, n1, s2, n2
               FROM (
                 SELECT d.w, d.len, d.i, d.s0, d.n0, d.s1, d.n1,
                        d.s2, d.n2,
                        list_sort(list_filter([
                          CASE WHEN d.s0 IS NOT NULL
                                AND v1.lp IS NOT NULL THEN
                            {'k': [-(d.s0 + v1.lp),
                                   CAST(d.n0 + 1 AS DOUBLE), 1.0],
                             's': d.s0 + v1.lp, 'np': d.n0 + 1} END,
                          CASE WHEN d.s1 IS NOT NULL
                                AND v2.lp IS NOT NULL THEN
                            {'k': [-(d.s1 + v2.lp),
                                   CAST(d.n1 + 1 AS DOUBLE), 2.0],
                             's': d.s1 + v2.lp, 'np': d.n1 + 1} END,
                          CASE WHEN d.s2 IS NOT NULL
                                AND v3.lp IS NOT NULL THEN
                            {'k': [-(d.s2 + v3.lp),
                                   CAST(d.n2 + 1 AS DOUBLE), 3.0],
                             's': d.s2 + v3.lp, 'np': d.n2 + 1} END,
                          CASE WHEN d.s3 IS NOT NULL
                                AND v4.lp IS NOT NULL THEN
                            {'k': [-(d.s3 + v4.lp),
                                   CAST(d.n3 + 1 AS DOUBLE), 4.0],
                             's': d.s3 + v4.lp, 'np': d.n3 + 1} END
                        ], x -> x IS NOT NULL))[1] AS pick
                 FROM dp d
                 LEFT JOIN vocab v1 ON v1.p = substring(d.w, d.i + 1, 1)
                 LEFT JOIN vocab v2 ON v2.p = substring(d.w, d.i, 2)
                 LEFT JOIN vocab v3 ON v3.p = substring(d.w, d.i - 1, 3)
                 LEFT JOIN vocab v4 ON v4.p = substring(d.w, d.i - 2, 4)
                 WHERE d.i < d.len)),
             perword AS (SELECT w, n0 AS np, s0 AS sc FROM dp
                         WHERE i = len),
             perdoc AS (SELECT t.doc_id,
                          CAST(count(*) AS BIGINT) AS n_words,
                          CAST(sum(pw.np) AS BIGINT) AS n_pieces,
                          ${sqlDsum("pw.sc")} AS lp
                        FROM toks t JOIN perword pw ON pw.w = t.w
                        GROUP BY t.doc_id)"""

  /** Scala twin of [[sqlUnigramPerdoc]]: frequency-derived unigram
    * vocab + Viterbi segmentation rolled up to the per-doc
    * (doc_id, n_words, n_pieces, lp) frame. ONE definition shared by
    * t23/t28 (mirroring the SQL-side factoring). Returns
    * (documents, perdoc). */
  private def unigramPerdoc(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = load(s, d, "documents")
    val vocab = graft.operators.Tokenize.unigramVocab(docs, "text",
      topWords = 50000, topPieces = 400, maxLen = 4)
    val per = graft.operators.Tokenize.unigramSegment(docs, "text",
        vocab, maxLen = 4)
      .select(col("doc_id"), explode_outer(col("seg")).as("w"))
      .groupBy("doc_id")
      .agg(count(col("w")).as("n_words"),
        coalesce(sum(col("w._1")), lit(0L)).as("n_pieces"),
        coalesce(graft.util.Tables.dsum(col("w._2")), lit(0.0)).as("lp"))
    (docs, per)
  }

  /** Shared t22/t29 oracle chain: weak-label features, the m06
    * quantized-IRLS fit (StatsQueries.sqlIrls2, shared verbatim), and
    * the broadcast-scored corpus — ending in sc = (doc_id, y, x,
    * score). ONE definition so the filter grader (t22) and the
    * calibration grader (t29) cannot diverge. */
  private val sqlClassifierScored: String = {
    val p = "(' ' || text || ' ')"
    val pl = "(' ' || lower(text) || ' ')"
    val en = Seq(" the ", " and ", " of ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
    val es = Seq(" el ", " la ", " de ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
    val de = Seq(" der ", " und ", " die ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
    val fr = Seq(" le ", " et ", " les ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
    val stopHits = TextFunctions.stopwords
      .map(w => sqlOcc(pl, s" $w ")).mkString("(", " + ", ")")
    s"""lsc AS (SELECT doc_id,
                    $en AS s_en,
                    greatest($en, $es, $de, $fr) AS best,
                    CAST($stopHits AS DOUBLE) / CAST($sqlNTok AS DOUBLE)
                      AS x
                  FROM documents),
             src AS (SELECT doc_id,
                       CASE WHEN s_en = best AND best > 0
                            THEN 1.0 ELSE 0.0 END AS y,
                       x
                     FROM lsc),
             ${StatsQueries.sqlIrls2("src", 3)},
             sc AS (SELECT f.doc_id, f.y, f.x,
                      floor((1.0 / (1.0 +
                        exp(-(c.b0 + c.b1 * f.x)))) * 1048576.0 + 0.5)
                        / 1048576.0 AS score
                    FROM src f, c3 c)"""
  }

  /** Scala twin of [[sqlClassifierScored]]: weak-label features, the
    * portable quantized-IRLS fit, and the broadcast-scored corpus —
    * (doc_id, y, score) with score already 2⁻²⁰-quantized. ONE
    * definition shared by t22/t29. */
  private def classifierScored(s: SparkSession, d: String): DataFrame = {
    // pinned (r17): feats feeds the IRLS training frame AND the final
    // corpus-wide scoring pass — unpinned, the langId + stopwordRatio
    // text scan re-ran for each (fitPortable2 additionally pins its
    // own 2-column projection so the 3 IRLS steps share one cache)
    val feats = graft.util.QueryLeases.leased(
      load(s, d, "documents").select(col("doc_id"),
          (langId(col("text")) === "en").cast("double").as("y"),
          stopwordRatio(col("text")).as("x"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val coefs = graft.stats.Logistic.fitPortable2(feats, "y", "x",
      iters = 3)
    val q = lit(1048576.0) // 2^20, the fitPortable2 quantum
    feats.crossJoin(broadcast(coefs))
      .withColumn("score",
        floor((lit(1.0) / (lit(1.0) +
          exp(-(col("b0") + col("b1") * col("x"))))) * q + lit(0.5)) / q)
      .select(col("doc_id"), col("y"), col("score"))
  }

  val qs: Seq[Q] = Seq(

    // ---- T1 per-document stats: tokens, ratios, mean token length -----
    Q("t01_text_stats",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars_calc"),
          tokenCount(col("text")).as("n_tokens"),
          meanTokenLength(col("text")).as("mean_tok_len"),
          charClassRatio(col("text"), "[aeiou]").as("vowel_ratio"),
          stopwordRatio(col("text")).as("stopword_ratio"))
        .orderBy("doc_id"),
      Some {
        val p = "(' ' || lower(text) || ' ')"
        val stopHits = TextFunctions.stopwords
          .map(w => sqlOcc(p, s" $w ")).mkString("(", " + ", ")")
        s"""SELECT doc_id,
                     CAST(length(text) AS BIGINT) AS n_chars_calc,
                     $sqlNTok AS n_tokens,
                     CAST(length(replace(text, ' ', '')) AS DOUBLE)
                       / CAST($sqlNTok AS DOUBLE) AS mean_tok_len,
                     CASE WHEN length(text) = 0 THEN 0.0 ELSE
                       CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE) END AS vowel_ratio,
                     CAST($stopHits AS DOUBLE) / CAST($sqlNTok AS DOUBLE) AS stopword_ratio
              FROM documents ORDER BY doc_id"""
      }),

    // ---- T2 heuristic language ID (marker-word argmax) ----------------
    Q("t02_lang_id",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), langId(col("text")).as("lang_guess"))
        .orderBy("doc_id"),
      Some {
        val p = "(' ' || text || ' ')"
        val en = Seq(" the ", " and ", " of ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
        val es = Seq(" el ", " la ", " de ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
        val de = Seq(" der ", " und ", " die ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
        val fr = Seq(" le ", " et ", " les ").map(sqlOcc(p, _)).mkString("(", " + ", ")")
        s"""WITH sc AS (SELECT doc_id, $en AS s_en, $es AS s_es, $de AS s_de, $fr AS s_fr
                        FROM documents),
                 b AS (SELECT doc_id, s_en, s_es, s_de, s_fr,
                              greatest(s_en, s_es, s_de, s_fr) AS best FROM sc)
            SELECT doc_id,
                   CASE WHEN s_en = best AND best > 0 THEN 'en'
                        WHEN s_es = best AND best > 0 THEN 'es'
                        WHEN s_de = best AND best > 0 THEN 'de'
                        WHEN s_fr = best AND best > 0 THEN 'fr'
                        ELSE 'und' END AS lang_guess
            FROM b ORDER BY doc_id"""
      }),

    // ---- T3 content fingerprint (rolling-hash analog via md5) ---------
    Q("t03_fingerprint",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"),
          fingerprint64(col("text")).as("fp64"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(text) AS fp,
                     substring(md5(text), 1, 16) AS fp64
              FROM documents ORDER BY doc_id""")),

    // ---- T4 regex token count (BPE-ish classes) -----------------------
    Q("t04_regex_tokens",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          regexTokenCount(col("text")).as("n_word_tokens"),
          qualityScore(col("text")).as("quality"))
        .orderBy("doc_id"),
      Some {
        val mtl = s"(CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST($sqlNTok AS DOUBLE))"
        // CASE mirrors charClassRatio's empty-doc guard (0.0, not 0/0 - r15)
        val punct = "(CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END)"
        s"""SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT) AS n_word_tokens,
                   least(CAST(length(text) AS DOUBLE) / 200.0, 1.0)
                     * (1.0 - least($punct * 5.0, 1.0))
                     * (CASE WHEN $mtl > 12.0 THEN 0.0 ELSE 1.0 - $mtl / 24.0 END) AS quality
            FROM documents ORDER BY doc_id"""
      }),

    // ---- T5 within-doc repetition (Gopher-style quality signals) ------
    // Repetitious docs (boilerplate, keyword stuffing, generation loops)
    // are the first thing a training-data pipeline filters. Three
    // signals: distinct-token ratio, most-frequent-token fraction, and
    // duplicate-bigram fraction. Token counting is explode → two
    // partial-agg groupBys on (doc_id[, token]) — distributed, no
    // per-doc quadratic work; ratios are single integer divisions →
    // bit-identical across engines.
    Q("t05_repetition",
      (s, d) => {
        val docs = load(s, d, "documents")
        val flat = docs.select(col("doc_id"),
          explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        val perTok = flat.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        val agg = perTok.groupBy("doc_id").agg(
          max(col("c")).as("top_c"), sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_distinct"))
        val bi = docs.select(col("doc_id"),
          graft.operators.Dedup.wordShingles(col("text"), 2).as("bi"))
        agg.join(bi, "doc_id")
          .select(col("doc_id"),
            (col("n_distinct").cast("double") / col("n_tok").cast("double"))
              .as("distinct_token_ratio"),
            (col("top_c").cast("double") / col("n_tok").cast("double"))
              .as("top_token_frac"),
            when(col("n_tok") > 1,
              lit(1.0) - size(col("bi")).cast("double") /
                (col("n_tok") - 1).cast("double"))
              .otherwise(lit(0.0)).as("dup_bigram_frac"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
               FROM documents),
              f AS (SELECT doc_id, unnest(toks) AS tok FROM t),
              c AS (SELECT doc_id, tok, count(*) AS c FROM f GROUP BY doc_id, tok),
              a AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok,
                           count(*) AS n_distinct FROM c GROUP BY doc_id),
              sh AS (SELECT doc_id,
                 CASE WHEN len(toks) >= 2 THEN
                   list_distinct(list_transform(generate_series(1, len(toks)-1),
                     i -> array_to_string(toks[i:i+1], ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS bi
               FROM t)
              SELECT a.doc_id,
                     CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)
                       AS distinct_token_ratio,
                     CAST(top_c AS DOUBLE) / CAST(n_tok AS DOUBLE)
                       AS top_token_frac,
                     CASE WHEN n_tok > 1 THEN
                       1.0 - CAST(len(bi) AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE)
                     ELSE 0.0 END AS dup_bigram_frac
              FROM a JOIN sh ON a.doc_id = sh.doc_id
              ORDER BY a.doc_id""")),

    // ---- T6 PII redaction (emails + URLs → placeholder tokens) --------
    // The corpus carries no PII, so the query plants a deterministic
    // contact string per doc (built from doc_id) and redacts it — the
    // redaction path does real work and the oracle replays it verbatim.
    Q("t06_redact_pii",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.redactPii(concat(col("text"),
            lit(" contact user"), col("doc_id"),
            lit("@example.com or https://ex.com/"), col("doc_id"),
            lit(" thanks"))).as("clean"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
                     regexp_replace(regexp_replace(
                       text || ' contact user' || doc_id ||
                         '@example.com or https://ex.com/' || doc_id || ' thanks',
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                       'https?://[^\s]+', '<URL>', 'g') AS clean
              FROM documents ORDER BY doc_id""")),

    // ---- C1 document chunking (fixed window, overlap) -----------------
    // Context-window chunking for training/embedding: 200-char windows
    // every 150 chars. posexplode over an offset sequence — one narrow
    // Generate per doc, no shuffle at all until the caller aggregates;
    // chunk_id is the windows' ordinal so downstream joins are stable.
    Q("c01_chunking",
      (s, d) => load(s, d, "documents")
        .select(col("doc_id"), col("text"), posexplode(
          sequence(lit(0), greatest(length(col("text")) - 1, lit(0)), lit(150))))
        .select(col("doc_id"), col("pos").as("chunk_id"),
          expr("substring(text, col + 1, 200)").as("chunk"))
        .orderBy("doc_id", "chunk_id"),
      Some("""SELECT doc_id, CAST(off // 150 AS INTEGER) AS chunk_id,
                     substring(text, off + 1, 200) AS chunk
              FROM (SELECT doc_id, text,
                      unnest(generate_series(0, greatest(length(text)-1, 0), 150)) AS off
                    FROM documents)
              ORDER BY doc_id, chunk_id""")),

    // ---- T7 per-doc top terms by rarity (integer-ranked TF-IDF) -------
    // Classic tf-idf ranks by tf·ln(N/df); ln is libm (not bit-portable
    // across engines), so the catalog query ranks by the integer pair
    // (df ASC, tf DESC) — idf is monotone in df, same rarest-first
    // intent — and outputs integers only. The tf frame persists and
    // feeds both the df aggregate and the ranking join — one corpus
    // computation, bounded tasks under Zipfian skew (PlanSuite pins
    // the cached no-tok-window shape).
    Q("t07_tfidf_topterms",
      (s, d) => TextPipeline.topTermsByRarity(
          load(s, d, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk"),
      Some("""WITH t AS (SELECT doc_id,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
               FROM documents),
              f AS (SELECT doc_id, unnest(toks) AS tok FROM t),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM f GROUP BY doc_id, tok),
              dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
              r AS (SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
                      row_number() OVER (PARTITION BY tf.doc_id
                        ORDER BY dfq.df ASC, tf.tf DESC, tf.tok ASC) AS rnk
                    FROM tf JOIN dfq USING (tok))
              SELECT doc_id, rnk, tok, tf, df FROM r WHERE rnk <= 3
              ORDER BY doc_id, rnk""")),

    // ---- D6 benchmark decontamination (n-gram collision join) ---------
    // Treat src0 as the held-out benchmark suite and profile every other
    // document's 5-gram overlap with it — the standard pre-training
    // decontamination pass. The benchmark shingle set broadcasts; the
    // corpus is never shuffled on the shingle key.
    Q("d06_decontaminate",
      (s, d) => {
        val docs = load(s, d, "documents")
        TextPipeline.decontaminate(
            docs.filter(col("source") =!= "src0"),
            docs.filter(col("source") === "src0"),
            "doc_id", "text", n = 5)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, source,
                 string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
               FROM documents),
              sh AS (SELECT doc_id, source,
                 CASE WHEN len(toks) >= 5 THEN
                   list_distinct(list_transform(generate_series(1, len(toks)-4),
                     i -> array_to_string(toks[i:i+4], ' ')))
                 ELSE [array_to_string(toks, ' ')] END AS grams
               FROM t),
              bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
                        WHERE source = 'src0'),
              cand AS (SELECT doc_id, unnest(grams) AS gram FROM sh
                       WHERE source <> 'src0'),
              hits AS (SELECT c.doc_id, count(*) AS n_shingles,
                         CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_hit
                       FROM cand c LEFT JOIN bench b ON c.gram = b.gram
                       GROUP BY c.doc_id)
              SELECT doc_id, n_shingles, n_hit,
                     CAST(n_hit > 0 AS INT) AS contaminated
              FROM hits ORDER BY doc_id""")),

    // ---- C2 sequence packing (token-budget bins per shard) ------------
    // Greedy-contiguous packing of documents into 256-token training
    // bins within each (lang, source) shard: running token sum per
    // shard-partitioned window, bin = floor(tokens-before / budget).
    // Parallelism = #shards; no global sort, no driver loop.
    Q("c02_sequence_packing",
      (s, d) => TextPipeline.packSequences(
          load(s, d, "documents").select("doc_id", "lang", "source", "text"),
          groupCols = Seq("lang", "source"), orderCol = "doc_id",
          textCol = "text", budget = 256)
        .select("doc_id", "lang", "source", "n_tok", "bin_id")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, lang, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok,
                 sum(length(text) - length(replace(text, ' ', '')) + 1) OVER (
                   PARTITION BY lang, source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
               FROM documents)
              SELECT doc_id, lang, source, n_tok,
                     CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS bin_id
              FROM w ORDER BY doc_id""")),

    // ---- C3 packing-efficiency census ----------------------------------
    // The throughput metric behind c02: per (lang, source) stream, how
    // many context bins the packing used, how full they are, and the
    // overall utilization (token mass / bin capacity — the fraction of
    // training FLOPs that see real tokens). Two-level integer
    // aggregation over c02's bin assignment; utilization is ONE IEEE
    // division of exact integers, so the census hash-matches.
    Q("c03_pack_efficiency",
      (s, d) => {
        val bins = TextPipeline.packSequences(
            load(s, d, "documents")
              .select("doc_id", "lang", "source", "text"),
            groupCols = Seq("lang", "source"), orderCol = "doc_id",
            textCol = "text", budget = 256)
          .groupBy("lang", "source", "bin_id")
          .agg(sum(col("n_tok")).as("bt"), count(lit(1)).as("bd"))
        bins.groupBy("lang", "source")
          .agg(count(lit(1)).as("n_bins"), sum(col("bd")).as("n_docs"),
            sum(col("bt")).as("total_tok"),
            min(col("bt")).as("min_fill"), max(col("bt")).as("max_fill"))
          .withColumn("utilization", col("total_tok").cast("double")
            / (col("n_bins") * lit(256L)).cast("double"))
          .orderBy("lang", "source")
      },
      Some("""WITH w AS (SELECT doc_id, lang, source,
                 CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tok,
                 sum(length(text) - length(replace(text, ' ', '')) + 1) OVER (
                   PARTITION BY lang, source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
               FROM documents),
              p AS (SELECT lang, source, n_tok,
                      CAST(floor((cum - n_tok) / 256.0) AS BIGINT) AS bin_id
                    FROM w),
              b AS (SELECT lang, source, bin_id,
                      CAST(sum(n_tok) AS BIGINT) AS bt, count(*) AS bd
                    FROM p GROUP BY lang, source, bin_id)
              SELECT lang, source, count(*) AS n_bins,
                     CAST(sum(bd) AS BIGINT) AS n_docs,
                     CAST(sum(bt) AS BIGINT) AS total_tok,
                     min(bt) AS min_fill, max(bt) AS max_fill,
                     CAST(CAST(sum(bt) AS BIGINT) AS DOUBLE)
                       / CAST(count(*) * 256 AS DOUBLE) AS utilization
              FROM b GROUP BY lang, source ORDER BY lang, source""")),

    // ---- C4 training-shard assignment census ---------------------------
    // Deterministic shard routing for a distributed training run: shard =
    // portable-hash(doc_id) mod 16, plus each shard's doc/token census
    // and load ratio (shard tokens × nShards / total — 1.0 is perfect
    // balance). One partial-aggregable pass to 16 rows; the balance
    // window runs on the 16-row grid. Counts are exact integers, the
    // ratio one IEEE division → full hash oracle.
    Q("c04_shard_assign",
      (s, d) => Samplers.shardCensus(
        load(s, d, "documents")
          .select(col("doc_id"), tokenCount(col("text")).as("n_tok")),
        "doc_id", "n_tok", nShards = 16),
      Some(s"""WITH q AS (SELECT doc_id, $sqlNTok AS n_tok FROM documents),
              per AS (SELECT CAST(((doc_id % 100000007) * 1315423911)
                               % 100000007 % 16 AS INTEGER) AS shard,
                        count(*) AS n_docs,
                        CAST(sum(n_tok) AS BIGINT) AS n_toks
                      FROM q GROUP BY 1),
              grid AS (SELECT CAST(i AS INTEGER) AS shard
                       FROM generate_series(0, 15) t(i)),
              f AS (SELECT grid.shard,
                      coalesce(per.n_docs, 0) AS n_docs,
                      coalesce(per.n_toks, 0) AS n_toks
                    FROM grid LEFT JOIN per USING (shard))
              SELECT shard, n_docs, n_toks,
                     CAST(n_toks * 16 AS DOUBLE)
                       / CAST(CAST(sum(n_toks) OVER () AS BIGINT) AS DOUBLE)
                       AS load_ratio
              FROM f ORDER BY shard"""),
      ),

    // ---- C5 data-constrained epoch mixing -------------------------------
    // Muennighoff et al. 2023: per-source token masses, a budget of 2×
    // the corpus, a 4-epoch repeat cap, and √-temperature budget shares
    // (the mT5 α = 0.5 smoothing, same family as g16). Reports each
    // domain's repeat epochs, realized token draw, and whether the cap
    // bit. |domains|-bounded after one partial-aggregable pass; the
    // share normalizer rides the dsum exact-decimal convention.
    Q("c05_epoch_mix",
      (s, d) => Samplers.epochMix(
        load(s, d, "documents")
          .select(col("source"), tokenCount(col("text")).as("n_tok")),
        "source", "n_tok", budgetFactor = 2L, maxEpochs = 4.0),
      Some {
        val z = graft.util.Tables.sqlDsumOver(
          "sqrt(CAST(n_toks AS DOUBLE))", "()")
        s"""WITH g AS (SELECT source, CAST(sum($sqlNTok) AS BIGINT) AS n_toks
                       FROM documents GROUP BY source),
              sh AS (SELECT source, n_toks,
                       ((sqrt(CAST(n_toks AS DOUBLE)) / $z)
                          * CAST(CAST(sum(n_toks) OVER () AS BIGINT) * 2
                                 AS DOUBLE))
                         / CAST(n_toks AS DOUBLE) AS raw
                     FROM g)
              SELECT source, n_toks,
                     least(raw, 4.0) AS epochs,
                     CAST(floor(least(raw, 4.0) * CAST(n_toks AS DOUBLE)
                                + 0.5) AS BIGINT) AS eff_toks,
                     CAST(raw > 4.0 AS INT) AS capped
              FROM sh ORDER BY source"""
      }),

    // ---- T8 global vocabulary top-k (heavy hitters) -------------------
    // Corpus-wide token frequencies, top 50: the vocabulary-building /
    // heavy-hitter pass. groupBy(tok) partial-aggregates map-side;
    // orderBy+limit plans as TakeOrderedAndProject — each task keeps a
    // local top-50, the driver merges 50·P candidates, never a global
    // sort. Ties break on the token for determinism.
    Q("t08_vocab_topk",
      (s, d) => load(s, d, "documents")
        .select(explode(graft.operators.Dedup.tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50),
      Some("""WITH f AS (SELECT unnest(string_split(lower(trim(
                   regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
               FROM documents)
              SELECT tok, count(*) AS n FROM f GROUP BY tok
              ORDER BY n DESC, tok ASC LIMIT 50""")),

    // ---- T9 quality-quantile filter (global threshold → keep) ---------
    // Drop the worst quartile by quality score via the callable
    // TextPipeline.quantileThresholdFilter operator: pass 1 computes
    // the exact interpolated 25th percentile (parity with
    // quantile_cont, as a14), pass 2 broadcast-compares. Two corpus
    // scans is the honest cost of an EXACT global quantile.
    Q("t09_quality_filter",
      (s, d) => TextPipeline.quantileThresholdFilter(
          load(s, d, "documents")
            .select(col("doc_id"), qualityScore(col("text")).as("quality")),
          "quality", p = 0.25)
        .orderBy("doc_id"),
      Some {
        s"""WITH q AS (SELECT doc_id, $sqlQuality AS quality FROM documents),
                t AS (SELECT quantile_cont(quality, 0.25) AS thr FROM q)
            SELECT doc_id, quality FROM q, t WHERE quality >= thr
            ORDER BY doc_id"""
      }),

    // ---- T16 per-group (per-language) rank-quantile filter ------------
    // Keep each language's top half by quality score. Rank-based cut:
    // exact integer arithmetic per group (no interpolated quantile
    // value), deterministic ties on doc_id — hash-exact cross-engine.
    // A global cut (t09) starves low-resource languages; this is the
    // per-group rendition real pipelines use. One shuffle on lang.
    Q("t16_group_quantile_filter",
      (s, d) => TextPipeline.groupQuantileFilter(
          load(s, d, "documents")
            .select(col("doc_id"), col("lang"),
              qualityScore(col("text")).as("quality")),
          "lang", "quality", p = 0.5, tieCol = "doc_id")
        .orderBy("doc_id"),
      Some {
        s"""WITH q AS (SELECT doc_id, lang, $sqlQuality AS quality FROM documents),
                r AS (SELECT doc_id, lang, quality,
                        row_number() OVER
                          (PARTITION BY lang
                           ORDER BY quality NULLS FIRST, doc_id) AS rk,
                        count(*) OVER (PARTITION BY lang) AS n
                      FROM q)
            SELECT doc_id, lang, quality FROM r
            WHERE rk > floor(0.5 * n) ORDER BY doc_id"""
      }),

    // ---- T17 corpus-novelty scoring (vs the English reference) --------
    // d06's fractional sibling: each non-English doc scored by the
    // fraction of its distinct 3-gram shingles absent from the English
    // reference set — the "how much does this shard add" data-mixing
    // signal. Exact integer counts + one IEEE divide → full hash
    // oracle. See TextPipeline.noveltyScores for the Bloom-filter
    // rendition when the reference gram set outgrows a broadcast.
    Q("t17_novelty",
      (s, d) => {
        val docs = load(s, d, "documents")
        graft.operators.TextPipeline.noveltyScores(
            docs.filter(col("lang") =!= "en"),
            docs.filter(col("lang") === "en"),
            "doc_id", "text", n = 3)
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, lang,
                string_split(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS toks
              FROM documents),
              sh AS (SELECT doc_id, lang,
                      CASE WHEN len(toks) >= 3 THEN
                        list_distinct(list_transform(generate_series(1, len(toks)-2),
                          i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS sh
                    FROM t),
              ref AS (SELECT DISTINCT unnest(sh) AS g FROM sh
                      WHERE lang = 'en'),
              cg AS (SELECT doc_id, unnest(sh) AS g FROM sh
                     WHERE lang <> 'en'),
              j AS (SELECT cg.doc_id,
                      CASE WHEN r.g IS NULL THEN 0 ELSE 1 END AS hit
                    FROM cg LEFT JOIN ref r USING (g)),
              a AS (SELECT doc_id, count(*) AS n_grams,
                      CAST(sum(hit) AS BIGINT) AS n_known
                    FROM j GROUP BY doc_id)
              SELECT doc_id, n_grams, n_known,
                     CASE WHEN n_grams = 0 THEN 0.0
                          ELSE CAST(n_grams - n_known AS DOUBLE) / n_grams
                     END AS novelty
              FROM a ORDER BY doc_id""")),

    // ---- T10 BM25 lexical retrieval (single-term, idf-free) ----------
    // TextPipeline.bm25 with withIdf = false: for ONE query term the
    // idf factor is a constant multiplier, so ranking is unchanged and
    // the score stays inside +,×,÷ IEEE arithmetic over exact integer
    // tf/dl and the exact avgdl ratio — bit-identical in DuckDB, hence
    // a full hash oracle (ln-weighted multi-term BM25 is the operator
    // default; TextPipelineSuite covers it against a task-local
    // reference). Top 100 by (score DESC, doc_id) pins boundary ties.
    Q("t10_bm25_retrieval",
      (s, d) => TextPipeline.bm25(load(s, d, "documents"),
          "doc_id", "text", queryTerms = Seq("spark"), withIdf = false)
        .select(col("doc_id"), col("dl"), col("tf_0").as("tf"), col("score"))
        .limit(100),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(
                   regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
               FROM documents),
              p AS (SELECT doc_id, count(*) AS dl,
                           count(CASE WHEN tok = 'spark' THEN 1 END) AS tf
                    FROM toks GROUP BY doc_id),
              st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                     FROM p)
              SELECT doc_id, dl, tf,
                     (1.0 * ((CAST(2.2 AS DOUBLE) * tf) /
                       (tf + CAST(1.2 AS DOUBLE) *
                         (0.25 + 0.75 * (dl / st.avgdl))))) AS score
              FROM p, st WHERE tf > 0
              ORDER BY score DESC, doc_id LIMIT 100""")),

    // ---- T11 BM25 multi-term retrieval (idf-free, full hash oracle) ---
    // Closes round-7 gap #3: the MULTI-term aggregation path (one
    // conditional tf column per term, one map-side partial agg, per-term
    // score summands left-fold-added) under the same idf-free rendition
    // that keeps every operation in +,×,÷ IEEE arithmetic. The oracle
    // mirrors Spark's exact association order ((t0 + t1) + t2) and the
    // CAST(2.2 AS DOUBLE) decimal-literal discipline t10 proved; the
    // ln-weighted default stays suite-covered (TextPipelineSuite).
    Q("t11_bm25_multiterm",
      (s, d) => TextPipeline.bm25(load(s, d, "documents"),
          "doc_id", "text", queryTerms = Seq("spark", "data", "query"),
          withIdf = false)
        .select(col("doc_id"), col("dl"), col("tf_0"), col("tf_1"),
          col("tf_2"), col("score"))
        .limit(100),
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(
                   regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
               FROM documents),
              p AS (SELECT doc_id, count(*) AS dl,
                           count(CASE WHEN tok = 'spark' THEN 1 END) AS tf_0,
                           count(CASE WHEN tok = 'data' THEN 1 END) AS tf_1,
                           count(CASE WHEN tok = 'query' THEN 1 END) AS tf_2
                    FROM toks GROUP BY doc_id),
              st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
                     FROM p)
              SELECT doc_id, dl, tf_0, tf_1, tf_2,
                     (((1.0 * ((CAST(2.2 AS DOUBLE) * tf_0) /
                         (tf_0 + CAST(1.2 AS DOUBLE) *
                           (0.25 + 0.75 * (dl / st.avgdl)))))
                      + (1.0 * ((CAST(2.2 AS DOUBLE) * tf_1) /
                         (tf_1 + CAST(1.2 AS DOUBLE) *
                           (0.25 + 0.75 * (dl / st.avgdl))))))
                      + (1.0 * ((CAST(2.2 AS DOUBLE) * tf_2) /
                         (tf_2 + CAST(1.2 AS DOUBLE) *
                           (0.25 + 0.75 * (dl / st.avgdl)))))) AS score
              FROM p, st WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0
              ORDER BY score DESC, doc_id LIMIT 100""")),

    // ---- T12 BM25 ln-idf RANKING (rank-level hash oracle) -------------
    // Closes the round-8 gap: the ln-weighted Lucene-idf DEFAULT path
    // (withIdf = true) was only suite-tested because ln is libm —
    // engines may differ in the last ulp, so score bits can't be
    // hash-compared. The e06 integer-rank trick applies: both engines
    // rank their OWN ln-scored frame by (score DESC, doc_id) and only
    // the integer (doc_id, rank) pairs are hashed — rank parity needs
    // the two engines' orderings to agree, not their score bits (a flip
    // would need two different docs' scores within ~1 ulp; verified
    // hash-exact at sf0.001/0.01/0.1). The oracle mirrors Spark's exact
    // association order and the CAST(... AS DOUBLE) decimal-literal
    // discipline, with idf = ln(1 + (N − df + 0.5)/(df + 0.5)).
    Q("t12_bm25_idf_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        TextPipeline.bm25(load(s, d, "documents"),
            "doc_id", "text", queryTerms = Seq("spark", "data", "query"),
            withIdf = true)
          .limit(100) // bm25 output is (score DESC, doc_id)-sorted
          // constant partition key: same post-limit trick as e06 — the
          // global rank window sees ≤ 100 rows, never the corpus
          .select(col("doc_id"), row_number().over(
            Window.partitionBy(lit(1))
              .orderBy(col("score").desc, col("doc_id"))).as("r"))
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(lower(trim(
                   regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
               FROM documents),
              p AS (SELECT doc_id, count(*) AS dl,
                           count(CASE WHEN tok = 'spark' THEN 1 END) AS tf_0,
                           count(CASE WHEN tok = 'data' THEN 1 END) AS tf_1,
                           count(CASE WHEN tok = 'query' THEN 1 END) AS tf_2
                    FROM toks GROUP BY doc_id),
              st AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                            count(*) AS n_docs,
                            count(CASE WHEN tf_0 > 0 THEN 1 END) AS df_0,
                            count(CASE WHEN tf_1 > 0 THEN 1 END) AS df_1,
                            count(CASE WHEN tf_2 > 0 THEN 1 END) AS df_2
                     FROM p),
              scored AS (SELECT doc_id,
                     ((ln(1.0 + (n_docs - df_0 + CAST(0.5 AS DOUBLE)) /
                          (df_0 + CAST(0.5 AS DOUBLE)))
                        * ((CAST(2.2 AS DOUBLE) * tf_0) /
                           (tf_0 + CAST(1.2 AS DOUBLE) *
                             (0.25 + 0.75 * (dl / st.avgdl))))
                      + ln(1.0 + (n_docs - df_1 + CAST(0.5 AS DOUBLE)) /
                           (df_1 + CAST(0.5 AS DOUBLE)))
                        * ((CAST(2.2 AS DOUBLE) * tf_1) /
                           (tf_1 + CAST(1.2 AS DOUBLE) *
                             (0.25 + 0.75 * (dl / st.avgdl)))))
                      + ln(1.0 + (n_docs - df_2 + CAST(0.5 AS DOUBLE)) /
                           (df_2 + CAST(0.5 AS DOUBLE)))
                        * ((CAST(2.2 AS DOUBLE) * tf_2) /
                           (tf_2 + CAST(1.2 AS DOUBLE) *
                             (0.25 + 0.75 * (dl / st.avgdl)))) ) AS score
                    FROM p, st
                    WHERE tf_0 > 0 OR tf_1 > 0 OR tf_2 > 0)
              SELECT doc_id,
                     CAST(row_number() OVER
                       (ORDER BY score DESC, doc_id) AS INT) AS r
              FROM scored ORDER BY score DESC, doc_id LIMIT 100""")),

    // ---- T13 bigram-LM scoring (Stupid Backoff), rank oracle ----------
    // CCNet-style reference-corpus scoring: train on the English
    // sub-corpus, score every document by avg per-token log score,
    // rank top 50. Same hash-compare strategy as g11: ln is libm and
    // double sums are merge-order-nondeterministic at the ulp level, so
    // the graded output carries the 2⁻²⁰-quantized average (≫ ulp
    // noise, ≪ inter-doc gaps) — verified hash-exact at all three SFs.
    // The scoring CTE chain (train + score + quantize, ending in
    // w = (doc_id, qlp)) is shared verbatim with t24's tercile split.
    Q("t13_ngram_logprob_rank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (_, scored) = lmQlpScored(s, d)
        scored
          .orderBy(desc("qlp"), col("doc_id"))
          .limit(50)
          // constant partition key: post-limit the window sees ≤ 50 rows
          .select(col("doc_id"), col("qlp"), row_number().over(
            Window.partitionBy(lit(1))
              .orderBy(desc("qlp"), col("doc_id"))).as("r"))
      },
      Some(s"""WITH $sqlLmQlp,
              top AS (SELECT doc_id, qlp FROM w
                      ORDER BY qlp DESC, doc_id LIMIT 50)
              SELECT doc_id, qlp,
                     CAST(row_number() OVER (ORDER BY qlp DESC, doc_id)
                          AS INT) AS r
              FROM top ORDER BY r""")),

    // ---- T24 CCNet head/middle/tail perplexity terciles ---------------
    // The CCNet (Wenzek 2020 §4.3) bucketing step downstream pipelines
    // mix on: every document's 2⁻²⁰-quantized LM score (the t13 chain,
    // shared verbatim) ranked WITHIN its language, then split by
    // rank-based terciles — pure integer arithmetic (3·rk vs n), no
    // percentile interpolation, so the split replays exactly in any
    // engine. head = most reference-like third. At production scale the
    // rank windows become sampled thresholds broadcast to a comparison
    // scan (the t16 discussion); the graded fixture ranks exactly.
    Q("t24_ccnet_buckets",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (docs, scored) = lmQlpScored(s, d)
        docs.select(col("doc_id"), col("lang"))
          .join(scored, Seq("doc_id"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(desc("qlp"), col("doc_id"))))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
          .withColumn("bucket",
            when(col("rk") * 3 <= col("n"), "head")
              .when(col("rk") * 3 <= col("n") * 2, "middle")
              .otherwise("tail"))
          .select("doc_id", "lang", "qlp", "bucket")
          .orderBy("doc_id")
      },
      Some(s"""WITH $sqlLmQlp,
              r AS (SELECT w.doc_id, d.lang, w.qlp,
                      row_number() OVER
                        (PARTITION BY d.lang
                         ORDER BY w.qlp DESC, w.doc_id) AS rk,
                      count(*) OVER (PARTITION BY d.lang) AS n
                    FROM w JOIN documents d ON d.doc_id = w.doc_id)
              SELECT doc_id, lang, qlp,
                     CASE WHEN rk * 3 <= n THEN 'head'
                          WHEN rk * 3 <= n * 2 THEN 'middle'
                          ELSE 'tail' END AS bucket
              FROM r ORDER BY doc_id""")),

    // ---- T14 Gopher-style quality-rule battery (full hash oracle) -----
    // The composite document filter every pre-training pipeline runs
    // before anything expensive: five rule families (length bounds,
    // mean-word-length bounds, top-token repetition, distinct-token
    // ratio, stopword presence) → per-rule 0/1 flags → one keep flag.
    // Thresholds are tuned so this corpus splits non-trivially on every
    // rule (measured at sf0.01: n_tok 10–99, mean_len 3.7–5.3, top_frac
    // .05–.30, distinct .28–1.0, stop 0–.22). All ratios are single
    // integer divisions; all comparisons see bit-identical doubles in
    // both engines, so the battery hash-matches end to end.
    Q("t14_quality_rules",
      (s, d) => TextPipeline.qualityRules(load(s, d, "documents"),
          "doc_id", "text",
          minTokens = 20L, maxTokens = 95L,
          minMeanTokLen = 4.0, maxMeanTokLen = 5.0,
          maxTopTokenFrac = 0.125, minDistinctRatio = 0.4,
          minStopwordRatio = 0.03)
        .orderBy("doc_id"),
      Some {
        val stop = TextFunctions.stopwords.map(w => s"'$w'").mkString(", ")
        s"""WITH t AS (SELECT doc_id, string_split(lower(trim(
                 regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))), ' ')
                 AS toks
               FROM documents),
              f AS (SELECT doc_id, unnest(toks) AS tok FROM t),
              c AS (SELECT doc_id, tok, count(*) AS c FROM f
                    GROUP BY doc_id, tok),
              a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
                      count(*) AS n_distinct, max(c) AS top_c,
                      CAST(sum(CASE WHEN tok IN ($stop) THEN c ELSE 0 END)
                        AS BIGINT) AS stop_hits,
                      CAST(sum(length(tok) * c) AS BIGINT) AS n_chars
                    FROM c GROUP BY doc_id),
              sg AS (SELECT doc_id, n_tok,
                      CAST(n_chars AS DOUBLE) / CAST(n_tok AS DOUBLE)
                        AS mean_tok_len,
                      CAST(top_c AS DOUBLE) / CAST(n_tok AS DOUBLE)
                        AS top_token_frac,
                      CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE)
                        AS distinct_ratio,
                      CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE)
                        AS stopword_ratio
                     FROM a)
              SELECT doc_id, n_tok, mean_tok_len, top_token_frac,
                     distinct_ratio, stopword_ratio,
                     CAST(n_tok >= 20 AND n_tok <= 95 AS INT) AS r_len,
                     CAST(mean_tok_len >= 4.0 AND mean_tok_len <= 5.0
                       AS INT) AS r_mean_len,
                     CAST(top_token_frac <= 0.125 AS INT) AS r_top,
                     CAST(distinct_ratio >= 0.4 AS INT) AS r_distinct,
                     CAST(stopword_ratio >= 0.03 AS INT) AS r_stop,
                     CAST(n_tok >= 20 AND n_tok <= 95
                       AND mean_tok_len >= 4.0 AND mean_tok_len <= 5.0
                       AND top_token_frac <= 0.125
                       AND distinct_ratio >= 0.4
                       AND stopword_ratio >= 0.03 AS INT) AS keep
              FROM sg ORDER BY doc_id"""
      }),

    // ---- D1 exact deduplication: hash-groupBy, keep min id ------------
    // The 100 TB path: one shuffle on the 128-bit fingerprint; no text
    // comparison, no sort. Duplicate groups carry their sizes.
    Q("d01_dedup_exact",
      (s, d) => load(s, d, "documents")
        .groupBy(fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
      Some("""SELECT md5(text) AS fp, min(doc_id) AS keep_id,
                     count(*) AS n_copies
              FROM documents GROUP BY md5(text) ORDER BY keep_id""")),

    // ---- D13 soft deduplication (down-weight, don't drop) --------------
    // The reweighting alternative to hard dedup (SoftDedup, He et al.
    // 2024): every copy of a duplicated document survives with sampling
    // weight 1/n_copies, so the group's total mass equals one fresh
    // document and no unique content is lost. Per-doc table: group
    // size, canonical flag (min doc_id — d01's keep rule), weight as
    // ONE IEEE division of exact integers. One fingerprint groupBy +
    // one doc-keyed join back; composes upstream of any g-family
    // sampler as its weight column.
    Q("d13_soft_dedup",
      (s, d) => {
        val docs = load(s, d, "documents")
          .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        val g = docs.groupBy("fp")
          .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        docs.join(g, Seq("fp"))
          .select(col("doc_id"), col("n_copies"),
            (col("doc_id") === col("keep_id")).as("is_canonical"),
            (lit(1.0) / col("n_copies").cast("double")).as("weight"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT md5(text) AS fp, count(*) AS n_copies,
                           min(doc_id) AS keep_id
                         FROM documents GROUP BY md5(text))
              SELECT d.doc_id, g.n_copies,
                     d.doc_id = g.keep_id AS is_canonical,
                     CAST(1.0 AS DOUBLE) / CAST(g.n_copies AS DOUBLE)
                       AS weight
              FROM documents d JOIN g ON md5(d.text) = g.fp
              ORDER BY d.doc_id""")),

    // ---- T15 URL parse + blocklist filter (web-crawl curation) --------
    // The C4/CCNet front door: parse host/path/registered-domain out of
    // each document's URL, drop blocklisted hosts, aggregate per host.
    // URLs are synthesized from (source, lang, doc_id) since the corpus
    // carries no url column — the parsing, filtering, and per-domain
    // accounting are the operators under test. regexp-based extraction
    // (TextFunctions.urlHost/urlPath/registeredDomain) runs the same
    // patterns verbatim in the oracle. One scan + one partial-agg
    // shuffle on host; the blocklist is a literal NOT IN pushed to the
    // scan.
    Q("t15_url_filter",
      (s, d) => {
        import graft.operators.TextFunctions.{urlHost, urlPath, registeredDomain}
        val urls = load(s, d, "documents").select(col("doc_id"),
          concat(lit("https://www."), col("source"), lit(".example.com/"),
            col("lang"), lit("/doc-"), col("doc_id")).as("url"))
        val parsed = urls.select(col("doc_id"),
          urlHost(col("url")).as("host"), urlPath(col("url")).as("path"))
        parsed
          .filter(!col("host").isin("www.src1.example.com",
            "www.src7.example.com"))
          .groupBy(col("host"), registeredDomain(col("host")).as("domain"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("path")).as("n_paths"),
            min(col("doc_id")).as("min_doc"))
          .orderBy("host")
      },
      Some("""WITH u AS (SELECT doc_id,
                    'https://www.' || source || '.example.com/' || lang ||
                      '/doc-' || doc_id AS url
                  FROM documents),
                p AS (SELECT doc_id,
                        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1) AS host,
                        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1)
                          AS path
                      FROM u)
              SELECT host,
                     regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain,
                     count(*) AS n_docs,
                     count(DISTINCT path) AS n_paths,
                     min(doc_id) AS min_doc
              FROM p
              WHERE host NOT IN ('www.src1.example.com',
                                 'www.src7.example.com')
              GROUP BY host, domain ORDER BY host""")),

    // ---- T18 BPE merge-candidate counting (tokenizer training round) --
    // One byte-pair-encoding inner-loop round from the character
    // vocabulary: adjacent 2-char pairs weighted by word frequency, top
    // 20 merge candidates. The distinct-word aggregation runs BEFORE
    // the pair explode (vocab-sized shuffle, not token-sized — see
    // TextPipeline.bpePairCounts). Pure string/int arithmetic →
    // hash-exact; (cnt DESC, pair ASC) totally orders the cut line.
    Q("t18_bpe_pairs",
      (s, d) => TextPipeline.bpePairCounts(
          load(s, d, "documents"), "text", k = 20),
      Some("""WITH toks AS (SELECT unnest(string_split(
                      lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                      ' ')) AS w
                    FROM documents),
                   wc AS (SELECT w, count(*) AS freq FROM toks
                          WHERE len(w) >= 2 GROUP BY w),
                   g AS (SELECT w, freq,
                           unnest(generate_series(1, len(w) - 1)) AS i
                         FROM wc)
              SELECT substr(w, i, 2) AS pair,
                     CAST(sum(freq) AS BIGINT) AS cnt
              FROM g GROUP BY pair
              ORDER BY cnt DESC, pair LIMIT 20""")),

    // ---- T20 BPE encoding against a fixed ranked merge list -----------
    // The apply-side of byte-pair encoding (Sennrich et al. 2016):
    // every word starts as single characters and repeatedly merges its
    // lowest-rank adjacent pair (leftmost occurrence) — provably equal
    // to the classic all-occurrences-per-round formulation because a
    // merge only creates pairs involving its own output symbol, whose
    // merges rank strictly later (Tokenize.bpeWord). The merge list is
    // a FIXED literal (shared verbatim with the oracle below), so the
    // oracle replays the whole encode as a recursive CTE: per in-flight
    // (doc, word) symbol list, one set-based arg_min picks the
    // (rank, position) minimum over the pair×merge join; states whose
    // pairs match nothing simply stop recursing and arg_max(syms, step)
    // reads each word's final state. Graded per doc: token count + md5
    // fingerprint of the chr(1)-joined token sequence. Corpus-derived
    // training (Tokenize.bpeTrain) is t21's job.
    Q("t20_bpe_encode",
      (s, d) => {
        val enc = graft.operators.Tokenize.bpeEncode(
          load(s, d, "documents"), "text", TextQueries.t20Merges)
        enc.select(col("doc_id"),
            size(col("bpe")).cast("long").as("n_bpe"),
            md5(concat_ws("\u0001", col("bpe"))).as("bpe_md5"))
          .orderBy("doc_id")
      },
      Some {
        val mvals = t20Merges.zipWithIndex
          .map { case ((a, b), r) => s"($r, '$a', '$b')" }.mkString(", ")
        s"""WITH RECURSIVE
            m(rank, a, b) AS (SELECT * FROM (VALUES $mvals) t),
            $sqlDocWords,
            rec(doc_id, wi, syms, step, live) AS (
              SELECT doc_id, wi, string_split(w, ''), 0,
                     len(string_split(w, '')) >= 2
              FROM toks
              UNION ALL
              SELECT doc_id, wi,
                     list_concat(list_concat(syms[1:bi-1],
                       [syms[bi] || syms[bi+1]]), syms[bi+2:]),
                     step + 1,
                     len(syms) > 2
              FROM (
                SELECT r0.doc_id, r0.wi, r0.syms, r0.step,
                       arg_min(g.i, m.rank * 1000000 + g.i) AS bi
                FROM (SELECT * FROM rec WHERE live) r0,
                     unnest(generate_series(1, len(r0.syms) - 1))
                       AS g(i), m
                WHERE m.a = r0.syms[g.i] AND m.b = r0.syms[g.i + 1]
                GROUP BY r0.doc_id, r0.wi, r0.syms, r0.step
              )
            ),
            final AS (SELECT doc_id, wi, arg_max(syms, step) AS syms
                      FROM rec GROUP BY doc_id, wi),
            pieces AS (SELECT doc_id, wi, i, syms[i] AS tok
                       FROM final,
                            unnest(generate_series(1, len(syms))) AS g(i)),
            perdoc AS (SELECT doc_id,
                         CAST(count(*) AS BIGINT) AS n_bpe,
                         md5(string_agg(tok, chr(1) ORDER BY wi, i))
                           AS bpe_md5
                       FROM pieces GROUP BY doc_id)
            SELECT d.doc_id, coalesce(p.n_bpe, 0) AS n_bpe,
                   coalesce(p.bpe_md5, md5('')) AS bpe_md5
            FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
            ORDER BY d.doc_id"""
      }),

    // ---- T21 BPE training on the corpus (full hash oracle) ------------
    // Tokenizer TRAINING at the production scale shape: one distributed
    // pass reduces the corpus to its distinct-word count table, the
    // merge loop runs over that bounded table (Tokenize.bpeTrain — the
    // HF design; no per-round corpus scan). The oracle replays the
    // WHOLE training — word counts AND all 30 merge rounds — as a
    // DuckDB recursive CTE over the same bounded table: each step
    // explodes every in-flight word's adjacent symbol pairs, takes the
    // frequency-weighted global best via window functions (sum over
    // (a,b) partitions, then first_value over (cnt DESC, a, b) — the
    // driver loop's exact tie-break), selects the LEFT-TO-RIGHT
    // non-overlapping occurrences per word (gaps-and-islands: within a
    // run of consecutive match positions keep even offsets — exactly
    // the i += 2 greedy scan), and rebuilds each symbol list with one
    // list_transform. The chosen pair rides the recursion as (ma, mb),
    // so the ranked merge table itself is graded — plus the same
    // chain_ok/char_ok invariant columns, recomputed in SQL.
    // TokenizeSuite keeps the hand-computable fixtures and determinism.
    // ~1 s of DuckDB time at sf0.1 (the recursion runs over the
    // CAPPED word table, not the corpus).
    Q("t21_bpe_train",
      (s, d) => {
        import s.implicits._
        val docs = load(s, d, "documents")
        val merges = graft.operators.Tokenize.bpeTrain(docs, "text",
          nMerges = 30)
        val alphabet = docs.select(
            explode(split(graft.operators.Dedup.normalize(col("text")), ""))
              .as("c"))
          .filter(col("c") =!= "" && col("c") =!= " ")
          .distinct().collect().map(_.getString(0)).toSet
        val produced = merges.map { case (a, b) => a + b }
        val rows = merges.zipWithIndex.map { case ((a, b), r) =>
          // char_ok: single-char sides occur in the corpus alphabet;
          // chain_ok: multi-char sides were produced by an EARLIER
          // merge. "char" = CODE POINT (codePointCount, not the UTF-16
          // String.length the r16 review caught here): bpeTrain's
          // symbols and the oracle's len() are both per-code-point, so
          // a supplementary-plane character is ONE char on all three
          // sides — UTF-16 length would misclassify it as a chain side
          def cpLen(s: String): Int = s.codePointCount(0, s.length)
          val charOk = Seq(a, b).filter(cpLen(_) == 1)
            .forall(alphabet.contains)
          val chainOk = Seq(a, b).filter(cpLen(_) > 1)
            .forall(produced.take(r).contains)
          (r, a, b, a + b, chainOk, charOk)
        }
        rows.toDF("rank", "left", "right", "merged", "chain_ok", "char_ok")
          .orderBy("rank")
      },
      Some(s"""WITH RECURSIVE
              $sqlDocWords,
              wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM toks
                     GROUP BY w ORDER BY n DESC, w LIMIT 50000),
              rec(w, n, syms, step, ma, mb) AS (
                SELECT w, n, string_split(w, ''), 0,
                       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
                FROM wc
                UNION ALL
                SELECT w, n,
                       list_filter(
                         list_transform(generate_series(1, len(syms)), j ->
                           CASE WHEN list_contains(kept, j)
                                  THEN syms[j] || syms[j + 1]
                                WHEN list_contains(kept, j - 1) THEN NULL
                                ELSE syms[j] END),
                         x -> x IS NOT NULL) AS syms,
                       step + 1, ba, bb
                FROM (
                  SELECT w, n, syms, step, ba, bb,
                         coalesce(list(i ORDER BY i) FILTER (WHERE keep),
                                  []) AS kept
                  FROM (
                    SELECT *, is_m AND
                           ((i - min(i) OVER (PARTITION BY w, is_m, grp))
                             % 2 = 0) AS keep
                    FROM (
                      SELECT *, CASE WHEN is_m
                             THEN i - row_number() OVER
                               (PARTITION BY w, is_m ORDER BY i)
                             END AS grp
                      FROM (
                        SELECT *, (a = ba AND b = bb) AS is_m
                        FROM (
                          SELECT *,
                                 first_value(a) OVER wb AS ba,
                                 first_value(b) OVER wb AS bb
                          FROM (
                            SELECT *,
                                   sum(n) OVER (PARTITION BY a, b) AS cnt
                            FROM (
                              SELECT f.w, f.n, f.syms, f.step, g.i,
                                     f.syms[g.i] AS a,
                                     f.syms[g.i + 1] AS b
                              FROM (SELECT * FROM rec WHERE step < 30) f,
                                   unnest(generate_series(1,
                                     len(f.syms) - 1)) AS g(i)
                            )
                          )
                          WINDOW wb AS (ORDER BY cnt DESC, a, b
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING)
                        )
                      )
                    )
                  )
                  GROUP BY w, n, syms, step, ba, bb
                )
              ),
              merges AS (SELECT CAST(step - 1 AS INT) AS rank,
                                ma AS l, mb AS r
                         FROM (SELECT DISTINCT step, ma, mb FROM rec
                               WHERE step >= 1)),
              alpha AS (SELECT DISTINCT c FROM
                          (SELECT unnest(string_split(w, '')) AS c
                           FROM toks)
                        WHERE c <> '')
              SELECT m.rank, m.l AS "left", m.r AS "right",
                     m.l || m.r AS merged,
                     (len(m.l) = 1 OR EXISTS (SELECT 1 FROM merges e
                        WHERE e.rank < m.rank AND e.l || e.r = m.l))
                     AND (len(m.r) = 1 OR EXISTS (SELECT 1 FROM merges e
                        WHERE e.rank < m.rank AND e.l || e.r = m.r))
                       AS chain_ok,
                     (len(m.l) > 1 OR EXISTS (SELECT 1 FROM alpha
                        WHERE c = m.l))
                     AND (len(m.r) > 1 OR EXISTS (SELECT 1 FROM alpha
                        WHERE c = m.r)) AS char_ok
              FROM merges m ORDER BY m.rank""")),

    // ---- T19 WordPiece tokenizer application (full hash oracle) -------
    // The apply-side of tokenizer training: greedy longest-match tiling
    // of every word against a corpus-derived vocab (top-200 words +
    // full character coverage, so no [UNK] can occur on this corpus).
    // Graded per doc: piece count, UNK count, and an md5 fingerprint of
    // the exact piece sequence — the oracle below replays the ENTIRE
    // encoding (vocab construction included) in DuckDB. TokenizeSuite
    // keeps the roundtrip/UNK contracts and classic fixtures.
    Q("t19_wordpiece",
      (s, d) => {
        val docs = load(s, d, "documents")
        val vocab = graft.operators.Tokenize.corpusVocab(docs, "text",
          topWords = 200)
        val enc = graft.operators.Tokenize.wordpieceEncode(docs, "text",
          vocab)
        enc.select(col("doc_id"),
            size(col("pieces")).cast("long").as("n_pieces"),
            size(filter(col("pieces"),
              p => p === lit(graft.operators.Tokenize.Unk)))
              .cast("long").as("n_unk"),
            md5(concat_ws("\u0001", col("pieces"))).as("pieces_md5"))
          .orderBy("doc_id")
      },
      // Full hash oracle: DuckDB rebuilds the vocab (top-200 words by
      // (count desc, word asc) + per-char pieces + ## continuations)
      // and replays the greedy longest-match tiling as a RECURSIVE CTE
      // whose step picks, per in-flight (doc, word, pos) state, the
      // longest matching vocab piece via one arg_max over the vocab
      // relation — set-based, no correlated subquery; a position with
      // no match marks the word failed → ['[UNK]'], exactly
      // Tokenize.wordpieceWord's contract. The graded row carries the
      // piece count, UNK count, and an md5 fingerprint of the
      // chr(1)-joined piece sequence (md5 is byte-identical across
      // engines; pieces contain no chr(1)). The continuation test keys
      // on the '##' prefix, which is unambiguous because the corpus
      // contains no '#' (checked; a vocab word could otherwise collide
      // with a continuation form). ~2.4 s at sf0.1.
      Some(s"""WITH RECURSIVE
              $sqlDocWords,
              wcnt AS (SELECT w, count(*) AS n FROM toks GROUP BY w),
              words AS (SELECT w AS piece FROM wcnt
                        ORDER BY n DESC, w LIMIT 200),
              chars AS (SELECT DISTINCT c AS piece
                        FROM (SELECT unnest(string_split(w, '')) AS c
                              FROM toks)
                        WHERE c <> ''),
              v0 AS (SELECT piece FROM words
                     UNION SELECT piece FROM chars
                     UNION SELECT '##' || piece FROM chars),
              v AS (SELECT piece,
                      CASE WHEN piece LIKE '##%' THEN substring(piece, 3)
                           ELSE piece END AS raw,
                      piece LIKE '##%' AS cont
                    FROM v0),
              rec(doc_id, wi, word, pos, piece, ok) AS (
                SELECT doc_id, wi, w, 1, CAST(NULL AS VARCHAR), true
                FROM toks
                UNION ALL
                SELECT doc_id, wi, word,
                       pos + length(CASE WHEN m LIKE '##%'
                                         THEN substring(m, 3)
                                         ELSE m END),
                       m, m IS NOT NULL
                FROM (
                  SELECT r0.doc_id, r0.wi, r0.word, r0.pos,
                         arg_max(
                           CASE WHEN (CASE WHEN r0.pos = 1 THEN NOT v.cont
                                           ELSE v.cont END)
                                  AND substring(r0.word, r0.pos,
                                        length(v.raw)) = v.raw
                                THEN v.piece END,
                           CASE WHEN (CASE WHEN r0.pos = 1 THEN NOT v.cont
                                           ELSE v.cont END)
                                  AND substring(r0.word, r0.pos,
                                        length(v.raw)) = v.raw
                                THEN length(v.raw) ELSE -1 END) AS m
                  FROM (SELECT doc_id, wi, word, pos FROM rec
                        WHERE ok AND pos <= length(word)) r0, v
                  GROUP BY r0.doc_id, r0.wi, r0.word, r0.pos
                ) s(doc_id, wi, word, pos, m)
              ),
              failed AS (SELECT DISTINCT doc_id, wi FROM rec WHERE NOT ok),
              tiled AS (SELECT r.doc_id, r.wi, r.pos, r.piece FROM rec r
                        ANTI JOIN failed f
                          ON f.doc_id = r.doc_id AND f.wi = r.wi
                        WHERE r.piece IS NOT NULL),
              allp AS (SELECT * FROM tiled
                       UNION ALL
                       SELECT doc_id, wi, 1, '[UNK]' FROM failed),
              perdoc AS (SELECT doc_id,
                           CAST(count(*) AS BIGINT) AS n_pieces,
                           CAST(sum(CASE WHEN piece = '[UNK]'
                                         THEN 1 ELSE 0 END) AS BIGINT)
                             AS n_unk,
                           md5(string_agg(piece, chr(1)
                             ORDER BY wi, pos)) AS pieces_md5
                         FROM allp GROUP BY doc_id)
              SELECT d.doc_id, coalesce(p.n_pieces, 0) AS n_pieces,
                     coalesce(p.n_unk, 0) AS n_unk,
                     coalesce(p.pieces_md5, md5('')) AS pieces_md5
              FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
              ORDER BY d.doc_id""")),

    // ---- T22 model-based quality filtering (classifier scoring) -------
    // The FineWeb-Edu-shaped pipeline stage: TRAIN a classifier on weak
    // labels, then SCORE and filter the whole corpus with it — as one
    // graded query, not two disconnected halves. Weak label: heuristic
    // language ID == 'en' (t02's marker argmax); feature: the English
    // stopword ratio (t01's signal, which genuinely separates the
    // label). Training is 3 portable quantized-IRLS steps
    // (Logistic.fitPortable2, the m06 machinery — exact-decimal moment
    // sums, 2⁻²⁰-quantized sigmoid/coefficients, so exp ulp drift never
    // reaches the hash); scoring broadcasts the 1-row (b0, b1) frame
    // and quantizes the corpus-wide sigmoid the same way. Scale shape:
    // 3 + 1 full scans regardless of N, k×k solve in-plan, classifier
    // rides a broadcast — the 100 TB classifier-filter contract. The
    // oracle reuses StatsQueries.sqlIrls2 verbatim over the text
    // features, so the two IRLS renditions cannot diverge.
    Q("t22_quality_classifier",
      (s, d) => classifierScored(s, d)
        .select(col("doc_id"), col("y").cast("int").as("y"),
          col("score"), (col("score") >= 0.5).as("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH $sqlClassifierScored
             SELECT doc_id, CAST(y AS INT) AS y, score,
                    score >= 0.5 AS keep
             FROM sc ORDER BY doc_id""")),

    // ---- T29 classifier reliability (calibration) curve -----------------
    // The model-eval table read before trusting t22's scores as
    // sampling weights or thresholds: decile bins of the predicted
    // score vs the realized positive rate, plus the per-bin calibration
    // gap. The quantized score times 2²⁰ is an EXACT integer, so every
    // bin statistic is integer sums and single IEEE divisions — the
    // whole diagram hash-matches. Shares the full scoring chain with
    // t22 on both sides (classifierScored / sqlClassifierScored).
    Q("t29_calibration_curve",
      (s, d) => classifierScored(s, d)
        .select(
          least(floor(col("score") * lit(10.0)), lit(9L)).cast("int")
            .as("bin"),
          col("y").cast("long").as("yi"),
          (col("score") * lit(1048576.0)).cast("long").as("sq"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"), sum(col("yi")).as("n_pos"),
          sum(col("sq")).as("__sm"))
        .select(col("bin"),
          (col("bin").cast("double") / lit(10.0)).as("tau_lo"),
          col("n"), col("n_pos"),
          (col("__sm").cast("double")
            / (col("n") * lit(1048576L)).cast("double")).as("mean_pred"),
          (col("n_pos").cast("double") / col("n").cast("double"))
            .as("frac_pos"))
        .withColumn("gap", col("frac_pos") - col("mean_pred"))
        .orderBy("bin"),
      Some(s"""WITH $sqlClassifierScored,
              bn AS (SELECT least(CAST(floor(score * 10.0) AS BIGINT), 9)
                        AS bin,
                      CAST(y AS BIGINT) AS yi,
                      CAST(score * 1048576.0 AS BIGINT) AS sq
                     FROM sc),
              g AS (SELECT bin, count(*) AS n,
                      CAST(sum(yi) AS BIGINT) AS n_pos,
                      CAST(sum(sq) AS BIGINT) AS sm
                    FROM bn GROUP BY bin)
              SELECT CAST(bin AS INT) AS bin,
                     CAST(bin AS DOUBLE) / 10.0 AS tau_lo, n, n_pos,
                     CAST(sm AS DOUBLE)
                       / CAST(n * 1048576 AS DOUBLE) AS mean_pred,
                     CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                       AS frac_pos,
                     CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
                       - CAST(sm AS DOUBLE)
                         / CAST(n * 1048576 AS DOUBLE) AS gap
              FROM g ORDER BY bin""")),

    // ---- T23 unigram-LM (SentencePiece-style) Viterbi segmentation ----
    // Completes the tokenizer trio (t19 WordPiece greedy tiling, t20/t21
    // BPE): probabilistic segmentation under a frequency-derived piece
    // distribution — per word, the max-logp split by Viterbi DP. Graded
    // per doc as (n_words, n_pieces, exact-decimal score sum); the
    // oracle rebuilds the SAME vocab (capped word table → substring
    // counts → chars + top-400 multi pieces → 2⁻²⁰-quantized ln) and
    // replays the DP as a recursive CTE whose rows carry a sliding
    // 4-state window — dp[i..i−3] — so each recursion step is a pure
    // scalar transition (no window functions, ONE recursive reference).
    // Candidate choice is (score DESC, pieces ASC, piece length ASC) on
    // identical doubles in both engines; per-path score accumulates
    // left-to-right, so the sums are bit-equal. Scale shape: vocab from
    // ONE distributed word-count pass (the t21 capped table), DP as a
    // broadcast-vocab UDF (the t19/t20 rationale), one doc-keyed rollup.
    Q("t23_unigram_segment",
      (s, d) => {
        val (_, per) = unigramPerdoc(s, d)
        per.orderBy("doc_id")
      },
      Some {
        s"""WITH RECURSIVE $sqlUnigramPerdoc
             SELECT d.doc_id, coalesce(p.n_words, 0) AS n_words,
                    coalesce(p.n_pieces, 0) AS n_pieces,
                    coalesce(p.lp, 0.0) AS lp
             FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
             ORDER BY d.doc_id"""
      }),

    // ---- T30 per-domain unigram KL divergence ---------------------------
    // The domain-shift statistic data selection ranks sources by:
    // D(P_source ‖ Q_corpus) over the shared t07/t08 token chain, each
    // p·ln(p/q) term 2⁻²⁰-quantized before the exact-integer sum (the
    // t27 libm convention). One explode pass to the (source, token)
    // frame; the marginals join is vocabulary-keyed and the corpus
    // totals ride a |sources|-row window.
    Q("t30_domain_kl",
      (s, d) => TextPipeline.domainKl(
        load(s, d, "documents"), "source", "text"),
      Some("""WITH f AS (SELECT source AS dom,
                     unnest(string_split(lower(trim(
                       regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tok
                   FROM documents),
                  cd AS (SELECT dom, tok, count(*) AS cdv
                         FROM f GROUP BY dom, tok),
                  cv AS (SELECT tok, CAST(sum(cdv) AS BIGINT) AS cv
                         FROM cd GROUP BY tok),
                  pd AS (SELECT dom, CAST(sum(cdv) AS BIGINT) AS n_toks,
                           count(*) AS n_types
                         FROM cd GROUP BY dom),
                  c AS (SELECT dom, n_toks, n_types,
                          CAST(sum(n_toks) OVER () AS BIGINT) AS ctot
                        FROM pd),
                  t AS (SELECT cd.dom,
                          CAST(floor(
                            (CAST(cd.cdv AS DOUBLE) / CAST(c.n_toks AS DOUBLE))
                            * ln((CAST(cd.cdv AS DOUBLE)
                                    / CAST(c.n_toks AS DOUBLE))
                                 / (CAST(cv.cv AS DOUBLE)
                                    / CAST(c.ctot AS DOUBLE)))
                            * 1048576.0 + 0.5) AS BIGINT) AS tq
                        FROM cd JOIN cv USING (tok) JOIN c USING (dom)),
                  k AS (SELECT dom, CAST(sum(tq) AS BIGINT) AS kl_q
                        FROM t GROUP BY dom)
              SELECT c.dom AS source, c.n_toks, c.n_types, k.kl_q
              FROM c JOIN k USING (dom) ORDER BY source""")),

    // ---- T25 DoReMi-style domain mixture reweighting ------------------
    // One exponentiated-gradient step of Group-DRO domain reweighting
    // (Xie et al. 2023 §3): per-source excess loss from the t13 LM
    // chain (shared verbatim — a source whose docs score below the
    // corpus mean is "harder" and gets up-weighted), boost = exp(λ_d)
    // re-quantized to 2⁻²⁰ (the m06/t23 libm convention), then
    // w_d ∝ n_d · boost_d. Every aggregate is an exact integer sum and
    // every double is one IEEE division/subtraction of exact integers,
    // so the mixture table hash-matches end to end. One corpus scan →
    // |sources| rows; the EG step never touches corpus-sized data.
    Q("t25_doremi_mixture",
      (s, d) => {
        val (docs, scored) = lmQlpScored(s, d)
        graft.operators.Samplers.doremiReweight(
            docs.select(col("doc_id"), col("source"))
              .join(scored, Seq("doc_id")),
            "source", "qlp")
          .orderBy("source")
      },
      Some(s"""WITH $sqlLmQlp,
              dm AS (SELECT d.source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(w.qlp) AS BIGINT) AS s_qlp
                     FROM w JOIN documents d ON d.doc_id = w.doc_id
                     GROUP BY d.source),
              g AS (SELECT source, n_docs,
                      greatest(CAST(0.0 AS DOUBLE),
                        (CAST((SELECT CAST(sum(s_qlp) AS BIGINT) FROM dm)
                              AS DOUBLE)
                          / CAST((SELECT CAST(sum(n_docs) AS BIGINT)
                                  FROM dm) AS DOUBLE)
                         - CAST(s_qlp AS DOUBLE) / CAST(n_docs AS DOUBLE))
                        / 1048576.0) AS lam
                    FROM dm),
              eb AS (SELECT source, n_docs,
                      CAST(floor(exp(lam) * 1048576.0 + 0.5) AS BIGINT)
                        AS boost_q
                    FROM g),
              r AS (SELECT source, n_docs, boost_q,
                      n_docs * boost_q AS raw FROM eb)
              SELECT source, n_docs, boost_q,
                     CAST(raw AS DOUBLE)
                       / CAST((SELECT CAST(sum(raw) AS BIGINT) FROM r)
                              AS DOUBLE) AS weight
              FROM r ORDER BY source""")),

    // ---- T26 quality-threshold retention sweep -------------------------
    // The threshold-ablation table a pipeline reads before committing
    // to a quality cutoff (the FineWeb recipe, Penedo et al. 2024
    // §3.2): for each τ in {0, 0.05, …, 0.95}, surviving doc count,
    // surviving token mass, and token retention fraction. One corpus
    // pass bucketing each doc by the highest τ it passes (bit-identical
    // score + literal comparisons replay in any engine), then a reverse
    // cumulative sum over the 20-row grid — empty buckets still emit
    // their grid row. Counts are exact integers; tau and token_frac are
    // single IEEE divisions of exact integers.
    Q("t26_threshold_sweep",
      (s, d) => TextPipeline.thresholdSweep(
        load(s, d, "documents")
          .select(qualityScore(col("text")).as("quality"),
            tokenCount(col("text")).as("n_toks")),
        "quality", "n_toks", nSteps = 20),
      Some {
        val whens = (1 until 20).reverse.map { i =>
          s"WHEN quality >= CAST('${i.toDouble / 20}' AS DOUBLE) THEN $i"
        }.mkString("\n                        ")
        s"""WITH q AS (SELECT $sqlQuality AS quality, $sqlNTok AS n_toks
                       FROM documents),
              bk AS (SELECT CASE $whens ELSE 0 END AS b, n_toks FROM q),
              pb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_toks) AS BIGINT) AS n_toks
                     FROM bk GROUP BY b),
              grid AS (SELECT i AS b FROM generate_series(0, 19) AS t(i)),
              f AS (SELECT grid.b,
                      coalesce(pb.n_docs, 0) AS n_docs,
                      coalesce(pb.n_toks, 0) AS n_toks
                    FROM grid LEFT JOIN pb ON pb.b = grid.b),
              c AS (SELECT b,
                      CAST(sum(n_docs) OVER (ORDER BY b DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS docs_kept,
                      CAST(sum(n_toks) OVER (ORDER BY b DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS tokens_kept,
                      CAST(sum(n_toks) OVER () AS BIGINT) AS tot
                    FROM f)
              SELECT CAST(b AS DOUBLE) / 20.0 AS tau, docs_kept,
                     tokens_kept,
                     CAST(tokens_kept AS DOUBLE) / CAST(tot AS DOUBLE)
                       AS token_frac
              FROM c ORDER BY tau"""
      }),

    // ---- T28 per-language tokenizer fertility ---------------------------
    // The multilingual tokenizer-quality census (pieces per word by
    // language — the fertility metric tokenizer-fairness analyses rank
    // languages by): t23's unigram segmentation rolled up per lang.
    // The SQL chain is the shared sqlUnigramPerdoc (ONE definition with
    // t23); fertility is ONE IEEE division of exact integer sums.
    Q("t28_fertility",
      (s, d) => {
        val (docs, per) = unigramPerdoc(s, d)
        docs.select("doc_id", "lang").join(per, Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_pieces")).as("n_pieces"))
          // a language of all-empty documents has zero words: emit NULL
          // (DuckDB's IEEE 0/0 would be NaN — the one cross-engine gap)
          .withColumn("fertility", when(col("n_words") > 0,
            col("n_pieces").cast("double") / col("n_words").cast("double")))
          .orderBy("lang")
      },
      Some(s"""WITH RECURSIVE $sqlUnigramPerdoc,
              pl AS (SELECT d.lang, d.doc_id,
                       coalesce(p.n_words, 0) AS nw,
                       coalesce(p.n_pieces, 0) AS np
                     FROM documents d
                     LEFT JOIN perdoc p ON p.doc_id = d.doc_id)
              SELECT lang, count(*) AS n_docs,
                     CAST(sum(nw) AS BIGINT) AS n_words,
                     CAST(sum(np) AS BIGINT) AS n_pieces,
                     CASE WHEN CAST(sum(nw) AS BIGINT) > 0 THEN
                       CAST(CAST(sum(np) AS BIGINT) AS DOUBLE)
                         / CAST(CAST(sum(nw) AS BIGINT) AS DOUBLE)
                     END AS fertility
              FROM pl GROUP BY lang ORDER BY lang""")),

    // ---- T27 character-entropy gibberish signal ------------------------
    // Per-document Shannon entropy of the character distribution (the
    // C4/RefinedWeb-class cleaning heuristic: low = repeated filler,
    // high = encoded noise). Each −p·log₂p term is 2⁻²⁰-quantized
    // BEFORE summation so log₂'s libm ulp drift never reaches the
    // exact-integer per-doc total — the full table hash-matches.
    Q("t27_char_entropy",
      (s, d) => TextPipeline.charEntropy(
        load(s, d, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ch AS (SELECT doc_id, substring(text, i, 1) AS c
                          FROM documents,
                               unnest(generate_series(1, length(text)))
                                 AS t(i)
                          WHERE text IS NOT NULL),
                   cc AS (SELECT doc_id, c, count(*) AS k FROM ch
                          GROUP BY doc_id, c),
                   n AS (SELECT doc_id,
                           CAST(sum(k) AS BIGINT) AS n_chars_dist,
                           count(*) AS n_distinct
                         FROM cc GROUP BY doc_id),
                   q AS (SELECT cc.doc_id,
                           CAST(floor(
                             (CAST(k AS DOUBLE)
                                / CAST(n.n_chars_dist AS DOUBLE))
                             * log2(CAST(k AS DOUBLE)
                                / CAST(n.n_chars_dist AS DOUBLE))
                             * 1048576.0 + 0.5) AS BIGINT) AS tq
                         FROM cc JOIN n USING (doc_id)),
                   e AS (SELECT doc_id, CAST(-sum(tq) AS BIGINT) AS ent_q
                         FROM q GROUP BY doc_id)
              SELECT n.doc_id, n.n_chars_dist, n.n_distinct, e.ent_q
              FROM n JOIN e USING (doc_id)
              ORDER BY doc_id"""))
  )
}
