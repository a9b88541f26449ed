package graft.queries

import graft.operators.{ConnectedComponents, Dedup, Packing, Sampling, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data text operators over `documents` (SURVEY.md §2C
  * LLM-pipeline row): quality stats, language ID, fingerprinting, exact and
  * near-duplicate detection (MinHash+LSH, SimHash, blocked n-gram Jaccard).
  * Every query's oracle replays the SAME hash/signature arithmetic in
  * DuckDB, so signatures — not just aggregates — are verified.
  */
object TextQueries extends Catalog {

  private val P = TextAnalysis.HashPrime
  private def aList = Dedup.HashA.mkString("[", ", ", "]")
  private def bList = Dedup.HashB.mkString("[", ", ", "]")

  /** The composite quality gate's four flags — single source of truth for
    * q_text_quality (reported per-flag) and q_pipeline_curate (applied as
    * one conjunctive filter). Spark side: codegen'd map-side predicates.
    */
  private def qualityFlags(text: org.apache.spark.sql.Column)
      : Seq[(String, org.apache.spark.sql.Column)] = {
    val tkCount = TextAnalysis.tokenCount(text)
    val distinctRatio =
      size(array_distinct(TextAnalysis.tokens(text))).cast("double") / tkCount
    val mwl = TextAnalysis.avgWordLen(text)
    Seq(
      "wc_ok" -> (tkCount >= 25 && tkCount <= 90),
      "distinct_ok" -> (distinctRatio >= 0.5),
      "mwl_ok" -> (mwl >= 3.0 && mwl <= 5.0),
      "stop_ok" -> (TextAnalysis.stopwordCount(text) >= 2))
  }
  private def qualityKeep(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    qualityFlags(text).map(_._2).reduce(_ && _)

  /** DuckDB equivalents, evaluated over a relation exposing `tk`
    * (pre-split token list) and `text` — same shapes q_text_quality's
    * oracle aliases per-flag.
    */
  private val qualityWcSql = "len(tk) BETWEEN 25 AND 90"
  private val qualityDistinctSql =
    "CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) >= 0.5"
  private val qualityMwlSql =
    """CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / len(tk) BETWEEN 3.0 AND 5.0"""
  private def qualityStopSql =
    s"len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')) >= 2"
  private def qualityKeepSql =
    s"$qualityWcSql AND $qualityDistinctSql AND $qualityMwlSql AND $qualityStopSql"

  /** DuckDB CTE chain tokens → shingle-hash sets → minhash signatures over
    * source relation `src`, with CTE names prefixed by `p` so two corpora
    * (e.g. a sampled train set and a benchmark set) can carry independent
    * chains in one statement. The two-level fold mirrors
    * Dedup.shingleHashesFromTokenHashes: chars → token hash (polyHash),
    * then token-hash window → shingle hash (same 31-fold mod P; DuckDB's
    * init-less list_reduce starts acc at the first element, which equals
    * Spark's 0-init fold since 0·31 + h₁ = h₁).
    */
  private def shingleCtesFrom(src: String, p: String = ""): String =
    s"""${p}tok AS (
       |  SELECT doc_id, lang, source, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM $src
       |), ${p}th AS (
       |  SELECT doc_id, lang, source,
       |    list_transform(toks, s -> list_reduce(
       |      list_transform(string_split(s, ''), ch -> CAST(ascii(ch) AS BIGINT)),
       |      (acc, x) -> (acc * 31 + x) % $P)) AS th
       |  FROM ${p}tok
       |), ${p}sh AS (
       |  SELECT doc_id, lang, source,
       |    list_distinct(list_transform(range(1, greatest(len(th) - 2, 1) + 1),
       |                                 i -> list_reduce(th[i:i+2],
       |                                        (acc, x) -> (acc * 31 + x) % $P))) AS shd
       |  FROM ${p}th
       |), ${p}sig AS (
       |  SELECT doc_id, shd,
       |    list_transform(range(0, 16), j ->
       |      list_min(list_transform(shd, x -> ($aList[j+1] * x + $bList[j+1]) % $P))) AS sig
       |  FROM ${p}sh
       |)""".stripMargin

  /** Shared DuckDB CTEs: tokens → shingle-hash sets → minhash signatures. */
  private val duckShingleCtes = "WITH " + shingleCtesFrom("documents")

  /** LSH band + candidate-pair CTEs (appended after [[duckShingleCtes]]) —
    * shared by the pair query and the connected-components queries so the
    * two oracles cannot drift apart.
    */
  private val duckBandCandCtes =
    """, bands AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, 4), b ->
      |      CAST(b AS VARCHAR) || '_' ||
      |      array_to_string(list_transform(sig[b*4+1 : b*4+4],
      |                                     s -> CAST(s AS VARCHAR)), ','))) AS band_key
      |  FROM sig
      |), cand AS (
      |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bands x JOIN bands y ON x.band_key = y.band_key AND x.doc_id < y.doc_id
      |)""".stripMargin

  /** Full chain up to per-document component labels: near-dup pairs →
    * symmetric edges → min-reachability via a recursive CTE (`WITH
    * RECURSIVE` distinct-union fixed point) — the engine-independent
    * definition of connected components that
    * [[graft.operators.ConnectedComponents]] must agree with.
    */
  private val duckPairsToCompCtes =
    s""", pairs AS (
       |  SELECT a, b
       |  FROM cand
       |  JOIN sh sa ON cand.a = sa.doc_id
       |  JOIN sh sb ON cand.b = sb.doc_id
       |  WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
       |        / len(list_distinct(sa.shd || sb.shd)) >= 0.5
       |), edges AS (
       |  SELECT a AS u, b AS v FROM pairs UNION SELECT b AS u, a AS v FROM pairs
       |), reach(u, v) AS (
       |  SELECT u, u FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
       |), comp AS (
       |  SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
       |)""".stripMargin

  private val duckCcCtes =
    duckShingleCtes.replaceFirst("WITH ", "WITH RECURSIVE ") + duckBandCandCtes +
      duckPairsToCompCtes

  def queries: Map[String, Q] = Map(
    // Unicode NFC canonicalization (functions/NfcNormalizeExpression, a
    // codegen kernel with an allocation-free ASCII bypass) — the
    // must-run-first step of corpus dedup: unicode-equivalent spellings
    // ("Café" precomposed vs "Cafe"+combining-acute, "Å" vs the Angstrom
    // sign) hash differently until composed, so every equivalent pair
    // silently survives exact/MinHash dedup. The testdata text is ASCII
    // (the bypass path), so each doc gets a deterministic doc_id%3 suffix
    // exercising real composition: case 0 decomposed, case 1 the
    // precomposed equivalent (must canonicalize to IDENTICAL bytes),
    // case 2 the Angstrom sign + decomposed diaeresis. The canonical
    // string — NFC → lower → whitespace-collapse — is compared hash-exact
    // against DuckDB's utf8proc nfc_normalize, proving the JDK and
    // utf8proc agree on UAX#15 for these classes. nfc_changed shows which
    // rows composition actually rewrote. Scale shape: pure map-side
    // narrow transform inside WholeStageCodegen; ASCII rows never decode.
    "q_text_canonicalize" -> Q(
      t => {
        // Explicit \u escapes so no editor/VCS normalization pass can
        // silently collapse the decomposed case into the precomposed one.
        val decomposed = "Cafe\u0301 Me\u0301nu"
        val precomposed = "Caf\u00e9 M\u00e9nu"
        val angstrom = "\u212Bngstro\u0308m Caf\u00e9"
        val suffix = when(pmod(col("doc_id"), lit(3)) === 0, lit(decomposed))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit(precomposed))
          .otherwise(lit(angstrom))
        val raw = concat_ws(" ", substring(col("text"), 1, 30), suffix)
        t.documents
          .select(col("doc_id"), raw.as("raw"))
          .select(col("doc_id"),
            lower(regexp_replace(trim(
              graft.functions.NfcNormalizeExpression.column(col("raw"))),
              "\\s+", " ")).as("canon"),
            (graft.functions.NfcNormalizeExpression.column(col("raw"))
              =!= col("raw")).as("nfc_changed"))
          .orderBy(col("doc_id"), col("canon"), col("nfc_changed"))
      },
      Some("""WITH raw AS (
              |  SELECT doc_id,
              |         substring(text, 1, 30) || ' ' ||
              |         CASE doc_id % 3
              |           WHEN 0 THEN 'Cafe' || chr(769) || ' Me' || chr(769) || 'nu'
              |           WHEN 1 THEN 'Caf' || chr(233) || ' M' || chr(233) || 'nu'
              |           ELSE chr(8491) || 'ngstro' || chr(776) || 'm Caf' || chr(233)
              |         END AS raw
              |  FROM documents
              |)
              |SELECT doc_id,
              |       lower(regexp_replace(trim(nfc_normalize(raw)), '\s+', ' ', 'g')) AS canon,
              |       nfc_normalize(raw) <> raw AS nfc_changed
              |FROM raw
              |ORDER BY doc_id NULLS FIRST, canon NULLS FIRST, nfc_changed NULLS FIRST""".stripMargin)),


    // Hashing-trick feature space (Weinberger et al. 2009 — the fixed-
    // dimension text featurizer that needs NO vocabulary pass): every
    // token maps to bucket = md5-prefix mod 64 via the repo's standard
    // engine-portable hex parse (Sampling's draw convention), and the
    // output profiles the hashed space — distinct terms per bucket (the
    // collision load), total term frequency, and document frequency.
    // This is the diagnostic a feature-hashing pipeline runs before
    // committing to a dimension: a skewed n_terms histogram means the
    // dimension is too small. Scale shape: tokenize + hash are pure map;
    // the three distinct-aggregates ride ONE expand + (bucket, …) hash
    // aggregate with partial combine — no vocabulary broadcast, no
    // global dictionary, which is the entire point of the hashing trick
    // at 100 TB (a learned vocab needs a second corpus pass; the hash
    // doesn't).
    "q_text_feature_hash" -> Q(
      t => {
        val tok = t.documents.select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        tok
          .select(col("doc_id"), col("term"),
            pmod(expr("conv(substring(md5(term), 1, 8), 16, 10)").cast("long"),
              lit(64L)).as("bucket"))
          .groupBy(col("bucket"))
          .agg(countDistinct(col("term")).as("n_terms"),
            count(lit(1)).as("tf_total"),
            countDistinct(col("doc_id")).as("df_docs"))
          .orderBy(col("bucket"))
      },
      Some("""WITH tok AS (
              |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
              |  FROM documents
              |), b AS (
              |  SELECT doc_id, term,
              |         CAST(concat('0x', substring(md5(term), 1, 8)) AS BIGINT) % 64
              |           AS bucket
              |  FROM tok
              |)
              |SELECT bucket, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms,
              |       CAST(COUNT(*) AS BIGINT) AS tf_total,
              |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs
              |FROM b GROUP BY bucket
              |ORDER BY bucket NULLS FIRST""".stripMargin)),

    "q_text_stats" -> Q(
      t => t.documents.select(
        col("doc_id"),
        col("lang"),
        length(col("text")).as("n_chars"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.punctCount(col("text")).as("n_punct"),
        TextAnalysis.stopwordCount(col("text")).as("n_stopwords"),
        TextAnalysis.bpePieceCount(col("text")).as("n_bpe_pieces"),
        round(TextAnalysis.avgWordLen(col("text")), 2).as("avg_word_len"))
        .orderBy(col("doc_id"), col("lang"), col("n_chars"), col("n_tokens"),
          col("n_punct"), col("n_stopwords"), col("n_bpe_pieces"), col("avg_word_len")),
      Some(s"""SELECT doc_id, lang,
                      CAST(length(text) AS INTEGER) AS n_chars,
                      CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
                      CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS INTEGER) AS n_punct,
                      CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')) AS INTEGER) AS n_stopwords,
                      CAST(len(regexp_extract_all(text, '${TextAnalysis.BpePiecePattern.replace("'", "''")}')) AS INTEGER) AS n_bpe_pieces,
                      ROUND(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                            / len(string_split_regex(trim(text), '\\s+')), 2) AS avg_word_len
               FROM documents
               ORDER BY doc_id NULLS FIRST, lang NULLS FIRST, n_chars NULLS FIRST,
                        n_tokens NULLS FIRST, n_punct NULLS FIRST, n_stopwords NULLS FIRST,
                        n_bpe_pieces NULLS FIRST, avg_word_len NULLS FIRST""")),

    "q_text_langid" -> Q(
      t => t.documents
        .groupBy(TextAnalysis.langId(col("text")).as("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("predicted_lang"), col("n")),
      Some {
        val scoreStructs = TextAnalysis.LangMarkers.map { case (code, pattern) =>
          s"{'neg_score': -CAST(len(regexp_extract_all(lower(text), '${pattern}')) AS BIGINT), 'lang': '$code'}"
        }.mkString("[", ", ", "]")
        s"""SELECT list_min($scoreStructs).lang AS predicted_lang, COUNT(*) AS n
           |FROM documents
           |GROUP BY 1
           |ORDER BY predicted_lang NULLS FIRST, n NULLS FIRST""".stripMargin
      }),

    // Classifier-eval confusion matrix: the n-gram langid heuristic
    // scored against the documents table's LABELED lang column — the
    // eval loop every heuristic filter needs before it gates a corpus
    // (precision per class falls straight out of the (label, predicted)
    // counts; the sibling of q_sim_nearest_centroid's embedding-space
    // confusion). One map-side classification + one two-key hash
    // aggregate — eval cost is a single corpus pass at any scale.
    "q_text_lang_confusion" -> Q(
      t => t.documents
        .groupBy(col("lang").as("label"),
          TextAnalysis.langId(col("text")).as("predicted"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("predicted")),
      Some {
        val scoreStructs = TextAnalysis.LangMarkers.map { case (code, pattern) =>
          s"{'neg_score': -CAST(len(regexp_extract_all(lower(text), '${pattern}')) AS BIGINT), 'lang': '$code'}"
        }.mkString("[", ", ", "]")
        s"""SELECT lang AS label, list_min($scoreStructs).lang AS predicted,
           |       COUNT(*) AS n
           |FROM documents
           |GROUP BY 1, 2
           |ORDER BY label NULLS FIRST, predicted NULLS FIRST""".stripMargin
      }),

    "q_text_fingerprint" -> Q(
      t => t.documents.select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        sha2(col("text"), 256).as("sha"))
        .orderBy(col("doc_id"), col("fp"), col("sha")),
      Some(s"""SELECT doc_id,
                      list_reduce(list_transform(string_split(text, ''),
                                                 ch -> CAST(ascii(ch) AS BIGINT)),
                                  (acc, x) -> (acc * 31 + x) % $P) AS fp,
                      sha256(text) AS sha
               FROM documents
               ORDER BY doc_id NULLS FIRST, fp NULLS FIRST, sha NULLS FIRST""")),

    "q_dedup_exact" -> Q(
      t => t.documents
        .groupBy(sha2(substring(col("text"), 1, 100), 256).as("prefix_sha"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dupes"))
        .filter(col("n_dupes") >= 2)
        .orderBy(col("prefix_sha"), col("keep_id"), col("n_dupes")),
      Some("""SELECT sha256(substring(text, 1, 100)) AS prefix_sha,
                     MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
              FROM documents
              GROUP BY 1 HAVING COUNT(*) >= 2
              ORDER BY prefix_sha NULLS FIRST, keep_id NULLS FIRST, n_dupes NULLS FIRST""")),

    "q_dedup_minhash_sig" -> Q(
      t => t.documents
        // materialize shd as an attribute: minhashSignature references its
        // input 16× (one array_min per hash row), so an embedded expression
        // would recompute the shingle fold per row
        .select(col("doc_id"),
          Dedup.shingleHashesFromTokenHashes(
            Dedup.tokenHashesFromText(col("text"))).as("__shd"))
        .select(
          col("doc_id"),
          concat_ws(",",
            transform(
              Dedup.minhashSignature(col("__shd")),
              _.cast("string"))).as("sig"))
        .orderBy(col("doc_id"), col("sig")),
      Some(s"""$duckShingleCtes
               |SELECT doc_id,
               |       array_to_string(list_transform(sig, s -> CAST(s AS VARCHAR)), ',') AS sig
               |FROM sig
               |ORDER BY doc_id NULLS FIRST, sig NULLS FIRST""".stripMargin)),

    // Corpus-wide top-k bigram counts — the vocabulary/BPE-prep statistic.
    // Scale shape at 100 TB: explode is map-side, the groupBy count is ONE
    // hash shuffle with partial (map-side) aggregation doing almost all the
    // reduction — n-gram frequency follows Zipf, so the hot keys are
    // exactly the ones partial agg collapses — and the top-k is a
    // TakeOrdered over the aggregated (already small) key space, never a
    // global sort of the raw grams. Tokens are materialized into their own
    // column BEFORE the bigram HOF (lambda re-evaluates embedded
    // expressions per element; attribute refs are free).
    "q_text_topk_ngrams" -> Q(
      t => {
        val grams = t.documents
          .select(TextAnalysis.tokens(col("text")).as("__tk"))
          .select(explode(when(size(col("__tk")) >= 2,
            transform(sequence(lit(1), size(col("__tk")) - 1),
              i => concat_ws(" ",
                element_at(col("__tk"), i),
                element_at(col("__tk"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("ngram"))
        grams.groupBy(col("ngram"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("ngram").asc)
          .limit(20)
      },
      Some("""WITH toks AS (
              |  SELECT string_split_regex(trim(text), '\s+') AS tk FROM documents
              |), grams AS (
              |  SELECT unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
              |                               i -> tk[i] || ' ' || tk[i + 1])) AS ngram
              |  FROM toks
              |)
              |SELECT ngram, COUNT(*) AS n
              |FROM grams GROUP BY ngram
              |ORDER BY n DESC NULLS FIRST, ngram ASC NULLS FIRST
              |LIMIT 20""".stripMargin)),

    // Inverted index with BOUNDED posting lists: term -> document frequency,
    // corpus tf, and the top-3 postings by (tf desc, doc_id). The bound is
    // the scale contract — a full posting list for a stopword is O(corpus)
    // in ONE reduce group at 100 TB, so the index keeps exact df/tf totals
    // (partial-agg'd longs) and truncates only the materialized postings
    // via a per-term window rank. Two key-changing shuffles: (term, doc_id)
    // for tf, then term for the rank + final rollup (the window and the
    // groupBy share the term hash partitioning — Catalyst reuses the
    // exchange rather than shuffling twice).
    "q_text_inverted_index" -> Q(
      t => {
        val tf = t.documents
          .select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("tf"))
        val w = Window.partitionBy(col("term"))
          .orderBy(col("tf").desc, col("doc_id").asc)
        tf.withColumn("rn", row_number().over(w))
          .groupBy(col("term"))
          .agg(
            count(lit(1)).as("df"),
            sum(col("tf")).as("total_tf"),
            concat_ws(",",
              transform(
                array_sort(collect_list(when(col("rn") <= 3,
                  struct(col("rn"), col("doc_id"), col("tf"))))),
                s => concat(s.getField("doc_id").cast("string"), lit(":"),
                  s.getField("tf").cast("string")))).as("postings"))
          .orderBy(col("term"))
      },
      Some("""WITH tf AS (
              |  SELECT term, doc_id, COUNT(*) AS tf
              |  FROM (SELECT doc_id,
              |               unnest(string_split_regex(trim(text), '\s+')) AS term
              |        FROM documents)
              |  GROUP BY term, doc_id
              |), ranked AS (
              |  SELECT *, row_number() OVER (PARTITION BY term
              |                               ORDER BY tf DESC, doc_id) AS rn
              |  FROM tf
              |)
              |SELECT term,
              |       COUNT(*) AS df,
              |       CAST(SUM(tf) AS BIGINT) AS total_tf,
              |       string_agg(CASE WHEN rn <= 3 THEN doc_id || ':' || tf END,
              |                  ',' ORDER BY rn) AS postings
              |FROM ranked GROUP BY term
              |ORDER BY term NULLS FIRST""".stripMargin)),

    // BM25 relevance ranking (Robertson et al., TREC-3) for a fixed term
    // set, in EXACT integer micro-units so both engines agree bit-for-bit:
    // with k1 = 6/5 and b = 3/4 multiplied out, the per-term score is two
    // integer divisions —
    //   idf_u   = (2N − 2df + 1)·10⁶ div (2df + 1)        [Lucene-style
    //             (N − df + ½)/(df + ½), log-free: the corpus is filtered
    //             to a handful of terms, so the log's dynamic-range
    //             compression buys nothing and costs parity]
    //   score_u = idf_u · 44·tf·avgdl div (20·tf·avgdl + 6·avgdl + 18·dl)
    // and the doc score is an exact long sum. Scale shape: dl rides the
    // explode (size(toks) before the generator), so tf needs NO join back
    // to a per-doc table — one (doc,term) shuffle + one doc rollup; df and
    // the 1-row corpus stats are broadcast. Overflow: idf_u·44·tf·avgdl
    // needs N·tf·avgdl < 2·10¹¹ — at web scale drop the fixed point to 10³.
    // Bigram language-model quality score — the KenLM-perplexity-filter
    // shape (CCNet / Gopher quality signal) in exact fixed point: train the
    // MLE bigram model ON the corpus itself (n2(w1,w2), n1(w1) = Σ_w2 n2),
    // then score each doc by its mean conditional probability, micro-unit
    // integers — p_u = n2·10⁶ div n1 — so both engines agree bit-for-bit
    // (no log, no float accumulation; ranking by mean probability orders
    // docs the same way mean log-prob would for a quality GATE, and stays
    // oracle-exact). Scale shape: bigrams ride one map-side explode (slice
    // + transform, no self-join); the model is two hash aggs (c1 derived
    // FROM c2, so the raw bigram stream shuffles once for counting); the
    // score join reuses c2's (w1,w2) partitioning via exchange reuse and
    // joins c1 unforced — AQE broadcasts the vocab-sized side at gated
    // scale, and a web-scale vocabulary (where even c1 outgrows the
    // broadcast threshold) degrades to a hash join on w1, not an error
    // (the salient-terms lesson: don't pin broadcast). The exploded stream is
    // deliberately NOT checkpointed: it is a narrow O(tokens) pipeline,
    // recomputing it per consumer is cheaper at 100 TB than materializing
    // the token stream to executor disk.
    "q_text_bigram_lm" -> Q(
      t => {
        val toks = t.documents.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val bg = toks.select(col("doc_id"),
          explode(transform(slice(col("toks"), lit(1), size(col("toks")) - 1),
            (x, i) => struct(x.as("w1"),
              element_at(col("toks"), i + 2).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n2"))
        val c1 = c2.groupBy(col("w1")).agg(sum(col("n2")).as("n1"))
        bg.join(c2, Seq("w1", "w2"))
          .join(c1, Seq("w1"))
          .select(col("doc_id"), expr("n2 * 1000000 div n1").as("p_u"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            expr("sum(p_u) div count(1)").as("avg_p_u"))
          .orderBy(col("avg_p_u").desc_nulls_last, col("doc_id"))
          .limit(50)
      },
      Some("""WITH toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              |  FROM documents
              |), bg AS (
              |  SELECT doc_id, unnest(list_transform(toks[1:len(toks)-1],
              |           (x, i) -> struct_pack(w1 := x,
              |                                 w2 := toks[CAST(i AS INTEGER) + 1]))) AS b
              |  FROM toks WHERE len(toks) >= 2
              |), bge AS (
              |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
              |), c2 AS (
              |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2 FROM bge GROUP BY 1, 2
              |), c1 AS (
              |  SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1
              |), sc AS (
              |  SELECT doc_id, (n2 * 1000000 // n1) AS p_u
              |  FROM bge JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
              |)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
              |       CAST(SUM(p_u) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avg_p_u
              |FROM sc GROUP BY doc_id
              |ORDER BY avg_p_u DESC NULLS LAST, doc_id
              |LIMIT 50""".stripMargin)),

    "q_text_bm25" -> Q(
      t => {
        val toks = t.documents.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("toks"))
        val stats = toks.agg(
          count(lit(1)).cast("long").as("n_docs"),
          expr("sum(cast(size(toks) as bigint)) div count(1)").as("avgdl"))
        val tf = toks
          .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
            explode(col("toks")).as("term"))
          .filter(col("term").isin("spark", "hash", "window", "vector"))
          .groupBy(col("doc_id"), col("dl"), col("term"))
          .agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfreq), "term")
          .crossJoin(broadcast(stats))
          .select(col("doc_id"),
            expr("""((2 * n_docs - 2 * df + 1) * 1000000 div (2 * df + 1))
                    * (44 * tf * avgdl)
                    div (20 * tf * avgdl + 6 * avgdl + 18 * dl)""").as("score_u"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms"), sum(col("score_u")).as("bm25_u"))
          .orderBy(col("bm25_u").desc_nulls_last, col("doc_id"))
          .limit(50)
      },
      Some("""WITH toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              |  FROM documents
              |), stats AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
              |         CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT)
              |           // CAST(COUNT(*) AS BIGINT) AS avgdl
              |  FROM toks
              |), tf AS (
              |  SELECT doc_id, dl, term, CAST(COUNT(*) AS BIGINT) AS tf
              |  FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
              |               unnest(toks) AS term
              |        FROM toks)
              |  WHERE term IN ('spark', 'hash', 'window', 'vector')
              |  GROUP BY 1, 2, 3
              |), df AS (
              |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
              |), sc AS (
              |  SELECT doc_id,
              |         (((2 * n_docs - 2 * df + 1) * 1000000 // (2 * df + 1))
              |          * (44 * tf * avgdl))
              |         // (20 * tf * avgdl + 6 * avgdl + 18 * dl) AS score_u
              |  FROM tf JOIN df USING (term) CROSS JOIN stats
              |)
              |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
              |       CAST(SUM(score_u) AS BIGINT) AS bm25_u
              |FROM sc GROUP BY doc_id
              |ORDER BY bm25_u DESC NULLS LAST, doc_id
              |LIMIT 50""".stripMargin)),

    // Per-doc repetition profile (TextAnalysis.repetitionStats): duplicate
    // n-gram occupancy — the Gopher/RefinedWeb "fraction of duplicate
    // n-grams" filter signal. Counts stay integral; ratios are rounded at
    // the edge. Docs shorter than 2 tokens have no bigrams: LEFT JOIN +
    // COALESCE 0 on both engines.
    "q_text_repetition" -> Q(
      t => {
        val rep = TextAnalysis.repetitionStats(t.documents, "doc_id", "text")
        val tk = TextAnalysis.tokens(col("text"))
        t.documents
          .select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens"),
            round(size(array_distinct(tk)).cast("double")
              / TextAnalysis.tokenCount(col("text")), 4).as("distinct_tok_ratio"))
          .join(rep, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tokens"), col("distinct_tok_ratio"),
            coalesce(col("n_grams"), lit(0L)).as("n_bigrams"),
            coalesce(col("top_gram_count"), lit(0L)).as("top_bigram_count"),
            round(coalesce(col("dup_gram_occ").cast("double") / col("n_grams"),
              lit(0.0)), 4).as("dup_bigram_frac"))
          .orderBy(col("doc_id"), col("n_tokens"), col("distinct_tok_ratio"),
            col("n_bigrams"), col("top_bigram_count"), col("dup_bigram_frac"))
      },
      Some("""WITH tok AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
              |), grams AS (
              |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
              |                                       i -> tk[i] || ' ' || tk[i + 1])) AS gram
              |  FROM tok
              |), gc AS (
              |  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, gram
              |), rep AS (
              |  SELECT doc_id,
              |         CAST(SUM(c) AS BIGINT) AS n_bigrams,
              |         CAST(MAX(c) AS BIGINT) AS top_bigram_count,
              |         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_occ
              |  FROM gc GROUP BY doc_id
              |)
              |SELECT t.doc_id,
              |       CAST(len(tk) AS INTEGER) AS n_tokens,
              |       ROUND(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 4) AS distinct_tok_ratio,
              |       COALESCE(r.n_bigrams, 0) AS n_bigrams,
              |       COALESCE(r.top_bigram_count, 0) AS top_bigram_count,
              |       ROUND(COALESCE(CAST(r.dup_occ AS DOUBLE) / r.n_bigrams, 0.0), 4) AS dup_bigram_frac
              |FROM tok t LEFT JOIN rep r ON t.doc_id = r.doc_id
              |ORDER BY t.doc_id NULLS FIRST, n_tokens NULLS FIRST,
              |         distinct_tok_ratio NULLS FIRST, n_bigrams NULLS FIRST,
              |         top_bigram_count NULLS FIRST, dup_bigram_frac NULLS FIRST""".stripMargin)),

    // Gopher-style composite quality gate: token-count bounds, distinct-
    // token ratio, mean-word-length bounds, stopword presence — each flag a
    // pure map-side codegen'd predicate over the text column (no shuffle;
    // the filter runs at scan speed and pushes through column pruning).
    // Thresholds chosen to discriminate on the testdata (each flag has both
    // outcomes populated at every sf, checked before landing). The flag
    // definitions live in qualityFlags/quality*Sql so q_pipeline_curate's
    // gate stage applies the IDENTICAL predicate on both engines.
    "q_text_quality" -> Q(
      t => t.documents
        .select(col("doc_id") +: qualityFlags(col("text")).map {
          case (n, c) => c.as(n) }: _*)
        .withColumn("keep",
          col("wc_ok") && col("distinct_ok") && col("mwl_ok") && col("stop_ok"))
        .orderBy(col("doc_id"), col("wc_ok"), col("distinct_ok"),
          col("mwl_ok"), col("stop_ok"), col("keep")),
      Some(s"""WITH tok AS (
               |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk, text
               |  FROM documents
               |), f AS (
               |  SELECT doc_id,
               |         $qualityWcSql AS wc_ok,
               |         $qualityDistinctSql AS distinct_ok,
               |         $qualityMwlSql AS mwl_ok,
               |         $qualityStopSql AS stop_ok
               |  FROM tok
               |)
               |SELECT doc_id, wc_ok, distinct_ok, mwl_ok, stop_ok,
               |       wc_ok AND distinct_ok AND mwl_ok AND stop_ok AS keep
               |FROM f
               |ORDER BY doc_id NULLS FIRST, wc_ok NULLS FIRST, distinct_ok NULLS FIRST,
               |         mwl_ok NULLS FIRST, stop_ok NULLS FIRST, keep NULLS FIRST""".stripMargin)),

    // Model-based quality scoring — the linear-classifier filter stage of a
    // curation pipeline (fastText/logistic-regression style): extract
    // integer features per document, dot them with a weight vector, gate on
    // a threshold. The weights here are deterministic stand-ins — a real
    // deployment substitutes trained coefficients — but the engine shape is
    // exactly what that deployment runs: pure map-side codegen'd feature
    // extraction + literal weight fold, no shuffle, filter at scan speed.
    // Numeric contract: features and weights are INTEGERS (milli-logit
    // scale), so the score is exact int64 arithmetic — no float dot product,
    // no sigmoid (monotone, so thresholding the logit is equivalent) —
    // and the oracle hashes identically on any engine.
    "q_text_quality_score" -> Q(
      t => {
        val tkn = TextAnalysis.tokenCount(col("text")).cast("long")
        val dkn = size(array_distinct(TextAnalysis.tokens(col("text")))).cast("long")
        val swn = TextAnalysis.stopwordCount(col("text")).cast("long")
        val chn = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
        t.documents
          .select(col("doc_id"), tkn.as("tk_n"), dkn.as("dk_n"),
            swn.as("sw_n"), chn.as("ch_n"))
          .withColumn("score_milli",
            lit(40L) * col("tk_n") + lit(60L) * col("dk_n") +
              lit(150L) * col("sw_n") - lit(9L) * col("ch_n"))
          .withColumn("keep", col("score_milli") > 1400L)
          .orderBy(col("doc_id"), col("tk_n"), col("dk_n"), col("sw_n"),
            col("ch_n"), col("score_milli"), col("keep"))
      },
      Some(s"""WITH tok AS (
               |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk, text
               |  FROM documents
               |), f AS (
               |  SELECT doc_id,
               |         CAST(len(tk) AS BIGINT) AS tk_n,
               |         CAST(len(list_distinct(tk)) AS BIGINT) AS dk_n,
               |         CAST(len(regexp_extract_all(lower(text), '${TextAnalysis.StopwordPattern}')) AS BIGINT) AS sw_n,
               |         CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS ch_n
               |  FROM tok
               |)
               |SELECT doc_id, tk_n, dk_n, sw_n, ch_n,
               |       40 * tk_n + 60 * dk_n + 150 * sw_n - 9 * ch_n AS score_milli,
               |       40 * tk_n + 60 * dk_n + 150 * sw_n - 9 * ch_n > 1400 AS keep
               |FROM f
               |ORDER BY doc_id NULLS FIRST, tk_n NULLS FIRST, dk_n NULLS FIRST,
               |         sw_n NULLS FIRST, ch_n NULLS FIRST, score_milli NULLS FIRST,
               |         keep NULLS FIRST""".stripMargin)),

    // Per-doc salient terms — the inverted-index / TF-IDF shape: term
    // frequency per doc (one partial-agg shuffle on (doc, term)), document
    // frequency per term (second partial-agg shuffle on term), join the
    // term-df relation back, score, window top-3 per doc. The df side is
    // vocabulary-sized — sublinear in the corpus but heavy-tailed, NOT
    // bounded at 100 TB — so the join hint is left to AQE: small vocab →
    // runtime broadcast; corpus-scale vocab → shuffle join on term, which
    // degrades instead of OOMing the way a forced broadcast would
    // (r7 verdict "what's wrong" #3).
    // Scoring is tf/df (df-normalized term frequency), NOT ln(N/df):
    // transcendental libm output is not bit-specified across engines, while
    // the integer→double division of identical ints is — same ranking
    // semantics for fixed N, exact cross-engine hashing. Ties break on term
    // asc, so the top-k set is deterministic.
    "q_text_salient_terms" -> Q(
      t => {
        val terms = t.documents
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__tk"))
          .select(col("doc_id"), explode(col("__tk")).as("term"))
        // tf feeds both the df rollup and the scored join: materialize it
        // once (eager localCheckpoint, ContextCleaner-released — the Dedup
        // signature-projection pattern; eager for the orphaned-backfill-job
        // reason on Dedup.lshNearDupPairs) or the corpus scan + explode +
        // first shuffle run twice, which is the cost that matters at 100 TB.
        val tf = terms.groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
          .localCheckpoint(true)
        val df = tf.groupBy(col("term"))
          .agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id"))
          .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
        tf.join(df, "term")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
            round(col("tf").cast("double") / col("df"), 4).as("tf_over_df"))
          .orderBy(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"),
            col("tf_over_df"))
      },
      Some("""WITH terms AS (
              |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
              |  FROM documents
              |), tf AS (
              |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
              |), df AS (
              |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
              |), ranked AS (
              |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
              |         row_number() OVER (PARTITION BY tf.doc_id
              |           ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC) AS rk
              |  FROM tf JOIN df ON tf.term = df.term
              |)
              |SELECT doc_id, CAST(rk AS INTEGER) AS rk, term, tf, df,
              |       ROUND(CAST(tf AS DOUBLE) / df, 4) AS tf_over_df
              |FROM ranked WHERE rk <= 3
              |ORDER BY doc_id NULLS FIRST, rk NULLS FIRST, term NULLS FIRST,
              |         tf NULLS FIRST, df NULLS FIRST, tf_over_df NULLS FIRST""".stripMargin)),

    // Vocabulary build + corpus encoding — the tokenize-to-ids prep step of
    // an LLM training pipeline: top-V terms by corpus frequency get dense
    // ids (1..V, OOV → 0) and every document becomes its id sequence.
    // Scale shape: the term count is one partial-agg'd shuffle; the global
    // ORDER BY/LIMIT + row_number run over the VOCABULARY-sized relation
    // (V rows after the limit — the single-partition window is V-bounded,
    // never corpus-bounded); the id map is broadcast so encoding is
    // map-side; the only corpus-sized exchange is the doc_id reassembly
    // groupBy, whose collect_list is bounded by document length. Ties at
    // the V boundary are deterministic ((cnt DESC, term ASC) on both
    // engines). ids arrays compare cell-exact under the gate — order
    // restored from posexplode positions via array_sort on (pos, tid).
    // BPE training's inner-loop statistic: corpus-wide counts of ADJACENT
    // SYMBOL PAIRS within words (the quantity each merge step of
    // byte-pair-encoding tokenizer training maximizes), reported as the
    // deterministic top-50 (count desc, pair asc — the tie order makes
    // the cut line engine-stable). Scale shape: two narrow explodes
    // (tokens, then intra-token pairs — no shuffle), one partial-agg'd
    // count shuffle over the pair vocabulary (bounded by |charset|², not
    // corpus size), and a TakeOrdered top-k. This is the full map-reduce
    // step of distributed BPE training; iterating it with a merge table
    // is the production loop.
    "q_text_bpe_pairs" -> Q(
      t => {
        val toks = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
        toks.select(explode(expr(
            """CASE WHEN length(tok) >= 2
              |     THEN transform(sequence(1, length(tok) - 1),
              |                    i -> substring(tok, i, 2))
              |     ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
            .as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("pair"))
          .limit(50)
      },
      Some("""WITH toks AS (
              |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
              |  FROM documents
              |), pairs AS (
              |  SELECT unnest(list_transform(range(1, length(tok)),
              |                               i -> substring(tok, i, 2))) AS pair
              |  FROM toks
              |)
              |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
              |FROM pairs GROUP BY pair
              |ORDER BY n DESC, pair
              |LIMIT 50""".stripMargin)),

    "q_text_vocab_encode" -> Q(
      t => {
        val toks = t.documents.select(col("doc_id"),
          posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "term")))
        val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("term").asc).limit(64)
        val w = Window.orderBy(col("cnt").desc, col("term").asc)
        val vocab = top.withColumn("tid", row_number().over(w).cast("long"))
        // ids is rendered as a space-delimited string (not a raw array):
        // the verification harness sorts result frames with pandas, which
        // cannot factorize array-typed columns. Same convention as every
        // other array-producing query in the catalog (Relational.scala).
        toks.join(broadcast(vocab.select(col("term"), col("tid"))), Seq("term"), "left")
          .withColumn("tid", coalesce(col("tid"), lit(0L)))
          .groupBy(col("doc_id"))
          .agg(
            array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("tid")))),
                s => s.getField("tid")), " ").as("ids"),
            sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"))
          .orderBy(col("doc_id"), col("n_oov"))
      },
      Some("""WITH tok AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
              |), toks AS (
              |  SELECT doc_id, unnest(tk) AS term, generate_subscripts(tk, 1) AS pos
              |  FROM tok
              |), top AS (
              |  SELECT term, COUNT(*) AS cnt FROM toks GROUP BY term
              |  ORDER BY cnt DESC, term ASC LIMIT 64
              |), vocab AS (
              |  SELECT term,
              |         CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS tid
              |  FROM top
              |), enc AS (
              |  SELECT t.doc_id, t.pos, COALESCE(v.tid, 0) AS tid
              |  FROM toks t LEFT JOIN vocab v ON t.term = v.term
              |)
              |SELECT doc_id, array_to_string(list(tid ORDER BY pos), ' ') AS ids,
              |       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
              |FROM enc GROUP BY doc_id
              |ORDER BY doc_id NULLS FIRST, n_oov NULLS FIRST""".stripMargin)),

    // Type-token ratio + hapax legomena — the two classic lexical-diversity
    // signals a pretraining quality filter reads next to the repetition
    // score (a low TTR flags template/boilerplate text; a high hapax share
    // flags OCR noise or codelike soup). One explode → one (doc, term)
    // hash agg → one per-doc agg, all partial-aggregated map-side; the
    // int/int ratio is one IEEE division rounded identically on both
    // engines (the jaccard convention).
    "q_text_ttr" -> Q(
      t => {
        val tc = t.documents.select(col("doc_id"),
            explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("c"))
        tc.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
            round(col("n_types") / col("n_tokens"), 4).as("ttr"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
              |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
              |  FROM documents
              |), tc AS (
              |  SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2
              |)
              |SELECT doc_id,
              |       CAST(SUM(c) AS BIGINT) AS n_tokens,
              |       CAST(COUNT(*) AS BIGINT) AS n_types,
              |       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
              |       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 4) AS ttr
              |FROM tc GROUP BY doc_id
              |ORDER BY doc_id NULLS FIRST""".stripMargin)),

    // Vocabulary coverage curve — the tokenizer-sizing question ("what
    // share of token OCCURRENCES does a top-k vocab cover?") answered in
    // exact parts-per-million integer arithmetic. Only ranks ≤ 64 ever
    // contribute, so the rank window runs on the top-64 TERMS (an
    // orderBy+limit = scale-safe TakeOrdered over the vocab, then a
    // 64-row constant-size window) — the r19 unpartitioned-window audit
    // rewrite: the old form ranked the ENTIRE vocabulary through one
    // partition, and vocabulary size is data-dependent (web-scale corpora
    // have billions of distinct "terms" under whitespace tokenization).
    // orderBy+limit picks exactly the same 64 rows the full rank's
    // r <= 64 filter kept (same unique total order: cnt desc, term asc),
    // so results are identical — the oracle keeps the full-vocab rank
    // spelling as the equivalence gate. The corpus-wide total rides its
    // own aggregate and joins back as one broadcast row.
    "q_text_vocab_coverage" -> Q(
      t => {
        val counts = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        val top = counts.orderBy(col("cnt").desc, col("term").asc).limit(64)
        val w = Window.orderBy(col("cnt").desc, col("term").asc) // ≤ 64 rows
        val covs = top.withColumn("r", row_number().over(w).cast("long"))
          .agg(
            sum(when(col("r") <= 16, col("cnt")).otherwise(0L)).as("cov16"),
            sum(when(col("r") <= 32, col("cnt")).otherwise(0L)).as("cov32"),
            sum(when(col("r") <= 64, col("cnt")).otherwise(0L)).as("cov64"))
        counts.agg(sum(col("cnt")).as("total"))
          .crossJoin(covs)
          .select(col("total"), col("cov16"), col("cov32"), col("cov64"),
            expr("cov16 * 1000000 div total").as("ppm16"),
            expr("cov32 * 1000000 div total").as("ppm32"),
            expr("cov64 * 1000000 div total").as("ppm64"))
      },
      Some("""WITH toks AS (
              |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
              |  FROM documents
              |), counts AS (
              |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY term
              |), ranked AS (
              |  SELECT cnt,
              |         CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT) AS r
              |  FROM counts
              |), agg AS (
              |  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
              |         CAST(SUM(CASE WHEN r <= 16 THEN cnt ELSE 0 END) AS BIGINT) AS cov16,
              |         CAST(SUM(CASE WHEN r <= 32 THEN cnt ELSE 0 END) AS BIGINT) AS cov32,
              |         CAST(SUM(CASE WHEN r <= 64 THEN cnt ELSE 0 END) AS BIGINT) AS cov64
              |  FROM ranked
              |)
              |SELECT total, cov16, cov32, cov64,
              |       cov16 * 1000000 // total AS ppm16,
              |       cov32 * 1000000 // total AS ppm32,
              |       cov64 * 1000000 // total AS ppm64
              |FROM agg""".stripMargin)),

    // Incremental (snapshot-delta) dedup — the 100 TB ingestion pattern:
    // an EXISTING corpus's content hashes gate a new delta batch, so only
    // never-seen documents survive (anti join on the hash), and the delta
    // dedups against itself by keep-first. The even/odd doc_id split is the
    // deterministic stand-in for snapshot-vs-new-crawl. Scale shape: one
    // hash-shuffle anti join on the digest + one keep-first hash agg — at
    // 100 TB the corpus side ships as a bloom/broadcast prefilter before
    // the exact anti join (same two-phase discipline as
    // q_dedup_decontaminate's broadcast bench side).
    "q_dedup_incremental" -> Q(
      t => {
        val hashed = t.documents.select(col("doc_id"),
          md5(col("text").cast("binary")).as("h"))
        val corpus = hashed.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .select(col("h")).distinct()
        val delta = hashed.filter(pmod(col("doc_id"), lit(2L)) === 1L)
        delta.join(corpus, Seq("h"), "left_anti")
          .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), col("h"))
          .orderBy(col("doc_id"), col("h"))
      },
      Some("""WITH hashed AS (
              |  SELECT doc_id, md5(text) AS h FROM documents
              |), corpus AS (
              |  SELECT DISTINCT h FROM hashed WHERE doc_id % 2 = 0
              |), delta AS (
              |  SELECT doc_id, h FROM hashed WHERE doc_id % 2 = 1
              |)
              |SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, h
              |FROM delta
              |WHERE h NOT IN (SELECT h FROM corpus)
              |GROUP BY h
              |ORDER BY doc_id NULLS FIRST, h NULLS FIRST""".stripMargin)),

    // Cross-source duplication matrix — dedup OBSERVABILITY: the same
    // LSH near-dup pairs aggregated by (source, source), which tells a
    // corpus owner WHERE the duplication lives (mirror sites, syndicated
    // feeds, self-duplication within one crawl) and which source pair to
    // dedup first. Pair sides normalize to an unordered (sa ≤ sb) key so
    // mirror-direction pairs collapse. Same candidate bound as
    // q_dedup_lsh_pairs (band blocking, Σ|bucket|²); the source
    // attribution is two broadcast-scale joins back to documents.
    "q_dedup_cross_source" -> Q(
      t => {
        val pairs = Dedup.lshNearDupPairs(t.documents, "doc_id", "text",
          threshold = 0.5)
        val src = t.documents.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), "a")
          .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), "b")
          .select(least(col("src_a"), col("src_b")).as("sa"),
            greatest(col("src_a"), col("src_b")).as("sb"))
          .groupBy(col("sa"), col("sb"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("sa"), col("sb"))
      },
      Some(s"""$duckShingleCtes$duckBandCandCtes, near AS (
               |  SELECT a, b
               |  FROM cand
               |  JOIN sh sa ON cand.a = sa.doc_id
               |  JOIN sh sb ON cand.b = sb.doc_id
               |  WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
               |        / len(list_distinct(sa.shd || sb.shd)) >= 0.5
               |)
               |SELECT LEAST(da.source, db.source) AS sa,
               |       GREATEST(da.source, db.source) AS sb,
               |       CAST(COUNT(*) AS BIGINT) AS n_pairs
               |FROM near
               |JOIN documents da ON near.a = da.doc_id
               |JOIN documents db ON near.b = db.doc_id
               |GROUP BY 1, 2
               |ORDER BY sa NULLS FIRST, sb NULLS FIRST""".stripMargin)),

    "q_dedup_lsh_pairs" -> Q(
      t => Dedup.lshNearDupPairs(t.documents, "doc_id", "text", threshold = 0.5)
        .select(col("a"), col("b"), round(col("j"), 4).as("j"))
        .orderBy(col("a"), col("b"), col("j")),
      Some(s"""$duckShingleCtes$duckBandCandCtes
               |SELECT a, b,
               |       ROUND(CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
               |             / len(list_distinct(sa.shd || sb.shd)), 4) AS j
               |FROM cand
               |JOIN sh sa ON cand.a = sa.doc_id
               |JOIN sh sb ON cand.b = sb.doc_id
               |WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
               |      / len(list_distinct(sa.shd || sb.shd)) >= 0.5
               |ORDER BY a NULLS FIRST, b NULLS FIRST, j NULLS FIRST""".stripMargin)),

    // Sketch-accuracy audit over the same candidate space as
    // q_dedup_lsh_pairs: MinHash slot-match estimate vs exact Jaccard in
    // integer micro-units (Dedup.minhashEstimatePairs scaladoc). The oracle
    // replays signatures AND slot comparison, so the estimator itself —
    // not just the candidates — is cross-engine verified.
    "q_dedup_minhash_est" -> Q(
      t => Dedup.minhashEstimatePairs(t.documents, "doc_id", "text")
        .orderBy(col("a"), col("b"), col("est_16"), col("j_micro"),
          col("err_micro")),
      Some(s"""$duckShingleCtes$duckBandCandCtes
               |SELECT a, b,
               |       CAST(list_sum(list_transform(range(0, 16), j ->
               |         CASE WHEN sa.sig[j+1] = sb.sig[j+1] THEN 1 ELSE 0 END)) AS BIGINT) AS est_16,
               |       CAST(len(list_intersect(sa.shd, sb.shd)) AS BIGINT) * 1000000
               |         // CAST(len(list_distinct(sa.shd || sb.shd)) AS BIGINT) AS j_micro,
               |       CAST(list_sum(list_transform(range(0, 16), j ->
               |         CASE WHEN sa.sig[j+1] = sb.sig[j+1] THEN 1 ELSE 0 END)) AS BIGINT) * 62500
               |         - CAST(len(list_intersect(sa.shd, sb.shd)) AS BIGINT) * 1000000
               |           // CAST(len(list_distinct(sa.shd || sb.shd)) AS BIGINT) AS err_micro
               |FROM cand
               |JOIN sig sa ON cand.a = sa.doc_id
               |JOIN sig sb ON cand.b = sb.doc_id
               |ORDER BY a NULLS FIRST, b NULLS FIRST, est_16 NULLS FIRST,
               |         j_micro NULLS FIRST, err_micro NULLS FIRST""".stripMargin)),

    "q_dedup_simhash" -> Q(
      // NO fanOutNarrowScan here (r18, measured): unlike
      // q_dedup_simhash_bands — where the kernel feeds a banded self-join
      // that amortizes the fan-out — this query is signature + sort only,
      // and the fan-out's full-text shuffle LOST to the single-task kernel
      // (0.377 → 0.638 s at sf0.1). Same verdict as the layout
      // curves: fan out only in front of kernels with heavy consumers.
      t => t.documents
        .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
        .orderBy(col("doc_id"), col("simhash")),
      Some(s"""SELECT doc_id,
               |       CAST(list_sum(list_transform(range(0, 30), i ->
               |         CASE WHEN list_sum(list_transform(hs, x ->
               |                (x // CAST(pow(2, i) AS BIGINT) % 2) * 2 - 1)) > 0
               |              THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash
               |FROM (SELECT doc_id,
               |             list_transform(string_split_regex(trim(text), '\\s+'), s ->
               |               list_reduce(list_transform(string_split(s, ''),
               |                                          ch -> CAST(ascii(ch) AS BIGINT)),
               |                           (acc, x) -> (acc * 31 + x) % $P)) AS hs
               |      FROM documents)
               |ORDER BY doc_id NULLS FIRST, simhash NULLS FIRST""".stripMargin)),

    // Labeled-quadratic all-pairs SimHash Hamming join — ORACLE BASELINE
    // ONLY (hence the baseline_ catalog prefix, r9 verdict task 5): the
    // source-blocked pair space is quadratic in the hottest block; the
    // production formulation is the banded q_dedup_simhash_bands below.
    "baseline_dedup_simhash_pairs" -> Q(
      t => {
        val sims = t.documents.select(
          col("doc_id"), col("source"), Dedup.simhash(col("text")).as("sim"))
        sims.as("x").join(sims.as("y"),
          col("x.source") === col("y.source") && col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            expr("bit_count(x.sim ^ y.sim)").cast("int").as("hamming"))
          .filter(col("hamming") <= 2)
          .orderBy(col("a"), col("b"), col("hamming"))
      },
      Some(s"""WITH sims AS (
               |  SELECT doc_id, source,
               |         CAST(list_sum(list_transform(range(0, 30), i ->
               |           CASE WHEN list_sum(list_transform(hs, x ->
               |                  (x // CAST(pow(2, i) AS BIGINT) % 2) * 2 - 1)) > 0
               |                THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sim
               |  FROM (SELECT doc_id, source,
               |               list_transform(string_split_regex(trim(text), '\\s+'), s ->
               |                 list_reduce(list_transform(string_split(s, ''),
               |                                            ch -> CAST(ascii(ch) AS BIGINT)),
               |                             (acc, x) -> (acc * 31 + x) % $P)) AS hs
               |        FROM documents)
               |)
               |SELECT x.doc_id AS a, y.doc_id AS b,
               |       CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
               |FROM sims x JOIN sims y ON x.source = y.source AND x.doc_id < y.doc_id
               |WHERE bit_count(xor(x.sim, y.sim)) <= 2
               |ORDER BY a NULLS FIRST, b NULLS FIRST, hamming NULLS FIRST""".stripMargin)),

    // Scale-safe SimHash Hamming dedup (Manku, Jain & Sarma, WWW'07 —
    // Google's near-dup detection): ALL corpus pairs at Hamming distance
    // ≤ 2 over the 30-bit SimHash, with NO blocking attribute and NO
    // quadratic pair space. Pigeonhole completeness: split the 30 bits
    // into 3 bands of 10; ≤ 2 differing bits touch ≤ 2 bands, so at least
    // one band is bit-identical and the pair meets in that band's bucket —
    // exact, not probabilistic. Candidate cost is Σ_bucket |bucket|² over
    // 3·2¹⁰ hash buckets (an equi-join shuffle on (band, value)), never
    // O(n²): this is the scale-safe exact twin of the labeled-quadratic
    // baseline_dedup_simhash_pairs baseline, the same upgrade
    // q_dedup_jaccard_prefix gives baseline_sim_near_dup. Rows carry their
    // simhash through the band
    // explode, so verification is a map-side bit_count on the joined row —
    // no join-back; distinct() runs only over surviving pairs (pairs agreeing
    // in multiple bands dedupe there). At 100 TB: widen to a 64-bit simhash
    // and k+1 bands for Hamming ≤ k (Manku's 64-bit/6-band production
    // setting); bucket skew is bounded because near-identical boilerplate
    // collapses to FEW DISTINCT simhash values whose buckets grow linearly,
    // which is exactly the duplication the query exists to find. The oracle
    // is the INDEPENDENT brute-force all-pairs form, so the oracle gate also
    // proves the pigeonhole completeness theorem on real data at both SFs.
    "q_dedup_simhash_bands" -> Q(
      t => {
        // fanOutNarrowScan (r18, re-budgeted r19): the SimHash kernel is
        // the whole cost of this projection; identity at scale. The r18
        // defaultParallelism target drove the driver-measured regression
        // (1.36→1.63 s, 8 cores beating 32 by 2×) — the helper's r19
        // byte budget caps the fan-out at ~9 partitions for this corpus
        // (8-way 1.16 s vs 32-way 1.38 s vs none 1.46 s).
        val sims = graft.operators.Partitioning.fanOutNarrowScan(
            t.documents.select(col("doc_id"), col("text")))
          .select(col("doc_id"), Dedup.simhash(col("text")).as("sim"))
          .localCheckpoint(true)
        val bands = sims.select(col("doc_id"), col("sim"),
            explode(sequence(lit(0), lit(2))).as("bi"))
          .select(col("doc_id"), col("sim"), col("bi"),
            expr("shiftright(sim, CAST(bi * 10 AS INT)) & 1023").as("bv"))
        bands.as("x").join(bands.as("y"),
            col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            expr("bit_count(x.sim ^ y.sim)").cast("int").as("hamming"))
          .filter(col("hamming") <= 2)
          .distinct()
          .orderBy(col("a"), col("b"), col("hamming"))
      },
      Some(s"""WITH sims AS (
               |  SELECT doc_id,
               |         CAST(list_sum(list_transform(range(0, 30), i ->
               |           CASE WHEN list_sum(list_transform(hs, x ->
               |                  (x // CAST(pow(2, i) AS BIGINT) % 2) * 2 - 1)) > 0
               |                THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sim
               |  FROM (SELECT doc_id,
               |               list_transform(string_split_regex(trim(text), '\\s+'), s ->
               |                 list_reduce(list_transform(string_split(s, ''),
               |                                            ch -> CAST(ascii(ch) AS BIGINT)),
               |                             (acc, x) -> (acc * 31 + x) % $P)) AS hs
               |        FROM documents)
               |)
               |SELECT x.doc_id AS a, y.doc_id AS b,
               |       CAST(bit_count(xor(x.sim, y.sim)) AS INTEGER) AS hamming
               |FROM sims x JOIN sims y ON x.doc_id < y.doc_id
               |WHERE bit_count(xor(x.sim, y.sim)) <= 2
               |ORDER BY a NULLS FIRST, b NULLS FIRST, hamming NULLS FIRST""".stripMargin)),

    "q_dedup_ngram_jaccard" -> Q(
      t => {
        val sh = t.documents
          .select(col("doc_id"), col("lang"),
            Dedup.tokenHashesFromText(col("text")).as("__th"))
          .select(col("doc_id"), col("lang"),
            Dedup.shingleHashesFromTokenHashes(col("__th")).as("shd"))
        sh.as("x").join(sh.as("y"),
          col("x.lang") === col("y.lang") && col("x.doc_id") < col("y.doc_id"))
          .withColumn("j", Dedup.jaccard(col("x.shd"), col("y.shd")))
          .filter(col("j") >= 0.5)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            round(col("j"), 4).as("j"))
          .orderBy(col("a"), col("b"), col("j"))
      },
      Some(s"""$duckShingleCtes
               |SELECT x.doc_id AS a, y.doc_id AS b,
               |       ROUND(CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE)
               |             / len(list_distinct(x.shd || y.shd)), 4) AS j
               |FROM sh x JOIN sh y ON x.lang = y.lang AND x.doc_id < y.doc_id
               |WHERE CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE)
               |      / len(list_distinct(x.shd || y.shd)) >= 0.5
               |ORDER BY a NULLS FIRST, b NULLS FIRST, j NULLS FIRST""".stripMargin)),

    // Prefix-filtered exact set-similarity self-join (Bayardo et al.,
    // WWW'07 "Scaling Up All Pairs Similarity Search" — the AllPairs
    // index-prefix scheme): ALL document pairs with shingle Jaccard ≥ 0.5,
    // with NO blocking attribute and NO quadratic candidate space. Each
    // doc's shingle-hash set is sorted by a global total order (ascending
    // hash — engine-portable, no frequency table needed) and only its
    // PREFIX of |s| − ceil(t·|s|) + 1 smallest hashes is indexed; probes
    // run the full sets against that index. Completeness is exact, not
    // probabilistic: if J(x,y) ≥ t then |x∩y| ≥ ceil(t·|x|), while x's
    // suffix holds only ceil(t·|x|) − 1 elements — so x's prefix must
    // contain a common element, which the full-side probe of y always
    // carries. (A prefix×prefix join would NOT be complete — the common
    // element need not sit in both prefixes.) This is the scale-safe exact
    // twin of the labeled-quadratic baseline_sim_near_dup /
    // baseline_dedup_simhash_pairs baselines: candidate cost is one
    // hash-shuffle join of the prefix
    // stream (≈ half the shingle volume) against the shingle stream —
    // inverted-index shape, O(postings), never O(docs²). Ubiquitous
    // shingles make hot hash keys; a frequency-ascending order (classic
    // AllPairs) would shrink prefixes further at the price of a df table —
    // documented tradeoff, hash order keeps the oracle replay exact. The
    // oracle is the INDEPENDENT all-pairs exact form, so the gate also
    // proves the completeness theorem on real data. `sh` is checkpointed
    // once: it feeds the prefix explode, the probe explode, and both
    // verify joins.
    "q_dedup_jaccard_prefix" -> Q(
      t => {
        val thr = 0.5
        val sh = t.documents
          .select(col("doc_id"),
            Dedup.tokenHashesFromText(col("text")).as("__th"))
          .select(col("doc_id"),
            array_sort(Dedup.shingleHashesFromTokenHashes(col("__th"))).as("shd"))
          .localCheckpoint(true)
        val plen = (size(col("shd"))
          - ceil(size(col("shd")) * thr) + 1).cast("int")
        val pref = sh.select(col("doc_id").as("a"),
          explode(slice(col("shd"), lit(1), plen)).as("ph"))
        val full = sh.select(col("doc_id").as("b"), explode(col("shd")).as("h"))
        val cand = pref.join(full, col("ph") === col("h") && col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
        cand
          .join(sh.select(col("doc_id").as("a"), col("shd").as("sa")), "a")
          .join(sh.select(col("doc_id").as("b"), col("shd").as("sb")), "b")
          .withColumn("j", Dedup.jaccard(col("sa"), col("sb")))
          .filter(col("j") >= thr)
          .select(col("a"), col("b"), round(col("j"), 4).as("j"))
          .orderBy(col("a"), col("b"), col("j"))
      },
      Some(s"""$duckShingleCtes
               |SELECT x.doc_id AS a, y.doc_id AS b,
               |       ROUND(CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE)
               |             / len(list_distinct(x.shd || y.shd)), 4) AS j
               |FROM sh x JOIN sh y ON x.doc_id < y.doc_id
               |WHERE CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE)
               |      / len(list_distinct(x.shd || y.shd)) >= 0.5
               |ORDER BY a NULLS FIRST, b NULLS FIRST, j NULLS FIRST""".stripMargin)),

    // Asymmetric CONTAINMENT dedup — |sh(a) ∩ sh(b)| / |sh(a)| ≥ 0.8 with
    // the SMALL side in the denominator: catches near-supersets (a doc
    // quoted or embedded inside a longer one) that symmetric Jaccard
    // misses (the union denominator dilutes a perfect subset to a low J).
    // Stated scale-safe from the start via the same AllPairs prefix
    // scheme as q_dedup_jaccard_prefix, adapted to the one-sided bound:
    // if |a∩b| ≥ ceil(t·|a|), a's sorted prefix of |a| − ceil(t·|a|) + 1
    // smallest hashes must share an element with b's FULL set — so only
    // the CONTAINED side explodes its prefix, the candidate join is an
    // inverted-index hash join within the lang block, and the pair space
    // is O(postings), never O(docs²). Directionality falls out for free:
    // pair (a,b) surfaces through a's prefix exactly when a-in-b is the
    // containment being tested. The gate and score are exact BIGINTs
    // (inter·5 ≥ |a|·4; micro-units via integer div); the oracle is the
    // INDEPENDENT all-pairs form, so the gate proves the one-sided prefix
    // theorem on real data.
    "q_dedup_containment" -> Q(
      t => {
        val thr = 0.8
        val sh = t.documents
          .select(col("doc_id"), col("lang"),
            Dedup.tokenHashesFromText(col("text")).as("__th"))
          .select(col("doc_id"), col("lang"),
            array_sort(Dedup.shingleHashesFromTokenHashes(col("__th"))).as("shd"))
          .localCheckpoint(true)
        val plen = (size(col("shd"))
          - ceil(size(col("shd")) * thr) + 1).cast("int")
        val pref = sh.select(col("doc_id").as("a"), col("lang"),
          explode(slice(col("shd"), lit(1), plen)).as("ph"))
        val full = sh.select(col("doc_id").as("b"), col("lang").as("lang_b"),
          explode(col("shd")).as("h"))
        val cand = pref.join(full,
            col("ph") === col("h") && col("lang") === col("lang_b") &&
              col("a") =!= col("b"))
          .select(col("a"), col("b")).distinct()
        cand
          .join(sh.select(col("doc_id").as("a"), col("shd").as("sa")), "a")
          .join(sh.select(col("doc_id").as("b"), col("shd").as("sb")), "b")
          .select(col("a"), col("b"),
            size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"),
            size(col("sa")).cast("long").as("na"))
          .filter(col("inter") * 5 >= col("na") * 4)
          .select(col("a"), col("b"), expr("inter * 1000000 div na").as("c_micro"))
          .orderBy(col("a"), col("b"), col("c_micro"))
      },
      Some(s"""$duckShingleCtes
               |SELECT x.doc_id AS a, y.doc_id AS b,
               |       CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) * 1000000
               |         // CAST(len(x.shd) AS BIGINT) AS c_micro
               |FROM sh x JOIN sh y ON x.lang = y.lang AND x.doc_id <> y.doc_id
               |WHERE CAST(len(list_intersect(x.shd, y.shd)) AS BIGINT) * 5
               |      >= CAST(len(x.shd) AS BIGINT) * 4
               |ORDER BY a NULLS FIRST, b NULLS FIRST, c_micro NULLS FIRST""".stripMargin)),

    // Cross-document duplicated-substring signal (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better" — the ExactSubstr
    // criterion, detected at token-window granularity instead of a suffix
    // array): every 8-token window is hashed with the same two-level
    // rolling fold as the shingle family, counted CORPUS-WIDE, and each doc
    // reports how many of its windows (with multiplicity, unlike the
    // minhash path's distinct sets) occur elsewhere too. dup_frac stays in
    // exact micro-units. Scale shape: windows ride one map-side explode
    // (the 100 TB substitute for a suffix array — O(tokens) rows, no
    // cross-doc sort); counting is one hash shuffle on the window hash; the
    // probe join reuses that exchange; the doc rollup is the only other
    // shuffle. The window stream is recomputed per consumer rather than
    // checkpointed — narrow map work beats materializing O(corpus tokens).
    "q_dedup_dup_substrings" -> Q(
      t => {
        val w = 8
        val th = t.documents.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("__toks"))
          .select(col("doc_id"), Dedup.tokenHashes(col("__toks")).as("th"))
          .filter(size(col("th")) >= w)
        val wins = th.select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("th")) - (w - 1)),
            i => aggregate(slice(col("th"), i, lit(w)), lit(0L),
              (acc, h) => (acc * 31 + h) % TextAnalysis.HashPrime))).as("wh"))
        val cnt = wins.groupBy(col("wh")).agg(count(lit(1)).as("n"))
        wins.join(cnt, "wh")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_windows"),
            sum(when(col("n") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
          .select(col("doc_id"), col("n_windows"), col("n_dup"),
            expr("n_dup * 1000000 div n_windows").as("dup_frac_u"))
          .orderBy(col("dup_frac_u").desc_nulls_last, col("doc_id"))
          .limit(100)
      },
      Some(s"""WITH tok AS (
               |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
               |  FROM documents
               |), th AS (
               |  SELECT doc_id,
               |    list_transform(toks, s -> list_reduce(
               |      list_transform(string_split(s, ''), ch -> CAST(ascii(ch) AS BIGINT)),
               |      (acc, x) -> (acc * 31 + x) % $P)) AS th
               |  FROM tok
               |), win AS (
               |  SELECT doc_id,
               |    unnest(list_transform(range(1, len(th) - 6),
               |      i -> list_reduce(th[CAST(i AS INTEGER):CAST(i AS INTEGER) + 7],
               |             (acc, x) -> (acc * 31 + x) % $P))) AS wh
               |  FROM th WHERE len(th) >= 8
               |), cnt AS (
               |  SELECT wh, CAST(COUNT(*) AS BIGINT) AS n FROM win GROUP BY 1
               |), perdoc AS (
               |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
               |         CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
               |  FROM win JOIN cnt USING (wh)
               |  GROUP BY 1
               |)
               |SELECT doc_id, n_windows, n_dup,
               |       (n_dup * 1000000 // n_windows) AS dup_frac_u
               |FROM perdoc
               |ORDER BY dup_frac_u DESC NULLS LAST, doc_id
               |LIMIT 100""".stripMargin)),

    // Benchmark decontamination: docs 0-4 stand in for an eval benchmark;
    // the "train" rest is checked for >= 2 shared 3-shingle hashes. The
    // oracle's all-pairs intersect is exact on the same hash replay; the
    // Spark side is the scalable broadcast-join form (Dedup
    // .contaminationPairs), so equality also proves the join formulation.
    "q_dedup_decontaminate" -> Q(
      t => {
        val docs = t.documents
        Dedup.contaminationPairs(
          docs.filter(col("doc_id") >= 5), "doc_id", "text",
          docs.filter(col("doc_id") < 5), "doc_id", "text",
          minOverlap = 2)
          .orderBy(col("train_id"), col("bench_id"), col("n_shared"))
      },
      Some(s"""$duckShingleCtes
               |SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
               |       CAST(len(list_intersect(t.shd, b.shd)) AS BIGINT) AS n_shared
               |FROM sh t JOIN sh b ON t.doc_id >= 5 AND b.doc_id < 5
               |WHERE len(list_intersect(t.shd, b.shd)) >= 2
               |ORDER BY train_id NULLS FIRST, bench_id NULLS FIRST, n_shared NULLS FIRST""".stripMargin)),

    // Concat-and-chunk sample packing (operators/Packing): shard by id,
    // per-shard token cumsum, chunk = floor(offset / 1024). The window SUM
    // is CAST from HUGEINT on the oracle side (the sessionize lesson).
    "q_pack_chunks" -> Q(
      t => graft.operators.Packing.packChunks(
        t.documents.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 1024, nShards = 8)
        .select(col("doc_id"), col("shard"), col("tok_offset"), col("chunk"))
        .orderBy(col("doc_id"), col("shard"), col("tok_offset"), col("chunk")),
      Some("""WITH tok AS (
              |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
              |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
              |  FROM documents
              |), packed AS (
              |  SELECT doc_id, shard,
              |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
              |  FROM tok
              |)
              |SELECT doc_id, shard, tok_offset,
              |       CAST(FLOOR(tok_offset / 1024.0) AS BIGINT) AS chunk
              |FROM packed
              |ORDER BY doc_id NULLS FIRST, shard NULLS FIRST, tok_offset NULLS FIRST,
              |         chunk NULLS FIRST""".stripMargin)),

    // Packing-efficiency report over q_pack_chunks' layout: per shard,
    // the chunk count the token mass actually needs, the tail fill rate,
    // and the document fragmentation rate (docs whose tokens straddle a
    // seqLen boundary — the attention-masking cost of concat-and-chunk
    // packing). Pure integer arithmetic over the pack assignment
    // (crossing ⇔ tok_offset div L ≠ (tok_offset+n−1) div L, guarded to
    // non-empty docs so a zero-token doc can't point one before itself);
    // one per-shard aggregate on the already-sharded layout, so the
    // report adds no exchange beyond the packing's own.
    "q_pack_utilization" -> Q(
      t => {
        val L = 1024
        val packed = graft.operators.Packing.packChunks(
          t.documents.select(col("doc_id"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", seqLen = L, nShards = 8)
        val crossing = (col("n_tokens") > 0) &&
          expr(s"tok_offset div $L") =!= expr(s"(tok_offset + n_tokens - 1) div $L")
        packed
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens").cast("long")).as("total_tokens"),
            sum(when(crossing, 1L).otherwise(0L)).as("n_crossing"))
          .select(col("shard"), col("n_docs"), col("total_tokens"),
            expr(s"(total_tokens + ${L - 1}) div $L").as("n_chunks"),
            expr(s"total_tokens * 10000 div (((total_tokens + ${L - 1}) div $L) * $L)")
              .as("fill_bp"),
            col("n_crossing"),
            expr("n_crossing * 10000 div n_docs").as("crossing_bp"))
          .orderBy(col("shard"))
      },
      Some("""WITH tok AS (
              |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
              |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
              |  FROM documents
              |), packed AS (
              |  SELECT doc_id, shard, n_tokens,
              |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
              |  FROM tok
              |), s AS (
              |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
              |         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              |         CAST(SUM(CASE WHEN n_tokens > 0
              |                        AND tok_offset // 1024 <> (tok_offset + n_tokens - 1) // 1024
              |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
              |  FROM packed GROUP BY shard
              |)
              |SELECT shard, n_docs, total_tokens,
              |       CAST((total_tokens + 1023) // 1024 AS BIGINT) AS n_chunks,
              |       CAST(total_tokens * 10000
              |            // (((total_tokens + 1023) // 1024) * 1024) AS BIGINT) AS fill_bp,
              |       n_crossing,
              |       CAST(n_crossing * 10000 // n_docs AS BIGINT) AS crossing_bp
              |FROM s
              |ORDER BY shard NULLS FIRST""".stripMargin)),

    // Near-dup CLUSTERS: LSH pairs → connected components (large-star /
    // small-star, operators/ConnectedComponents) → every document labeled
    // with its component = min reachable doc_id; unpaired docs label
    // themselves. The oracle recomputes the same pairs, then
    // min-reachability as a recursive CTE — the labeling is a unique fixed
    // point, so both engines must agree exactly.
    "q_dedup_cc" -> Q(
      t => {
        val pairs = Dedup.lshNearDupPairs(t.documents, "doc_id", "text", threshold = 0.5)
        ConnectedComponents.labelAll(t.documents, "doc_id", pairs, "a", "b")
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id"), col("component"))
      },
      Some(s"""$duckCcCtes
               |SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
               |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
               |ORDER BY d.doc_id NULLS FIRST, component NULLS FIRST""".stripMargin)),

    // Cluster-dedup survivors: keep ONE canonical doc (the component's min
    // id) per near-dup cluster, count what survives per lang — the actual
    // corpus-shrinking step a 100 TB dedup pipeline runs after pairing.
    "q_dedup_cc_survivors" -> Q(
      t => {
        val pairs = Dedup.lshNearDupPairs(t.documents, "doc_id", "text", threshold = 0.5)
        ConnectedComponents.keepCanonical(t.documents, "doc_id", pairs, "a", "b")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("n_docs"))
      },
      Some(s"""$duckCcCtes
               |SELECT d.lang, COUNT(*) AS n_docs
               |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
               |WHERE COALESCE(c.component, d.doc_id) = d.doc_id
               |GROUP BY d.lang
               |ORDER BY lang NULLS FIRST, n_docs NULLS FIRST""".stripMargin)),

    // Quality-aware survivor selection — keepCanonical's production twin:
    // instead of the min-id document per near-dup cluster, keep the BEST
    // document (longest token count, min-id tie-break) — what a real
    // curation pipeline does so a truncated copy never shadows the full
    // one. Same CC labeling (log-round star contraction), then one
    // (component)-keyed window picking the argmax; both window functions
    // share the exchange. Scale: clusters are near-dup groups (small by
    // construction), so the per-component sort is bounded; everything else
    // is the CC cost already probed at 10× data.
    "q_dedup_keep_best" -> Q(
      t => {
        val pairs = Dedup.lshNearDupPairs(t.documents, "doc_id", "text", threshold = 0.5)
        val comp = ConnectedComponents.labelAll(t.documents, "doc_id", pairs, "a", "b")
        val scored = t.documents
          .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
          .join(comp, col("doc_id") === col("id")).drop("id")
        val w = Window.partitionBy(col("component"))
          .orderBy(col("n_tokens").desc, col("doc_id").asc)
        scored
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy(col("component"))).cast("long"))
          .filter(col("rn") === 1)
          .select(col("component"), col("doc_id").as("kept_doc_id"),
            col("n_tokens").as("kept_n_tokens"), col("n_members"))
          .orderBy(col("component"), col("kept_doc_id"), col("kept_n_tokens"),
            col("n_members"))
      },
      Some(s"""$duckCcCtes
               |, lab AS (
               |  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component,
               |         CAST(len(string_split_regex(trim(d.text), '\\s+')) AS BIGINT) AS n_tokens
               |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
               |), r AS (
               |  SELECT component, doc_id, n_tokens,
               |         row_number() OVER (PARTITION BY component
               |                            ORDER BY n_tokens DESC, doc_id ASC) AS rn,
               |         CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
               |  FROM lab
               |)
               |SELECT component, doc_id AS kept_doc_id,
               |       n_tokens AS kept_n_tokens, n_members
               |FROM r WHERE rn = 1
               |ORDER BY component NULLS FIRST, kept_doc_id NULLS FIRST,
               |         kept_n_tokens NULLS FIRST, n_members NULLS FIRST""".stripMargin)),

    // End-to-end corpus curation — the integration query proving the LLM
    // operators COMPOSE (each is individually oracle-green; composition is
    // where column-name, cache-lifetime, and determinism bugs hide):
    //   1. deterministic Bernoulli sample of the raw corpus  (Sampling)
    //   2. composite quality gate (Gopher-style flags)       (q_text_quality)
    //   3. MinHash-LSH near-dup pairs → connected components →
    //      one canonical survivor per cluster                (Dedup + CC)
    //   4. benchmark decontamination against held-out docs   (Dedup)
    //   5. deterministic train/val split                     (Sampling)
    //   6. concat-and-chunk sample packing                   (Packing)
    // Real curation order: the quality filter runs BEFORE dedup, so the
    // expensive LSH stage only shingles documents that survive the cheap
    // map-side gate. Scale shape is inherited from the stages: map-side
    // sample + quality filters, the LSH band join + log-round star
    // contraction, broadcast decontamination (bench side tiny), map-side
    // split label, one shard shuffle + window cumsum for packing — no
    // stage adds a shuffle beyond its own. The oracle replays the whole
    // chain in one DuckDB statement (recursive CTE for the clustering
    // fixed point, same hash thresholds via Sampling.hexThreshold, same
    // quality predicate via qualityKeepSql).
    "q_pipeline_curate" -> Q(
      t => {
        val bench = t.documents.filter(col("doc_id") < 5)
        val corpus = t.documents.filter(col("doc_id") >= 5)
        val sampled = Sampling.bernoulli(corpus, "doc_id", fraction = 0.9, salt = "curate")
          .filter(qualityKeep(col("text")))
        val pairs = Dedup.lshNearDupPairs(sampled, "doc_id", "text", threshold = 0.5)
        // survivors feed BOTH the decontamination probe and the anti-join
        // that keeps the clean rows; materialize once (eager
        // localCheckpoint, ContextCleaner-released; eager for the
        // orphaned-backfill-job reason on Dedup.lshNearDupPairs) or
        // Catalyst re-plans the scan → label join → semi-join subtree in
        // each branch.
        val survivors = ConnectedComponents
          .keepCanonical(sampled, "doc_id", pairs, "a", "b")
          .localCheckpoint(true)
        val contaminated = Dedup.contaminationPairs(
          survivors, "doc_id", "text", bench, "doc_id", "text", minOverlap = 2)
          .select(col("train_id")).distinct()
        val clean = survivors.join(contaminated,
          survivors("doc_id") === contaminated("train_id"), "left_anti")
        val labeled = Sampling.split(clean, "doc_id",
          Seq("train" -> 0.9, "val" -> 0.1), salt = "cursplit")
        Packing.packChunks(
          labeled.select(col("doc_id"), col("split"),
            TextAnalysis.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", seqLen = 1024, nShards = 4)
          .select(col("doc_id"), col("split"), col("shard"),
            col("tok_offset"), col("chunk"))
          .orderBy(col("doc_id"), col("split"), col("shard"),
            col("tok_offset"), col("chunk"))
      },
      Some {
        val sampleCond =
          s"${Sampling.hashKeySql("doc_id", "curate")} < '${Sampling.hexThreshold(0.9)}'"
        val splitExpr = Sampling.splitSql("doc_id",
          Seq("train" -> 0.9, "val" -> 0.1), "cursplit")
        s"""WITH RECURSIVE rawsamp AS (
           |  SELECT * FROM documents WHERE doc_id >= 5 AND $sampleCond
           |), samp AS (
           |  SELECT * EXCLUDE (tk) FROM (
           |    SELECT *, string_split_regex(trim(text), '\\s+') AS tk FROM rawsamp)
           |  WHERE $qualityKeepSql
           |), ${shingleCtesFrom("samp")}$duckBandCandCtes$duckPairsToCompCtes
           |, surv AS (
           |  SELECT s.doc_id, s.text FROM samp s
           |  LEFT JOIN comp c ON s.doc_id = c.doc_id
           |  WHERE COALESCE(c.component, s.doc_id) = s.doc_id
           |), ${shingleCtesFrom("(SELECT * FROM documents WHERE doc_id < 5)", "b")}
           |, contam AS (
           |  SELECT DISTINCT t.doc_id AS train_id
           |  FROM sh t
           |  JOIN surv sv ON t.doc_id = sv.doc_id
           |  JOIN bsh b ON len(list_intersect(t.shd, b.shd)) >= 2
           |), lab AS (
           |  SELECT sv.doc_id, sv.text, $splitExpr AS split
           |  FROM surv sv
           |  WHERE sv.doc_id NOT IN (SELECT train_id FROM contam)
           |), tokc AS (
           |  SELECT doc_id, split, CAST(doc_id % 4 AS BIGINT) AS shard,
           |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
           |  FROM lab
           |), packed AS (
           |  SELECT doc_id, split, shard,
           |         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
           |  FROM tokc
           |)
           |SELECT doc_id, split, shard, tok_offset,
           |       CAST(FLOOR(tok_offset / 1024.0) AS BIGINT) AS chunk
           |FROM packed
           |ORDER BY doc_id NULLS FIRST, split NULLS FIRST, shard NULLS FIRST,
           |         tok_offset NULLS FIRST, chunk NULLS FIRST""".stripMargin
      }),

    // Sliding-window chunking with overlap — the RAG / context-window
    // splitter (every retrieval corpus and long-document training set
    // chunks this way: fixed window, fixed stride, trailing remainder
    // kept). Chunk starts are sequence(1, n, stride); each chunk is a
    // token slice [start, start+W). Entirely narrow — sequence + explode
    // + slice are codegen'd per row, no shuffle at ANY scale (the final
    // orderBy is the verify sink's, not the operator's); output size is
    // the ~W/S expansion a real chunker pays. The chunk text itself is
    // re-joined so the oracle verifies content, not just offsets.
    "q_text_chunk_overlap" -> Q(
      t => {
        val W = 30
        val S = 20
        val toks = t.documents.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("tk"))
        toks
          .withColumn("start", explode(sequence(lit(1), greatest(size(col("tk")), lit(1)), lit(S))))
          .select(col("doc_id"), col("start").cast("long").as("start"),
            least(lit(W), size(col("tk")) - col("start") + 1).cast("long").as("n_ck"),
            concat_ws(" ", slice(col("tk"), col("start"), lit(W))).as("chunk"))
          .orderBy(col("doc_id"), col("start"), col("n_ck"), col("chunk"))
      },
      Some("""WITH tok AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents
              |), starts AS (
              |  SELECT doc_id, tk,
              |         unnest(generate_series(1, greatest(len(tk), 1), 20)) AS start
              |  FROM tok
              |)
              |SELECT doc_id, CAST(start AS BIGINT) AS start,
              |       CAST(least(30, len(tk) - start + 1) AS BIGINT) AS n_ck,
              |       array_to_string(tk[start : start + 29], ' ') AS chunk
              |FROM starts
              |ORDER BY doc_id NULLS FIRST, start NULLS FIRST,
              |         n_ck NULLS FIRST, chunk NULLS FIRST""".stripMargin)),

    // BPE tokenizer TRAINING — [[graft.operators.Bpe.train]]'s iterative
    // merge-rule induction (q_text_bpe_pairs counts pairs once; this runs
    // the actual loop). Five merges over the corpus word-frequency table;
    // each iteration's driver traffic is ONE row (the argmax pair), same
    // constant-collect contract as q_sim_kmeans. The oracle replays all
    // five iterations as chained CTEs — possible because merge application
    // is defined as left-to-right `replace` on the spaced-symbol string,
    // semantics both engines share exactly (Bpe scaladoc documents the
    // odd-run divergence from simultaneous-scan BPE).
    "q_text_bpe_train" -> Q(
      t => {
        val words = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("f"))
        graft.operators.Bpe.train(words, 5).orderBy(col("merge_rank"))
      },
      Some(
        s"""$bpeTrainCtes
           |${(1 to 5).map(i =>
              s"SELECT $i AS merge_rank, w1, w2, w1 || w2 AS merged, pair_count FROM m$i")
              .mkString("\nUNION ALL\n")}
           |ORDER BY merge_rank""".stripMargin)),

    // BPE corpus ENCODING — the tokenizer loop's output side: segment the
    // vocabulary with the five trained merge rules ([[Bpe.segment]] — the
    // driver-collected rule list is constant-sized, so application is a
    // pure narrow map, no joins) and emit the frequency-weighted piece
    // histogram. The oracle reuses the training CTE chain: after five
    // merge stages, w6 already IS the segmented vocabulary, so encoding
    // is one unnest + aggregate over it.
    "q_text_bpe_encode" -> Q(
      t => {
        val words = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("f"))
          .localCheckpoint(true)
        // trainLocal, not train: the rule list is collected to the driver
        // anyway, and the local trainer induces it with zero per-merge
        // Spark jobs (rule-for-rule identical — BpeSpec parity)
        val merges = graft.operators.Bpe.trainLocal(words, 5)
          .orderBy(col("merge_rank"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        graft.operators.Bpe.segment(words, merges)
          .select(explode(col("pieces")).as("piece"), col("f"))
          .groupBy(col("piece")).agg(sum(col("f")).as("n"))
          .orderBy(col("n").desc_nulls_last, col("piece"))
          .limit(30)
      },
      Some(
        s"""$bpeTrainCtes
           |SELECT piece, CAST(SUM(f) AS BIGINT) AS n
           |FROM (SELECT f, unnest(list_filter(string_split(s, ' '), x -> x <> '')) AS piece
           |      FROM w6)
           |GROUP BY 1
           |ORDER BY n DESC NULLS LAST, piece NULLS FIRST
           |LIMIT 30""".stripMargin)),

    // Tokenizer FERTILITY — the pieces-per-word distribution after the 5
    // trained merges, the standard tokenizer-quality metric (fertility ≈ 1
    // means whole-word coverage; heavy tails mean over-fragmented rare
    // words eating context length). Frequency-weighted: `occ` counts token
    // OCCURRENCES (Σf), not vocabulary entries, because a model pays per
    // occurrence. Induction via [[Bpe.trainLocal]] (driver-side, zero
    // per-merge jobs), application via the narrow-map [[Bpe.segment]]; the
    // report is a ≤max-word-length-group aggregate with its share taken by
    // a window over those few rows.
    "q_text_bpe_fertility" -> Q(
      t => {
        val words = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
          .groupBy(col("word")).agg(count(lit(1)).as("f"))
          .localCheckpoint(true)
        val merges = graft.operators.Bpe.trainLocal(words, 5)
          .orderBy(col("merge_rank"))
          .collect().map(r => (r.getString(1), r.getString(2))).toSeq
        val seg = graft.operators.Bpe.segment(words, merges)
          .select(size(col("pieces")).cast("long").as("pieces"), col("f"))
        val byNp = seg.groupBy(col("pieces"))
          .agg(count(lit(1)).as("n_words"), sum(col("f")).as("occ"))
        val wAll = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        byNp
          .withColumn("tot", sum(col("occ")).over(wAll))
          .select(col("pieces"), col("n_words"), col("occ"),
            expr("occ * 10000 div tot").as("share_bp"))
          .orderBy(col("pieces"))
      },
      Some(
        s"""$bpeTrainCtes
           |, seg AS (
           |  SELECT CAST(len(list_filter(string_split(s, ' '), x -> x <> '')) AS BIGINT) AS pieces,
           |         f
           |  FROM w6
           |), byn AS (
           |  SELECT pieces, CAST(COUNT(*) AS BIGINT) AS n_words,
           |         CAST(SUM(f) AS BIGINT) AS occ
           |  FROM seg GROUP BY 1
           |)
           |SELECT pieces, n_words, occ,
           |       CAST(occ * 10000 // (SELECT SUM(occ) FROM byn) AS BIGINT) AS share_bp
           |FROM byn
           |ORDER BY pieces NULLS FIRST""".stripMargin)),

    // Collocation extraction — adjacent-word pairs scored by the DICE
    // coefficient 2·c(w1,w2)/(c(w1)+c(w2)), the classic log-free
    // association measure (Smadja '93): frequency-normalized so "of the"
    // doesn't drown true collocations, yet exact in integer micro-units —
    // floor(2e6·n2/(c1+c2)) involves no logs or float division, so the
    // gate is bit-exact (the PMI variant needs log(); its RANKING is what
    // matters, and Dice ranks monotonically in the same odds ratio for
    // fixed margins). Scale shape: bigram and unigram counts are two
    // map-side-combined shuffles of the token stream; the unigram relation
    // (vocab-sized, tiny vs the corpus) joins back twice — AQE broadcasts
    // both at gated scale; at 100 TB vocab they become hash joins keyed on
    // the word. min-count ≥ 5 prunes the tail before the joins.
    "q_text_collocations" -> Q(
      t => {
        val toks = t.documents.select(col("doc_id"),
          TextAnalysis.tokens(col("text")).as("toks"))
          .filter(size(col("toks")) >= 2)
        val bg = toks.select(
          explode(transform(slice(col("toks"), lit(1), size(col("toks")) - 1),
            (x, i) => struct(x.as("w1"),
              element_at(col("toks"), i + 2).as("w2")))).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
        val uni = t.documents
          .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val pairs = bg.groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("n2")).filter(col("n2") >= 5)
        pairs
          .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
          .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
          .select(col("w1"), col("w2"), col("n2"),
            expr("2000000 * n2 div (c1 + c2)").as("dice_u"))
          .orderBy(col("dice_u").desc_nulls_last, col("w1"), col("w2"))
          .limit(50)
      },
      Some("""WITH toks AS (
              |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              |  FROM documents
              |), bg AS (
              |  SELECT unnest(list_transform(toks[1:len(toks)-1],
              |           (x, i) -> struct_pack(w1 := x,
              |             w2 := toks[CAST(i AS INTEGER) + 1]))) AS b
              |  FROM toks WHERE len(toks) >= 2
              |), uni AS (
              |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM (
              |    SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
              |    FROM documents)
              |  GROUP BY 1
              |), pairs AS (
              |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS n2
              |  FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5
              |)
              |SELECT w1, w2, n2,
              |       CAST(2000000 * n2 // (c1.c + c2.c) AS BIGINT) AS dice_u
              |FROM pairs
              |JOIN uni c1 ON w1 = c1.w
              |JOIN uni c2 ON w2 = c2.w
              |ORDER BY dice_u DESC NULLS LAST, w1, w2
              |LIMIT 50""".stripMargin)))

  /** Shared oracle prefix for the BPE queries: word frequencies, spaced
    * symbol strings, and five chained merge stages — after stage i, `m$i`
    * holds the round-i rule and `w${i+1}` the rewritten vocabulary.
    */
  private def bpeTrainCtes: String = {
    def stage(i: Int): String =
      s"""p$i AS (
         |  SELECT b.w1 AS w1, b.w2 AS w2, CAST(SUM(f) AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT f, unnest(list_transform(syms[1:len(syms)-1],
         |             (x, j) -> struct_pack(w1 := x, w2 := syms[CAST(j AS INTEGER) + 1]))) AS b
         |    FROM (SELECT f, list_filter(string_split(s, ' '), x -> x <> '') AS syms FROM w$i)
         |    WHERE len(syms) >= 2
         |  ) GROUP BY 1, 2
         |), m$i AS (
         |  SELECT w1, w2, pair_count FROM p$i ORDER BY pair_count DESC, w1, w2 LIMIT 1
         |), w${i + 1} AS (
         |  SELECT word, f, replace(s, ' ' || m.w1 || ' ' || m.w2 || ' ',
         |                             ' ' || m.w1 || m.w2 || ' ') AS s
         |  FROM w$i, m$i m
         |)""".stripMargin
    s"""WITH wf AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS f
       |  FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
       |        FROM documents)
       |  GROUP BY 1
       |), w1 AS (
       |  SELECT word, f, regexp_replace(word, '(.)', ' \\1', 'g') || ' ' AS s
       |  FROM wf
       |), ${(1 to 5).map(stage).mkString(",\n")}""".stripMargin
  }
}
