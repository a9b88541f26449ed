package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for document corpora, Spark-first.
  *
  * Scale design (100 TB): the production path is MinHash + LSH banding —
  * per-document signature computation is map-side and embarrassingly
  * parallel; candidate generation is ONE shuffle join on (band index, band
  * signature); exact-Jaccard verification touches only candidate pairs.
  * No all-pairs product ever materializes. The quadratic forms (ngram
  * Jaccard within a blocking key) exist as exact baselines for modest
  * blocks, never for whole corpora.
  *
  * All hashes are the cross-engine polynomial fingerprint
  * ([[TextAnalysis.fingerprint]] semantics), so signatures are reproducible
  * outside Spark (DuckDB oracle, or any other system a pipeline hands off
  * to).
  */
object Dedup {

  import TextAnalysis.HashPrime

  /** Word k-shingles over a PRE-MATERIALIZED token array column. Callers
    * should project `TextAnalysis.tokens(text)` into its own column first:
    * a HOF lambda re-evaluates embedded expressions per element, so passing
    * the raw split expression here would tokenize once per shingle instead
    * of once per row (~100× redundant work on typical docs).
    */
  def shinglesFromTokens(toks: Column, k: Int = 3): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - (k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))

  /** Word k-shingles from raw text; a doc shorter than k tokens yields its
    * whole token string as the single shingle. Convenience form — prefer
    * [[shinglesFromTokens]] over a materialized tokens column in hot paths.
    */
  def shingles(c: Column, k: Int = 3): Column =
    shinglesFromTokens(TextAnalysis.tokens(c), k)

  /** Per-token polynomial hashes — the alphabet the shingle hash folds
    * over. Materialize this into its own column before calling
    * [[shingleHashesFromTokenHashes]] in hot paths: HOF lambdas re-evaluate
    * embedded expressions per element, so an inline tokenHashes would
    * re-hash each token once per covering shingle (k×) instead of once.
    */
  def tokenHashes(toks: Column): Column = transform(toks, c => polyHash(c))

  /** Per-token polynomial hashes straight from TEXT, fused into one native
    * codegen loop ([[graft.functions.TokenHashesExpression]]: Spark's
    * space-only trim + `\s+` split + [[polyHash]] per token) — replaces
    * `tokenHashes(TextAnalysis.tokens(text))`, whose outer transform lambda
    * ran interpreted once per token. Semantically identical (DedupSpec
    * parity case); keep [[tokenHashes]] for pre-materialized token arrays
    * that other columns also consume.
    */
  def tokenHashesFromText(text: Column): Column =
    graft.functions.MinHashExpressions.tokenHashes(text)

  /** Distinct k-shingle hash set from PRE-MATERIALIZED token hashes: the
    * hash of a shingle is the SAME rolling fold used for strings
    * ([[polyHash]]) applied over the window's token hashes —
    * fold (acc·31 + h_token) mod P, init 0. Equal token windows hash equal,
    * so all set semantics (Jaccard, MinHash, contamination overlap) are
    * unchanged; what disappears is the shingle STRING materialization and
    * the per-character rescan of every token for each of the k windows
    * covering it. Measured 15× cheaper than the string-rebuild form at
    * sf0.1 (AbBench r6) — it was the dominant cost of the entire dedup /
    * curation family. Engine-portable: DuckDB replays the identical
    * two-level fold (chars→token hash, token hashes→shingle hash), see
    * TextQueries.shingleCtesFrom. A doc shorter than k tokens folds its
    * whole (clamped) token-hash window — one degenerate shingle, matching
    * the string form's behavior.
    */
  def shingleHashesFromTokenHashes(th: Column, k: Int = 3): Column =
    if (k == 3) graft.functions.MinHashExpressions.shingleHashes(th)
    else shingleHashesFromTokenHashesComposed(th, k)

  /** The composed-HOF shingle fold — the parity reference for the native
    * [[graft.functions.ShingleHashesExpression]] (k = 3 routes there) and
    * the general-k fallback; semantics documented above.
    */
  def shingleHashesFromTokenHashesComposed(th: Column, k: Int = 3): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(th) - (k - 1), lit(1))),
      i => aggregate(slice(th, i, lit(k)), lit(0L),
        (acc, h) => (acc * 31 + h) % HashPrime)))

  /** Distinct shingle hash set from raw text — convenience form; prefer
    * materializing [[tokenHashes]] first in hot paths (see there).
    */
  def shingleHashes(c: Column, k: Int = 3): Column =
    shingleHashesFromTokenHashes(tokenHashesFromText(c), k)

  /** Distinct shingle hash set from a materialized tokens column. */
  def shingleHashesFromTokens(toks: Column, k: Int = 3): Column =
    shingleHashesFromTokenHashes(tokenHashes(toks), k)

  /** Polynomial hash of one string (same fold as TextAnalysis.fingerprint),
    * evaluated by the native codegen kernel — this runs once per shingle
    * per document, so the HOF formulation was the dedup family's hotspot.
    */
  def polyHash(s: Column): Column =
    graft.functions.PolyHashExpression.column(s)

  /** Deterministic universal-hash parameters for the signature rows —
    * canonical values live in [[graft.functions.MinHashKernels]] (the
    * native kernel must agree with the oracle SQL's literals).
    */
  val NumHashes: Int = graft.functions.MinHashKernels.NumHashes
  val HashA: Seq[Long] = graft.functions.MinHashKernels.HashA.toSeq
  val HashB: Seq[Long] = graft.functions.MinHashKernels.HashB.toSeq

  /** MinHash signature: sig[j] = min over shingle hashes x of (a_j·x+b_j)
    * mod P, evaluated by the native codegen
    * [[graft.functions.MinHashSignatureExpression]] — the composed form
    * ([[minhashSignatureComposed]], kept as the parity reference) walked
    * the shingle set once per hash row through interpreted lambdas.
    */
  def minhashSignature(shingleHashSet: Column): Column =
    graft.functions.MinHashExpressions.minhashSignature(shingleHashSet)

  /** The composed-HOF signature — parity reference for the native form:
    * statically unrolled over j so each row is one array_min over
    * constant-folded per-hash literals.
    */
  def minhashSignatureComposed(shingleHashSet: Column): Column =
    array(Seq.tabulate(NumHashes) { j =>
      array_min(transform(shingleHashSet,
        x => (lit(HashA(j)) * x + lit(HashB(j))) % HashPrime))
    }: _*)

  /** LSH band keys: `bands` strings "b_sig0,sig1,..." — equal band key ⇒
    * candidate pair. 4 bands × 4 rows over a 16-row signature targets the
    * s-curve threshold around J ≈ 0.55.
    */
  val NumBands = 4
  val RowsPerBand = NumHashes / NumBands
  def lshBandKeys(sig: Column): Column =
    transform(
      sequence(lit(0), lit(NumBands - 1)),
      b => concat_ws("_", b.cast("string"),
        concat_ws(",", transform(slice(sig, b * RowsPerBand + 1, lit(RowsPerBand)), _.cast("string")))))

  /** Exact Jaccard over two pre-distinct arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** 30-bit SimHash over token hashes: bit i = sign of Σ_tokens (±1 by the
    * token hash's i-th bit). Near-dups have small Hamming distance.
    * Backed by the native codegen [[graft.functions.SimHashExpression]] —
    * the composed-HOF form it replaced re-aggregated the token array once
    * per bit through interpreted lambdas and dominated every simhash
    * query's cost; [[simhashComposed]] keeps that form as the parity
    * reference (DedupSpec asserts bit-identical outputs on real testdata).
    */
  val SimHashBits = 30
  def simhash(c: Column): Column =
    graft.functions.SimHashExpression.column(c)

  /** The original composed-HOF SimHash — retained ONLY as the spec-level
    * parity oracle for the native expression (and as documentation of the
    * exact semantics the DuckDB oracle replays).
    */
  def simhashComposed(c: Column): Column = {
    val hs = transform(TextAnalysis.tokens(c), polyHash(_))
    aggregate(
      transform(
        sequence(lit(0), lit(SimHashBits - 1)),
        i => {
          val pow2 = floor(pow(lit(2.0), i)).cast("long")
          val bitSum = aggregate(hs, lit(0L),
            (acc, x) => acc + (floor(x.cast("double") / pow2).cast("long") % 2) * 2 - 1)
          when(bitSum > 0, pow2).otherwise(lit(0L))
        }),
      lit(0L),
      (acc, x) => acc + x)
  }

  /** End-to-end MinHash-LSH near-dup pairs over `docs(idCol, textCol)`:
    * signatures → band explode → self-join on band key → distinct pairs →
    * exact-Jaccard verify at `threshold`. The join key space (band sigs) is
    * high-cardinality, so the shuffle is well-spread at any corpus size.
    *
    * Materialization: the signature projection feeds three plan branches,
    * so it is localCheckpoint'ed rather than cache()'d — a cache entry
    * lives in the CacheManager until an explicit unpersist, which a
    * fire-and-forget caller never issues (the round-5 storage-leak finding:
    * catalog queries ran this form and accreted one cached projection per
    * pass). Local checkpoint blocks are released by the ContextCleaner as
    * soon as the result DataFrame becomes unreachable, so repeated passes
    * in a long-lived session are leak-free with zero caller ceremony.
    * EAGER (r8): the lazy variant defers materialization to a backfill job
    * that Spark appends to the first consuming action
    * (core `RDD.doCheckpoint` → `LocalRDDCheckpointData.doCheckpoint`,
    * which runs a separate `runJob` over not-yet-cached partitions); that
    * appended job's completion events can still be in flight when the
    * caller drops the DataFrame, and its scheduler-owned task-metrics
    * accumulators are weakly registered — a GC in that window produces the
    * benign-but-noisy `attempted to access non-existent accumulator`
    * DAGScheduler error (reproduced deterministically by forcing a GC
    * after every query). Signatures are always
    * consumed here, so the eager checkpoint does the same work inside the
    * main action and leaves no orphaned job. For explicit lifecycle
    * control use [[lshNearDupPairsScoped]] / [[lshNearDupPairsWithRelease]].
    */
  def lshNearDupPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = 3): DataFrame =
    pairsOverPrepared(
      prepareSignatures(docs, idCol, textCol, k).localCheckpoint(true),
      threshold)

  /** [[lshNearDupPairs]] plus an explicit release handle: invoke it after
    * the result has been consumed to unpersist the internal signature
    * cache. Long-lived sessions running many dedup passes must release (or
    * use [[lshNearDupPairsScoped]]) or executor storage memory accretes one
    * cached signature projection per pass. At corpus scale, write the
    * signature table to storage instead — that is the 100 TB shape anyway.
    */
  def lshNearDupPairsWithRelease(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = 3): (DataFrame, () => Unit) = {
    val prepared = prepareSignatures(docs, idCol, textCol, k).cache()
    (pairsOverPrepared(prepared, threshold), () => { prepared.unpersist(); () })
  }

  /** Signature projection shared by the LSH pairs forms: one row per doc
    * with its distinct shingle-hash set and MinHash signature. Materialize
    * it ONCE (cache or localCheckpoint): it feeds three plan branches (band
    * explode + both sides of the candidate verify), and recomputing the
    * per-char shingle fold is the dominant cost. At corpus scale this is a
    * signature table written to storage; locally, a persisted projection.
    */
  private def prepareSignatures(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    // fanOutNarrowScan (r18): the token/shingle/MinHash kernels below are
    // the whole cost of this projection; an unsplittable input (single
    // row group) would hash the corpus on one core — see the helper's doc
    // for why this is the identity at scale.
    Partitioning.fanOutNarrowScan(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("__text")))
      .select(col("doc_id"), tokenHashesFromText(col("__text")).as("__th"))
      .select(col("doc_id"), shingleHashesFromTokenHashes(col("__th"), k).as("shd"))
      .withColumn("sig", minhashSignature(col("shd")))

  private def pairsOverPrepared(prepared: DataFrame, threshold: Double): DataFrame = {
    val bands = prepared.select(col("doc_id"),
      explode(lshBandKeys(col("sig"))).as("band_key"))
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    candidates
      .join(prepared.select(col("doc_id").as("a"), col("shd").as("shd_a")), "a")
      .join(prepared.select(col("doc_id").as("b"), col("shd").as("shd_b")), "b")
      .withColumn("j", jaccard(col("shd_a"), col("shd_b")))
      .filter(col("j") >= threshold)
      .select(col("a"), col("b"), col("j"))
  }

  /** Sketch-accuracy audit: every LSH candidate pair with its MinHash
    * ESTIMATE (count of matching signature slots, /16) next to the EXACT
    * Jaccard — the measurement a production dedup runs before trusting a
    * signature configuration (slots/bands trade recall for cost; the audit
    * quantifies the estimator error ON THE REAL CORPUS rather than the
    * uniform-hash idealization). Same plan shape and materialization story
    * as [[lshNearDupPairs]] (one eager signature checkpoint feeding three
    * branches; candidate-only verify — never all pairs). Numeric contract:
    * the estimate is an int slot count and the exact Jaccard is emitted in
    * integer micro-units via int64 floor division, so every output column
    * hashes engine-identically.
    */
  def minhashEstimatePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3): DataFrame = {
    val prepared = prepareSignatures(docs, idCol, textCol, k).localCheckpoint(true)
    val bands = prepared.select(col("doc_id"),
      explode(lshBandKeys(col("sig"))).as("band_key"))
    val candidates = bands.as("x")
      .join(bands.as("y"),
        col("x.band_key") === col("y.band_key") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    candidates
      .join(prepared.select(col("doc_id").as("a"),
        col("shd").as("shd_a"), col("sig").as("sig_a")), "a")
      .join(prepared.select(col("doc_id").as("b"),
        col("shd").as("shd_b"), col("sig").as("sig_b")), "b")
      .withColumn("est_16", aggregate(
        zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _))
      .withColumn("j_micro",
        expr("size(array_intersect(shd_a, shd_b)) * 1000000L div size(array_union(shd_a, shd_b))"))
      .withColumn("err_micro", col("est_16") * lit(62500L) - col("j_micro"))
      .select(col("a"), col("b"), col("est_16"), col("j_micro"), col("err_micro"))
  }

  /** Benchmark decontamination: (train doc, benchmark doc) pairs sharing at
    * least `minOverlap` distinct k-shingle hashes — the contamination check
    * run before training so eval data is not memorized from the corpus.
    *
    * Scale shape (100 TB train vs MB-scale benchmarks): both sides explode
    * to (shingle hash, id) rows; the benchmark side is tiny and broadcast,
    * so the train corpus never shuffles — cost is one map-side join pass
    * linear in train shingles, then a groupBy on the (rare) matching pairs.
    * Exact by construction, no signature approximation: decontamination
    * wants recall 1.0, the opposite trade from near-dup LSH.
    */
  def contaminationPairs(
      train: DataFrame, trainId: String, trainText: String,
      bench: DataFrame, benchId: String, benchText: String,
      minOverlap: Int = 2, k: Int = 3): DataFrame = {
    def sh(df: DataFrame, id: String, text: String, as: String) = df
      .select(col(id).as(as), tokenHashesFromText(col(text)).as("__th"))
      .select(col(as), explode(shingleHashesFromTokenHashes(col("__th"), k)).as("h"))
    val tSh = sh(train, trainId, trainText, "train_id")
    val bSh = sh(bench, benchId, benchText, "bench_id")
    tSh.join(broadcast(bSh), "h")
      // shingleHashes is per-doc distinct, so each (train, bench, h) row is
      // unique and a plain count IS the distinct shared-hash count
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Scoped form: runs `use` over the near-dup pairs, then unpersists the
    * signature cache before returning — the safe default for repeated
    * dedup passes in one session.
    */
  def lshNearDupPairsScoped[T](
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      k: Int = 3)(use: DataFrame => T): T = {
    val (pairs, release) = lshNearDupPairsWithRelease(docs, idCol, textCol, threshold, k)
    try use(pairs) finally release()
  }
}
