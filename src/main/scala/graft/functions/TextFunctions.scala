package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for large-scale training-data pipelines —
 * language ID, quality scoring, token counting, fingerprinting, shingling,
 * MinHash, SimHash, cosine similarity.
 *
 * Everything here is a pure `Column` expression built from
 * `org.apache.spark.sql.functions` (higher-order functions included), so it
 * all stays inside whole-stage codegen: no Scala UDF boxing, no Python
 * round-trip, safe to run over 100 TB of documents. Determinism: every
 * hash is xxhash64 (Spark-native, seed-stable), so results are reproducible
 * across runs and partitionings.
 */
object TextFunctions {

  /** Whitespace tokens; empty/blank text → empty array (never [""]). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count without materializing the token array — single-pass
   *  native byte scan ([[TokenCountExpr]], r12), bit-identical to the
   *  length-arithmetic column form it replaced (kept in the test tree as
   *  the oracle-expressible reference, `TextColumnForms`, and pinned by
   *  CharStatSpec). Counts single-space-separated words (the corpus format). */
  def tokenCount(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(TokenCountExpr(ColumnBridge.expression(text)))
  }

  /** BPE-ish subword count heuristic: word pieces after splitting on
   *  non-alphanumerics plus intra-word splits every 4 chars — a cheap,
   *  deterministic stand-in for a real tokenizer's token count. */
  def subwordCount(text: Column): Column =
    aggregate(
      transform(tokens(text), t => ceil(length(t) / lit(4.0)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  // ---- language ID ---------------------------------------------------------

  /** Tiny per-language stopword marker sets (public knowledge). The corpus
   *  is synthetic, so what matters is a deterministic, scalable heuristic
   *  shape: count marker hits per language, argmax with a fixed tiebreak. */
  private[graft] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "por"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "des", "est", "dans", "pour", "une"),
    "it" -> Seq("il", "di", "che", "la", "per", "con", "del", "una"))

  /** Heuristic language ID: argmax of marker-word hits, 'und' (undetermined)
   *  when nothing matches; fixed language order breaks ties (first max).
   *  Native fused loop ([[LangIdExpr]]): one hash-set probe per language
   *  per token, replacing an interpreted HOF aggregate. */
  def langId(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(LangIdExpr(ColumnBridge.expression(tokens(text)), markers))
  }

  // ---- quality scoring -----------------------------------------------------

  /** Punctuation character count (. , ; : ! ?). */
  def punctCount(text: Column): Column =
    length(text) - length(translate(text, ".,;:!?", ""))

  /** Mean token length ×100 as a long (exact integer arithmetic — avoids
   *  float divergence between engines). 0 for empty text. */
  def meanTokenLenX100(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0L))
      .otherwise((length(translate(trim(text), " ", "")).cast("long") * 100L) / n.cast("long"))
  }

  /** Heuristic document quality score in BASIS POINTS [0, 10000] as a
   *  long: length sweet-spot (40%), word-length sanity (20%), punctuation
   *  presence (20%), alpha ratio (20%).
   *
   *  EXACT INTEGER ARITHMETIC throughout: the score is the rational
   *  `N / (64·len)` rounded half-up via `(2N + D) div 2D` — no doubles
   *  anywhere, so Spark and any SQL oracle agree bit-for-bit. The earlier
   *  double formulation (`round(Σ wᵢsᵢ, 4)·10⁴`) sat one ulp from a
   *  rounding boundary on real docs and diverged from DuckDB by ±1 bp —
   *  invisible in per-source averages, exposed the moment a query outputs
   *  per-document scores (dedup_canonical). Threshold comparisons are
   *  integer too: `punct·10 ≤ len` replaces `punct/len ≤ 0.1` (equivalent
   *  for len ≤ 10¹⁶ — the ratio can never fall within 5.5e-18 above 0.1),
   *  and the word-length gate uses the exact `(nonspace·100) div ntok`. */
  def qualityBp(text: Column): Column = {
    // single-pass native byte scan (r12): the column tree it replaced
    // evaluates trim/translate/length chains that each copy the document —
    // measured 9.5-11.9 s of a 0.9 s-floor sf10 corpus scan, the largest
    // CPU term in the pipeline/text families. CharStatSpec pins
    // bit-equality of QualityBpExpr against that tree, which stays in the
    // test tree (`TextColumnForms`) as the reference (and the shape the
    // DuckDB oracle twins replicate).
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(QualityBpExpr(ColumnBridge.expression(text)))
  }

  /** [[qualityBp]] as a [0,1] double — presentation form only; every
   *  oracled path aggregates the exact integer basis points. */
  def qualityScore(text: Column): Column =
    qualityBp(text).cast("double") / 10000.0

  // ---- fingerprinting / hashing -------------------------------------------

  /** Order-sensitive document fingerprint: 64-bit hash of the normalized
   *  token stream (tokens re-joined on a sentinel), so docs differing only
   *  in whitespace collapse to one fingerprint. xxhash64 keeps this inside
   *  ANSI mode — a raw polynomial rolling hash overflows Long and Spark 4's
   *  default ANSI arithmetic rejects it. */
  def fingerprint(text: Column): Column =
    xxhash64(array_join(tokens(text), "\u0001"))

  /** Cross-engine form of [[fingerprint]]: md5 of the same normalized token
   *  stream (sentinel-joined tokens). Same whitespace-collapse semantics,
   *  but reproducible in any SQL engine -- the oracle-checkable face of
   *  fingerprint dedup. (The 64-bit [[fingerprint]] stays the production
   *  shuffle key: 8 bytes vs this form's 32.) */
  def fingerprintMd5(text: Column): Column =
    md5(array_join(tokens(text), "\u0001"))

  /** Karp-Rabin POLYNOMIAL rolling hash over the normalized token stream:
   *  `h = Σ v_i·B^(n-i) mod P` with base B=1000003 and the Mersenne prime
   *  P=2^61−1; per-token values are the top 60 bits of md5(token). The
   *  fold runs in EXACT DECIMAL arithmetic (the intermediate product needs
   *  ~81 bits), which keeps it inside Spark 4's ANSI rules — a raw Long
   *  polynomial would overflow-error — and makes it bit-reproducible in
   *  any engine with 128-bit integers (the DuckDB oracle uses
   *  list_reduce over HUGEINT). Order-sensitive, whitespace-insensitive —
   *  the classic document fingerprint. [[fingerprint]] (xxhash64) remains
   *  the cheaper production shuffle key; this is the portable form. */
  def rollingFingerprint(text: Column): Column = {
    val P = lit(new java.math.BigDecimal("2305843009213693951"))
    aggregate(
      tokens(text),
      lit(java.math.BigDecimal.ZERO).cast("decimal(20,0)"),
      (acc, t) => ((acc * lit(1000003) +
          conv(substring(md5(t), 1, 15), 16, 10).cast("decimal(19,0)")) % P)
        .cast("decimal(20,0)"))
      .cast("bigint")
  }

  /** Word n-gram shingles as strings ("w1 w2 … wn"); empty when the doc has
   *  fewer than n tokens. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Per-shingle 64-bit hashes — the expensive (string-hashing) step,
   *  deliberately separate from `minhashFromHashes` so a pipeline can
   *  materialize it ONCE; Catalyst's projection collapse would otherwise
   *  re-inline the whole tokenize+shingle+hash chain into every consumer. */
  def shingleHashes(shingleArr: Column): Column =
    transform(shingleArr, s => xxhash64(s))

  /** Word-n-gram shingle hashes straight off the text — the fused native
   *  form of `shingleHashes(shingles(text, n))` ([[ShingleHashesExpr]]),
   *  bit-identical, one loop, no intermediate shingle-string array. */
  def wordShingleHashes(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(ShingleHashesExpr(ColumnBridge.expression(tokens(text)), n))
  }

  /** MinHash signature from pre-hashed shingles: k permutations simulated
   *  by re-mixing each 64-bit hash with the seed (cheap long hashing, no
   *  string re-tokenization). Empty set → Long.MaxValue sentinels.
   *  Native fused k×n loop ([[MinHashSigExpr]]), bit-identical to the HOF
   *  form it replaced. */
  def minhashFromHashes(hashes: Column, k: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(MinHashSigExpr(ColumnBridge.expression(hashes), k))
  }

  /** MinHash signature straight from a shingle array (convenience form —
   *  for hot paths materialize `shingleHashes` first). */
  def minhash(shingleArr: Column, k: Int): Column =
    minhashFromHashes(shingleHashes(shingleArr), k)

  /** MinHash Jaccard estimate between two equal-length signatures: the
   *  fraction of agreeing entries. */
  def minhashSimilarity(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA).cast("double")

  /** 64-bit SimHash over token hashes: per bit, sum +1/-1 across tokens,
   *  then pack the sign bits. Native fused loop ([[SimHash64Expr]]),
   *  bit-identical to the HOF form it replaced. */
  def simhash64(text: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(tokens(text))))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- vector math ---------------------------------------------------------

  private def native2(f: (org.apache.spark.sql.catalyst.expressions.Expression,
                          org.apache.spark.sql.catalyst.expressions.Expression)
                        => org.apache.spark.sql.catalyst.expressions.Expression)
                     (a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(f(ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Dot product of two float/double-array columns — a native codegen'd
   *  Catalyst expression ([[ArrayDot]]): one fused primitive loop per row
   *  instead of interpreted per-element HOF lambdas. Accumulates in double;
   *  NULL on length mismatch or null elements (zip_with semantics). */
  def dot(a: Column, b: Column): Column = native2(ArrayDot)(a, b)

  /** Cosine similarity ([[ArrayCosine]]): x·y, x·x, y·y in ONE fused loop;
   *  0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = native2(ArrayCosine)(a, b)

  /** Random-hyperplane LSH signature (nBits ≤ 30) for cosine space:
   *  bit p = sign(v · plane_p), planes derived deterministically from
   *  xxhash64(p, j) — no stored model, same planes on every executor.
   *  Native fused loop over a precomputed plane matrix
   *  ([[HyperplaneSigExpr]]), bit-identical to the HOF form it replaced. */
  def hyperplaneSig(vec: Column, nBits: Int, dim: Int): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(HyperplaneSigExpr(ColumnBridge.expression(vec), nBits, dim))
  }

  /** The interpreted HOF predecessor of [[hyperplaneSig]], retained as the
   *  parity oracle for the native expression's spec. */
  private[graft] def hyperplaneSigHof(vec: Column, nBits: Int, dim: Int): Column =
    aggregate(
      transform(sequence(lit(0), lit(nBits - 1)), p => {
        val plane = transform(sequence(lit(0), lit(dim - 1)),
          j => (pmod(xxhash64(p, j), lit(100003L)).cast("double") / 100003.0d) - 0.5d)
        when(dot(vec, plane) > 0.0d, call_function("shiftleft", lit(1), p)).otherwise(lit(0))
      }),
      lit(0), (acc, x) => acc.bitwiseOR(x))
}
