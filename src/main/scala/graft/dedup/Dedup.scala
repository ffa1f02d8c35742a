package graft.dedup

import graft.Tuning
import graft.Tables
import graft.Tables.QueryDef
import graft.functions.TextFunctions._
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication for training-data pipelines, five ways: exact
 * (hash-groupBy), MinHash+LSH banding, SimHash, exact n-gram Jaccard via an
 * inverted index, and embedding-cosine near-dup via hyperplane LSH.
 *
 * Scale design (the point of each variant at 100 TB):
 *  - signatures (MinHash/SimHash/fingerprint) are computed MAP-SIDE as
 *    codegen'd column expressions — the shuffle carries only
 *    (bucket-key, doc_id), never document text;
 *  - candidate generation is always a bucket equi-join (LSH band, SimHash
 *    chunk, shingle), never an O(n²) cross join;
 *  - hot buckets (stop-shingles, degenerate bands) are capped with a
 *    frequency filter before the self-join — the standard skew guard so one
 *    viral shingle can't quadratically explode a task;
 *  - exact verification (Jaccard, cosine, hamming) runs on candidate PAIRS
 *    only, a vanishing fraction of the corpus.
 */
object Dedup extends Logging {

  /** Exact dedup: hash-groupBy on md5(text). Emits one row per distinct
   *  content hash with the kept (min) doc_id and the duplicate count. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_md5")

  /** MinHash + LSH banding: k=32 signature, 8 bands × 4 rows. Pairs that
   *  collide in ≥1 band are candidates; estimated Jaccard ≥ 0.5 survives.
   *
   *  The signature index is MATERIALIZED (persist) before fan-out: it is
   *  consumed by the band explode, the bucket-size guard, and both sides
   *  of the self-join — without the barrier, projection collapse would
   *  re-tokenize and re-hash every document once per consumer (measured
   *  ~30× slower at sf0.1). Signatures are 32 longs/doc, so the cache is
   *  ~0.3% of corpus size — the standard "signature index" artifact a
   *  100 TB dedup run would persist to storage anyway. */
  /** The thresholded MinHash-LSH pair set is itself a per-corpus
   *  artifact (consumed by dedup_minhash_lsh AND dedup_lsh_eval) —
   *  snapshotted once per (application, dir) like [[shingleIndex]], so
   *  the evaluation query never repays the signature chain. */
  private val minhashPairCache =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.graft.DatasetBridge
      DatasetBridge.snapshot(minhashLshCompute(spark, dir)).df
    })

  private def minhashLshCompute(spark: SparkSession, dir: String): DataFrame = {
    val k = 32; val bands = 8; val rows = k / bands
    // docs with < n tokens have NO shingles; their signature would be the
    // all-sentinel vector, colliding in every band and emitting
    // est_jaccard=1.0 "duplicates" for unrelated short docs — drop them up
    // front (a doc with no shingles has no similarity evidence to offer).
    // The filter tests the TOKEN count on the base column, not size() of the
    // projected hash array: a filter on the projection's output gets pushed
    // below it and re-evaluates the whole tokenize+shingle+hash chain per
    // row (measured 2x the materialization cost).
    // NO barrier between shingle-hashing and the signature: `sigs` is the
    // hash chain's ONLY consumer, and both steps are single native
    // expressions, so projection collapse fuses them into one per-row
    // evaluation — a persist here would write the full per-doc
    // shingle-hash arrays (the corpus' biggest transient: ~8 GB + row
    // overhead at sf100) to the cache for zero reuse. The SIGNATURE frame
    // below is the real shared artifact (band explode + both join sides).
    val sigs = Tables.documents(spark, dir)
      .filter(size(tokens(col("text"))) >= 3)
      .select(col("doc_id"),
        minhashFromHashes(wordShingleHashes(col("text"), 3), k).as("sig"))
      .persist(Tuning.persistLevel)
    // the band stage ships ONLY (band, bkey, doc_id) — never the 32-long
    // signature. The r9 sf100 capacity campaign measured this query's
    // transient spill at ~24 GB, and the anatomy is exactly 8 bands × 2
    // join sides × ~300 sig-bytes/doc through the bucket shuffle; keying
    // the band join on bare ids cuts the shuffled bytes ~18× (ids are
    // 16 B/row) and bounds the per-query working set to the CANDIDATE
    // pair set instead of corpus × bands. Signatures rejoin once, from
    // the persisted signature index, only for the pairs that survive
    // bucketing — the verify stage a 100 TB dedup run runs anyway.
    val banded = sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rows + 1, lit(rows))).as("bkey")))).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
    // skew guard, inverted so only the SMALL set is broadcast: the hot
    // (degenerate) bucket keys are few by construction, while the kept-
    // bucket set is O(corpus) and must never be broadcast. Singleton
    // buckets need no filtering — they produce no pairs under id_a < id_b.
    val hot = banded.groupBy("band", "bkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1000)
      .select("band", "bkey")
    val inBuckets = banded.join(broadcast(hot), Seq("band", "bkey"), "left_anti")
    val a = inBuckets.select(col("band"), col("bkey"), col("doc_id").as("id_a"))
    val b = inBuckets.select(col("band"), col("bkey"), col("doc_id").as("id_b"))
    // distinct BEFORE the signature fetch: a pair colliding in several
    // bands is estimated (and its signatures shuffled) exactly once
    val cand = a.join(b, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    cand
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        minhashSimilarity(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dup: 64-bit signature; pigeonhole over 4×16-bit chunks
   *  (hamming ≤ 3 ⇒ at least one chunk equal), verify with bit_count. */
  def simhashDup(spark: SparkSession, dir: String): DataFrame = {
    // materialized: consumed by 4 chunk expansions × 2 join sides
    val sigs = Tables.documents(spark, dir)
      .select(col("doc_id"), simhash64(col("text")).as("sig"))
      .persist(Tuning.persistLevel)
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sig"), c * 16).bitwiseAND(0xFFFFL).as("ckey")))).as("cc"))
      .select(col("doc_id"), col("sig"), col("cc.chunk"), col("cc.ckey"))
    val a = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("ckey"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("id_a", "id_b")
  }

  /** The SHINGLE INDEX — (doc_id, source, 64-bit shingle hash) rows,
   *  computed ONCE per (application, dir) and snapshotted. This is the
   *  per-corpus artifact every 3-gram consumer reads: the Jaccard
   *  inverted index, both decontamination variants, and (through
   *  [[ngramJaccard]]) the cluster-label pipeline. A 100 TB run persists
   *  exactly this to storage once and fans out; recomputing the
   *  tokenize+shingle+hash chain per consumer is the measured-30× mistake
   *  the earlier per-query persists guarded against locally — this hoists
   *  the same barrier to the corpus level. RDD-level snapshot, so a
   *  consumer's `catalog.clearCache()` can't drop it between readers. */
  private val shingleCache =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  /** The PACKED per-document shingle snapshot — ONE ROW PER DOCUMENT
   *  (doc_id, source, shs: array<long>), not the exploded (doc_id,
   *  source, sh) stream: the exploded form repeats the doc_id, the
   *  source string and the per-row overhead ~50× (once per shingle),
   *  which at sf100 materialized ~1B InternalRows — more resident disk
   *  than the parquet corpus itself, and the single biggest term in the
   *  suite's scratch footprint. The packed form stores each value once
   *  (~20× smaller) and gives per-doc set sizes as a map-side `size()`.
   *  Shingling still runs once per corpus. */
  private[graft] def packedShingles(spark: SparkSession, dir: String): DataFrame =
    shingleCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.graft.DatasetBridge
      DatasetBridge.snapshot(Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"),
          array_distinct(wordShingleHashes(col("text"), 3)).as("shs"))).df
    })
  /** The exploded (doc_id, source, sh) view every 3-gram consumer reads —
   *  a map-side explode over [[packedShingles]] that pipelines into the
   *  consumer's first shuffle; Catalyst prunes `source` where unused. */
  private[graft] def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    packedShingles(spark, dir)
      .select(col("doc_id"), col("source"), explode(col("shs")).as("sh"))

  /** The QUALIFYING-PAIR INDEX — (id_a, id_b, inter, n_a, n_b) for every
   *  candidate pair that can appear in ANY row-level consumer's output:
   *  Jaccard ≥ 0.5 (ngram_jaccard and, through it, the whole
   *  cluster-label pipeline and lsh_eval's ground truth) or directed
   *  containment ≥ 0.8 with |sub| ≥ 5 (the containment report), both in
   *  the consumers' exact integer forms. Snapshotted once per
   *  (application, dir), WITH LINEAGE TRUNCATED.
   *
   *  This replaces a snapshot of the FULL pair-count table, which did not
   *  survive sf100: the sub-threshold mass is ~99.98% of all candidate
   *  pairs (113.0M of 113.05M at sf10 — only the threshold sweep ever
   *  reads them, and only as a COUNT), so the full snapshot materialized
   *  ~1e9 5-long rows of resident scratch; worse, its kept lineage pinned
   *  the corpus-sized posting and pair shuffles behind it for the memo's
   *  lifetime. The qualifying set is O(near-dup pairs) — tens of
   *  thousands of rows at any measured scale — and the stream that
   *  distills it is transient: shuffles reaped at the post-build GC. */
  private val pairCache =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[graft] def qualifyingPairCounts(spark: SparkSession, dir: String): DataFrame =
    pairCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.graft.DatasetBridge
      DatasetBridge.snapshot(
        shinglePairCounts(spark, dir).filter(
          // ngramJaccard's keep: inter/(n_a+n_b-inter) >= 0.5 — exact in
          // integers (the double division can't round a strict miss up to
          // 0.5 below 2^52)
          (col("inter") * 2 >= col("n_a") + col("n_b") - col("inter")) ||
          // containment's keep, both directions, its exact half-up form
          (col("n_a") >= 5 && expr("(2 * inter * 10000 + n_a) div (2 * n_a)") >= 8000L) ||
          (col("n_b") >= 5 && expr("(2 * inter * 10000 + n_b) div (2 * n_b)") >= 8000L)),
        truncateLineage = true).df
    })

  /** The TRANSIENT full pair-count stream — one pass of the posting-array
   *  suffix pairing over the shared shingle snapshot, set sizes attached
   *  by broadcast (the counts table is O(docs) — 5M rows / ~80 MB at
   *  sf100, far cheaper to replicate than to re-shuffle-and-sort the
   *  ~1e9-row pair stream twice through a sort-merge join). NOT
   *  snapshotted: consumers that need sub-threshold pairs read them as a
   *  stream and keep only aggregates. */
  private[graft] def shinglePairCounts(spark: SparkSession, dir: String): DataFrame =
    shinglePairCountsOn(
      shingleIndex(spark, dir).select("doc_id", "sh"),
      docShingleCounts(spark, dir))

  /** The pair-count pipeline over an arbitrary (doc_id, sh) shingle table
   *  — the seam DedupQualitySpec drives with an ADVERSARIAL corpus (one
   *  viral shingle in 20% of docs) to pin that the stop-shingle cap keeps
   *  candidate volume bounded without costing recall on true pairs. */
  private[graft] def shinglePairCountsOn(docShingles: DataFrame, counts: DataFrame): DataFrame = {
    // ONE corpus-sized shuffle builds per-shingle POSTING ARRAYS; the
    // stop-shingle cap (a shingle in >100 docs can't witness near-dup
    // pairs) becomes a map-side size() filter on the grouped array, and
    // sorted arrays + suffix pairing emit each unordered doc pair exactly
    // once MAP-SIDE (the q64 basket pattern). The previous form paid THREE
    // corpus-sized shuffles — a hot-count pass plus both sides of an
    // inverted-index self-join — and the join's spill blew through 45 GB
    // of disk at sf100 (1B postings); this shape shuffles the postings
    // once and never materializes the joined stream.
    val postings = docShingles.groupBy("sh")
      .agg(sort_array(collect_list("doc_id")).as("ds"))
      .filter(size(col("ds")) <= 100)
    val nDocs = counts.count()
    def attach(df: DataFrame): DataFrame =
      if (nDocs <= BroadcastDocLimit) broadcast(df) else df
    postings
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "id_a")))
      .select(col("id_a"),
        explode(slice(col("ds"), col("i") + lit(2),
          size(col("ds")) - col("i") - lit(1))).as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
      // broadcast, not equi-shuffle: the counts side is O(docs) while the
      // pair stream is O(Σ C(|posting|,2)) — a sort-merge join here would
      // re-shuffle and fully sort the billion-row stream twice. SIZE-GATED
      // (r11): two (long, long) columns are ~16 B/row plus hashed-relation
      // overhead, so 5M docs at sf100 is ~80 MB — fine — but the table
      // grows linearly in corpus doc count and past ~16M docs the driver
      // collect + executor replication stops being the cheap side; beyond
      // the gate fall back to the shuffled equi-join and let AQE plan it.
      // The count() that decides the gate also EAGERLY materializes the
      // counts side (it scans the packed-shingle snapshot), so the
      // broadcast build never races spark.sql.broadcastTimeout against a
      // cold corpus-sized snapshot computation.
      .join(attach(counts.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a")), "id_a")
      .join(attach(counts.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b")), "id_b")
  }

  /** Docs-side row bound for the pair-stream count joins: ≤ this many rows
   *  broadcast (~16 B/row ⇒ ~256 MB worst case), above it shuffle. */
  private val BroadcastDocLimit = 16L * 1000 * 1000

  /** Exact n-gram Jaccard via inverted index: distinct word-3-gram per doc,
   *  self-join on shingle (frequency-capped), intersection counts per pair,
   *  Jaccard = |∩| / (|A|+|B|−|∩|) ≥ 0.5.
   *
   *  The inverted index keys on the 64-bit shingle HASH, not the shingle
   *  string: an 8-byte long shuffles/joins far cheaper than a ~20-byte
   *  string and set sizes/intersections are identical up to a 64-bit hash
   *  collision (~n²/2⁶⁴ ≈ 10⁻⁹ at 10⁹ distinct shingles — far below any
   *  near-dup decision threshold; the SQL oracle on raw strings agrees). */
  /** The thresholded exact-Jaccard pair table is the corpus's VERIFIED
   *  near-dup artifact (consumed by dedup_ngram_jaccard and as
   *  dedup_lsh_eval's ground truth, where it is referenced twice) —
   *  snapshotted once per (application, dir). The heavy intermediates
   *  (shingle index, pair counts) were already snapshots; this pins the
   *  final 2-join + threshold pass too, which the sf10 profile showed
   *  re-running per consumer (~17 s each at 500k docs). The output is
   *  O(near-dup pairs) — tiny at any scale. */
  private val jaccardPairCache =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.graft.DatasetBridge
      DatasetBridge.snapshot(ngramJaccardCompute(spark, dir)).df
    })

  /** PER-DOC SHINGLE COUNTS — |shingles(doc)|, the third shared artifact
   *  of the shingle family: every Jaccard/containment consumer needs it,
   *  and deriving it is a full groupBy over the ~50-shingles-per-doc
   *  index (measured ~10 s per consumer at sf10 for an O(docs)-row
   *  result). Since the index went packed ([[packedShingles]]) this is a
   *  pure map-side `size(shs)` projection over the snapshot — no shuffle,
   *  no snapshot of its own, nothing to pin. (It previously re-grouped
   *  the exploded stream: one corpus-sized shuffle per build, ~10 s at
   *  sf10, pinned on disk for the memo's lifetime.) */
  private[graft] def docShingleCounts(spark: SparkSession, dir: String): DataFrame =
    packedShingles(spark, dir)
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
      .filter(col("n_sh") > 0)

  /** THRESHOLD SWEEP — how many candidate pairs fall in each Jaccard
   *  band (≥0.9, ≥0.8, ≥0.7, ≥0.5, below): the calibration table behind
   *  "where do we set the near-dup cutoff" — run BEFORE committing a
   *  threshold, so the dedup rate at each choice is known in advance.
   *  One pass over the TRANSIENT pair stream ([[shinglePairCounts]]) —
   *  this is the one consumer that reads the ~99.98% sub-threshold pair
   *  mass, and it keeps only 5 counters, so the stream aggregates in
   *  place and nothing is materialized; the band test is
   *  cross-multiplied integer (`inter·10⁴ ≥ band·union`), so bucket
   *  membership can't float-flip at a boundary. Output: 5 rows. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    shinglePairCounts(spark, dir)
      .select(expr("""CASE WHEN inter * 10000 >= 9000 * (n_a + n_b - inter) THEN 9000
                           WHEN inter * 10000 >= 8000 * (n_a + n_b - inter) THEN 8000
                           WHEN inter * 10000 >= 7000 * (n_a + n_b - inter) THEN 7000
                           WHEN inter * 10000 >= 5000 * (n_a + n_b - inter) THEN 5000
                           ELSE 0 END""").cast("bigint").as("band_bp"))
      .groupBy("band_bp").agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("band_bp").desc)
  }

  private def ngramJaccardCompute(spark: SparkSession, dir: String): DataFrame =
    qualifyingPairCounts(spark, dir)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("id_a", "id_b")

  /** Asymmetric shingle CONTAINMENT — the overlap measure Jaccard misses:
   *  a short document quoted wholesale inside a much longer one has
   *  |∩|/|A∪B| ≈ |A|/|B| → 0 but |∩|/|A| ≈ 1. Containment is the
   *  dedup-family member that catches quote/excerpt/embedding relations
   *  (Broder 1997 defines both resemblance and containment over the same
   *  shingle sets — one index serves both).
   *
   *  Scale shape identical to [[ngramJaccard]]: the SAME shared shingle
   *  snapshot, the same >100-doc stop-shingle cap before the inverted-
   *  index self-join, intersection counts per pair, then each unordered
   *  pair emits up to two DIRECTED rows (sub ⊂ super). Score is exact
   *  integer basis points with half-up rounding —
   *  `(2·inter·10⁴ + n_sub) div (2·n_sub)` — so the DuckDB twin matches
   *  bit-for-bit with no float comparison at the threshold. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qualifyingPairCounts(spark, dir)
    val directed = pairs
      .select(col("id_a").as("id_sub"), col("id_b").as("id_super"), col("inter"), col("n_a").as("n_sub"))
      .unionByName(pairs.select(col("id_b").as("id_sub"), col("id_a").as("id_super"), col("inter"), col("n_b").as("n_sub")))
    directed
      .filter(col("n_sub") >= 5) // tiny shingle sets contain trivially
      .select(col("id_sub"), col("id_super"),
        expr("(2 * inter * 10000 + n_sub) div (2 * n_sub)").as("containment_bp"))
      .filter(col("containment_bp") >= 8000L)
      .orderBy("id_sub", "id_super")
  }

  /** Embedding-cosine near-dup: hyperplane LSH buckets, exact cosine
   *  verification on RANK-WINDOWED bucket-colliding pairs. Emits the
   *  top-20 candidates with an `is_dup` (cos ≥ 0.9) verdict — on this
   *  corpus the vectors are random so no pair crosses the threshold, and
   *  the candidate ranking proves the bucket+verify machinery end-to-end.
   *  Signature width scales with the corpus
   *  ([[graft.similarity.Ann.sigBits]]: bits ≈ log2(n/64), floor 8) so
   *  MEAN bucket population stays bounded as data grows — but no
   *  near-dup-preserving hash can bound the MAX: a corpus whose dense
   *  direction cone holds a million genuinely-pairwise-similar vectors
   *  puts them all in one bucket BY DESIGN (that is what "similar pairs
   *  collide" means), and the full in-bucket self-join did Σpop² ≈ 5e11
   *  cosines at sf100 (ScaleGen's per-copy offset builds exactly such a
   *  cone). The candidate cap — this family's analogue of the shingle
   *  stop-cap — is a RANK WINDOW: each member is compared to its
   *  [[EmbedPairWindow]] predecessors in vec_id order within the bucket,
   *  so candidates are Σ pop·min(pop−1, W) — linear in every bucket's
   *  population. At the oracle scales every bucket holds far fewer than
   *  W members, so the window covers the whole bucket and the pair set
   *  is IDENTICAL to the full join; the cap engages only where the full
   *  join is quadratic. The DuckDB twin applies the same window via
   *  `b.rs − a.rs BETWEEN 1 AND W` on the identical rank. */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val emb = Tables.embeddings(spark, dir)
    val bits = graft.similarity.Ann.sigBits(emb.count())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("bucket").orderBy("vec_id")
      .rowsBetween(-EmbedPairWindow, -1)
    emb
      .select(col("vec_id"), col("embedding"),
        hyperplaneSig(col("embedding"), bits, dim).as("bucket"))
      .withColumn("prev", collect_list(struct(col("vec_id"), col("embedding"))).over(w))
      .select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        explode(col("prev")).as("p"))
      // predecessors have strictly smaller vec_id, so id_a < id_b holds by
      // construction; cosine is argument-order-exact (the dot's per-index
      // products and both norms are symmetric in IEEE arithmetic)
      .select(col("p.vec_id").as("id_a"), col("id_b"),
        cosine(col("p.embedding"), col("emb_b")).as("cos"))
      .select(col("id_a"), col("id_b"), (col("cos") >= 0.9).as("is_dup"), col("cos"))
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(20)
  }

  /** Rank-window width for [[embeddingNearDup]]'s in-bucket candidate
   *  generation: comfortably above any oracle-scale bucket population
   *  (window = whole bucket there ⇒ pair-set identical to the full
   *  self-join), and the linear-cost bound everywhere else. */
  private[graft] val EmbedPairWindow = 64

  /** Span-level dedup (the tractable kin of Lee et al. 2022's exact
   *  substring dedup, and of C4's line dedup): documents split into
   *  tumbling 10-token segments; a segment whose exact content appears in
   *  MORE THAN ONE distinct document is a duplicated span. Reports, per
   *  source, how many spans/tokens survive dropping cross-document
   *  duplicated spans — catching boilerplate and copied passages that
   *  whole-document dedup never sees.
   *
   *  Scale shape: segmentation is pure map-side array arithmetic
   *  (`sequence` + `slice` — no window, no self-join); the cross-doc
   *  frequency is one partial-aggregated count-distinct keyed on the span
   *  MD5 (an inverted index on content hash, 16 bytes per span on the
   *  shuffle regardless of span text length); the verdict joins back by
   *  the same hash and rolls up per source. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("source"), col("n"), col("toks"),
        explode(expr("sequence(0, (n - 1) div 10)")).as("s"))
      .select(col("doc_id"), col("source"),
        md5(expr("array_join(slice(toks, s * 10 + 1, 10), ' ')")).as("h"),
        least(lit(10L), (col("n") - col("s") * 10).cast("long")).as("slen"))
    val freq = spans.groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
    spans.join(freq, "h")
      .groupBy("source")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_spans"),
        sum(col("slen")).as("tokens"),
        sum(when(col("nd") === 1, col("slen")).otherwise(0L)).as("tokens_after"))
      .orderBy("source")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
   *  web-scale through semantic deduplication"): semantic near-dup removal
   *  that catches paraphrases no shingle method can — cluster the
   *  embedding space with k-means, then compare pairs ONLY within a
   *  cluster. For each doc whose cosine to an earlier (lower-id) cluster
   *  member is ≥ 0.3, emit the doc with its kept representative.
   *
   *  Scale shape: the clustering is [[graft.similarity.Ann.kmeansCentroids]]
   *  (broadcast centroid literals, one hash aggregate per Lloyd round);
   *  assignment is map-side (the broadcast-join form past 32 cells —
   *  [[graft.similarity.Ann.assignCellsScalable]]); the pair join is an
   *  equi-join on `cell` — candidate pairs are O(Σ|cell|²), bounded by
   *  construction because k = max(16, ⌈√n⌉) GROWS with the corpus (√n
   *  cells is the paper's regime), never the all-pairs O(n²). Exactly
   *  the embedding twin of [[ngramJaccard]]'s bucket-join discipline. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // CORPUS-SCALED cell count — the same √n rule as Ann.knnGraph: with
    // EVERY vector on both sides of the in-cell pair join, fixed k does
    // Σ|cell|² ≈ n²/k work (measured 153 s of the sf10 suite at k=16);
    // √n cells make it n^1.5. The DuckDB oracle derives the same k from
    // the same ⌈√count⌉ (KmeansOracle.KDyn).
    val k = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val centroids = graft.similarity.Ann.trainedCentroids(spark, dir, k, 3)
    // RANK-WINDOWED in-cell pairing (r11): √n trained cells bound the
    // MEAN population, but a genuinely dense semantic region — ScaleGen's
    // direction cone holds ~1M pairwise-similar vectors at sf100 — lands
    // in O(1) cells BY DESIGN (that is what clustering does), and the
    // full in-cell pair join is then intrinsically ~1e12 cosines: the a9
    // campaign measured it at 41+ min on 3 single-core stragglers, and
    // salting it (a10) only spread the same ~17 core-hours wider. The
    // candidate cap — the same discipline as [[embeddingNearDup]] and
    // the shingle stop-cap — compares each member to its
    // [[SemDedupWindow]] rank-predecessors (by vec_id) within the cell,
    // making candidates linear in every cell's population. At the oracle
    // scales every trained cell holds far fewer than W members, so the
    // window covers the whole cell and the result is IDENTICAL to the
    // full join; the DuckDB twin applies the same window on the same
    // rank. kept_id stays "smallest earlier similar member IN WINDOW" —
    // at any scale where the window truncates, the kept representative
    // is the nearest-by-id earlier dup, the natural incremental-dedup
    // answer.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy("vec_id")
      .rowsBetween(-SemDedupWindow, -1)
    graft.similarity.Ann.assignCellsScalable(emb, centroids)
      .select(col("cell"), col("vec_id"), col("embedding"))
      .withColumn("prev", collect_list(struct(col("vec_id"), col("embedding"))).over(w))
      .select(col("vec_id").as("dup_id"), col("embedding").as("emb_b"),
        explode(col("prev")).as("p"))
      .filter(cosine(col("p.embedding"), col("emb_b")) >= 0.3)
      .groupBy("dup_id")
      .agg(min(col("p.vec_id")).as("kept_id"), count(lit(1)).as("n_sim"))
      .orderBy("dup_id")
  }

  /** Rank-window width for [[semanticDedup]]'s in-cell candidate
   *  generation: comfortably above any oracle-scale trained-cell
   *  population (window = whole cell there ⇒ result identical to the
   *  full pair join), linear-cost everywhere else. */
  private[graft] val SemDedupWindow = 256

  /** GENERATED DuckDB oracle for [[embeddingNearDup]] — the LSH bucket
   *  assignment is exactly reproducible in SQL because every piece is
   *  deterministic arithmetic: the plane matrix entries are rationals
   *  `pmod(xxh64, 100003)/100003 − 0.5` (the xxh64 values are computed HERE
   *  at generation time and embedded as integer literals), and both the
   *  plane dot products and the cosine accumulate left-to-right in double —
   *  the SQL's left-associative `+` chains perform the identical IEEE
   *  operation sequence as the fused loops in
   *  [[graft.functions.HyperplaneSigExpr]]/[[graft.functions.ArrayCosine]],
   *  so signatures, candidate pairs and cosines match BIT-FOR-BIT. The
   *  signature width replicates [[graft.similarity.Ann.sigBits]] with an
   *  exact integer CASE ladder (no floating log2 at integer boundaries). */
  private[graft] lazy val embeddingOracleSql: String = {
    import graft.functions.HyperplaneOracle
    val xyTerms = (0 until HyperplaneOracle.Dim)
      .map(j => s"${HyperplaneOracle.elem("a", j)}*${HyperplaneOracle.elem("b", j)}")
    s"""
      WITH ${HyperplaneOracle.sigCtes},
      s2 AS (
        SELECT *, row_number() OVER (PARTITION BY sig ORDER BY vec_id) AS rs
        FROM s)
      SELECT id_a, id_b, cos >= 0.9 AS is_dup, cos FROM (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CASE WHEN sqrt(a.nrm) * sqrt(b.nrm) = 0 THEN 0.0
                    ELSE (${xyTerms.mkString(" + ")}) / (sqrt(a.nrm) * sqrt(b.nrm)) END AS cos
        FROM s2 a JOIN s2 b
          ON a.sig = b.sig AND b.rs - a.rs BETWEEN 1 AND $EmbedPairWindow) p
      ORDER BY cos DESC, id_a, id_b LIMIT 20
    """
  }

  /** Distributed connected components over a near-dup pair set, via
   *  alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
   *  "Connected Components in MapReduce and Beyond"): each round rewires
   *  every node toward the minimum of its neighborhood, which provably
   *  converges to per-component stars in O(log n) rounds REGARDLESS of
   *  component diameter — a path graph of n nodes needs ~log n rounds where
   *  plain min-label propagation needs n. Shuffles carry only (long, long)
   *  edges, never documents; the convergence check is one tiny aggregate
   *  per round (count + order-independent hash of the edge set), not a
   *  data collect. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
                          preCanonical: Boolean = false): DataFrame =
    starComponents(pairs, maxIter, preCanonical)._1

  /** [[connectedComponents]] plus the number of rounds taken — exposed so
   *  the spec can assert the O(log n) bound on a path graph.
   *
   *  `preCanonical` (r12, §2.4 remove shuffles): the caller GUARANTEES the
   *  pair set is already distinct with no self-pairs (one row per
   *  undirected edge under (greatest, least) orientation). The wrapper
   *  then skips its defensive distinct — a full edge-set exchange — AND
   *  the round-0 snapshot materialization (the input, e.g. the memoized
   *  co-purchase edge base, is typically already snapshot-backed, so
   *  round 1 reads it directly; the loop never releases a frame it does
   *  not own). Wrong use shows up loudly: a duplicated input row breaks
   *  the signature's xor convergence check, it does not corrupt labels
   *  silently — but the flag is still only set where the invariant is
   *  provable (graph_components: the edge snapshot is x<y distinct by
   *  construction, asserted by GraphOpsSpec). */
  private[graft] def starComponents(pairs: DataFrame, maxIter: Int = 50,
                                    preCanonical: Boolean = false): (DataFrame, Int) = {
    // iterative-algorithm state management: SNAPSHOT each round's edge set
    // (persisted InternalRow RDD wrapped as a LogicalRDD frame,
    // [[org.apache.spark.sql.graft.DatasetBridge]]), don't just persist
    // the Dataset. persist() caches data but keeps the logical plan, so
    // each round's plan nests the previous round's (doubling per round —
    // `large` feeds `small` twice), and cache plan-matching proved
    // unreliable across the loop (measured: round times GREW each round,
    // full-lineage recompute). The snapshot keeps plans constant-size AND
    // gives an explicit release handle, so peak storage is one round's
    // edges, not O(rounds) — `localCheckpoint`'s blocks would linger until
    // GC. RDD lineage stays intact, so a lost block recomputes correctly.
    import org.apache.spark.sql.graft.DatasetBridge
    // canonical directed form: every undirected edge stored once as
    // (hi > lo); self-pairs carry no component information (isolated
    // self-pair nodes are re-added as singleton labels at the end)
    val canonical = pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
    // round-0 state: either the defensive dedup snapshot, or (preCanonical)
    // the caller's frame read in place — `ownedEdges` tracks whether the
    // loop owns the current frame's storage and may release it
    var ownedEdges: org.apache.spark.sql.graft.DatasetBridge.Snapshot =
      if (preCanonical) null
      else DatasetBridge.snapshot(canonical.filter(col("hi") =!= col("lo")).distinct())
    var edgesDf: DataFrame = if (preCanonical) canonical else ownedEdges.df
    // order-independent edge-set signature: (count, XOR of per-edge hashes —
    // xor, not sum: summing longs trips ANSI overflow, and edges are
    // distinct so nothing cancels). Equal signatures across a round ⇒ the
    // round was a no-op ⇒ the graph is per-component stars (large/small-star
    // fix exactly those), modulo a ~2⁻⁶⁴ hash-collision chance — the
    // standard set-equality check that avoids an except() anti-join per
    // round.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    // Star-fixpoint predicate (r12): the edge set is a disjoint union of
    // min-centered stars ⇔ every hi has out-degree 1 AND no node appears
    // as both hi and lo. (⇒ each component is then bipartite member→center
    // with center < every member, so center = component min; large-star
    // and small-star are both identities on such a graph — the proof the
    // signature criterion reaches only one full round later, by running a
    // whole round and observing the no-op.) Checking it directly lets the
    // loop stop the round the graph BECOMES stars instead of paying a
    // 4-exchange verification round to watch nothing change. Cost: one
    // hash exchange over 2|E| rows — so it only runs when the cheap
    // signature says it could pass (edge count stable, hash still moving).
    def isStarFixpoint(e: DataFrame): Boolean = {
      val bad = e.select(col("hi").as("n"), lit(1L).as("h"), lit(0L).as("l"))
        .union(e.select(col("lo").as("n"), lit(0L).as("h"), lit(1L).as("l")))
        .groupBy("n").agg(sum("h").as("nh"), sum("l").as("nl"))
        .agg(coalesce(sum(when((col("nh") > 0 && col("nl") > 0) || col("nh") > 1, 1L)
          .otherwise(0L)), lit(0L)))
        .head().getLong(0)
      bad == 0L
    }
    var sig = signature(edgesDf)
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged && rounds < maxIter) {
      // LARGE-STAR: for each node u, m = min(N(u) ∪ {u}); every neighbor
      // STRICTLY GREATER than u re-links to m. Neighborhoods are read in
      // both directions; one groupBy + one join per round.
      val nbrs = edgesDf.select(col("hi").as("u"), col("lo").as("v"))
        .union(edgesDf.select(col("lo").as("u"), col("hi").as("v")))
      val mins = nbrs.groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
      // snapshot: `large` is consumed three times below (mins2 + both
      // union branches of `small`) — without the barrier each consumer
      // re-runs the join+aggregate subtree. NO distinct here: raw
      // large-star output is exactly one row per directed v>u edge (≤ the
      // round's edge count, never an inflation), `mins2` is dedup-blind,
      // and `small`'s distinct dedupes with map-side partial aggregation
      // anyway — dropping it removes one full exchange per round.
      val large = DatasetBridge.snapshot(
        nbrs.join(mins, "u").filter(col("v") > col("u"))
          .select(col("v").as("hi"), col("m").as("lo")))
      // SMALL-STAR: orient edges from each node to its SMALLER neighbors;
      // m = min of those; every smaller neighbor and u itself link to m.
      // m ≤ lo < hi keeps the (hi, lo) canonical form without re-sorting.
      val mins2 = large.df.groupBy("hi").agg(min(col("lo")).as("m"))
      val joined = large.df.join(mins2, "hi")
      val small = DatasetBridge.snapshot(joined.filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(joined.select(col("hi"), col("m").as("lo")))
        .distinct())
      val t0 = System.nanoTime()
      val nextSig = signature(small.df) // materializes small; large/edges now free
      large.release()
      if (ownedEdges != null) ownedEdges.release()
      ownedEdges = small
      edgesDf = small.df
      // identical signature = the round was a no-op (free detection, but
      // one round late); stable count + moved hash = the set changed while
      // staying the same size, which is how the final contraction round
      // looks — worth one predicate pass to stop NOW instead of paying a
      // full verification round next.
      converged = nextSig == sig ||
        (nextSig._1 == sig._1 && isStarFixpoint(small.df))
      sig = nextSig
      rounds += 1
      // round-count instrumentation: capacity campaigns attribute CC cost
      // to ROUNDS × per-round volume. One debug line per round (enable
      // DEBUG for graft.dedup.Dedup to see it) — edge count is free (the
      // signature aggregate already computed it), the duration covers this
      // round's materialize+check.
      logDebug(f"CC ROUND $rounds%d: ${nextSig._1}%d edges, " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s${if (converged) " (fixpoint)" else ""}")
    }
    // at the star fixpoint every edge is (member, root): members label to
    // their root, each root labels to itself (min() collapses the two roles
    // into one row per node, and stays correct if maxIter cut the loop)
    val starLabels = edgesDf.select(col("hi").as("node"), col("lo").as("label"))
      .union(edgesDf.select(col("lo").as("node"), col("lo").as("label")))
      .groupBy("node").agg(min(col("label")).as("label"))
    // nodes whose ONLY evidence is a self-pair have no edges but are still
    // nodes of the input graph — emit them as singleton clusters
    val selfOnly = pairs.filter(col("id_a") === col("id_b"))
      .select(col("id_a").as("node")).distinct()
      .join(starLabels.select("node"), Seq("node"), "left_anti")
      .select(col("node"), col("node").as("label"))
    (starLabels.union(selfOnly), rounds)
  }

  /** Cluster labels of the n-gram-Jaccard pair graph, computed ONCE per
   *  (application, dir) and snapshotted: [[dedupClusters]] and
   *  [[dedupCanonical]] are two consumers of the same clustering — a real
   *  pipeline persists the label frame once and reads it twice, it never
   *  re-runs the pair join + star contraction per consumer. Keyed by
   *  applicationId so a fresh session (new data) recomputes; the snapshot
   *  is an RDD-level persist, so a consumer's `catalog.clearCache()`
   *  can't silently drop it between the two reads. The cached frame is
   *  (node, label) pairs only — O(documents-in-clusters), never text. */
  private val labelCache =
    graft.CorpusCaches.register(scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame])
  private[graft] def ngramClusterLabels(spark: SparkSession, dir: String): DataFrame =
    labelCache.getOrElseUpdate((spark.sparkContext.applicationId, dir), {
      import org.apache.spark.sql.graft.DatasetBridge
      DatasetBridge.snapshot(
        connectedComponents(ngramJaccard(spark, dir).select("id_a", "id_b"))).df
    })

  /** Near-dup CLUSTERS: connected components of the n-gram-Jaccard pair
   *  graph — the step that turns pairwise evidence into the keep/drop
   *  groups a dedup run acts on. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    ngramClusterLabels(spark, dir)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy("cluster_id")

  /** Cluster-SIZE histogram — the one-page summary a dedup run reports:
   *  how many near-dup clusters of each size exist, with the singleton
   *  count (docs in no cluster) as the size-1 row. Consumes the shared
   *  label snapshot; the histogram is two O(#clusters) aggregates plus
   *  two 1-row count frames joined broadcast-style — nothing rescans
   *  text, so the report is free at any corpus size once the clustering
   *  snapshot exists. */
  def dedupClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val labels = ngramClusterLabels(spark, dir)
    val hist = labels.groupBy("label").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size")).agg(count(lit(1)).as("n_clusters"))
    val singles = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(labels.agg(count(lit(1)).as("n_in_clusters")))
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_in_clusters")).as("n_clusters"))
    hist.unionAll(singles).orderBy("cluster_size")
  }

  /** Canonical-document selection — the step AFTER clustering: each
   *  near-dup cluster keeps exactly one representative, chosen by highest
   *  quality score with lowest doc_id as the tiebreak. The argmax is a
   *  `max_by` over a (qbp, −doc_id) struct — one aggregate over the
   *  cluster labels, never a per-cluster window, so the selection is one
   *  shuffle on the cluster id regardless of corpus size. Consumes the
   *  SHARED label snapshot ([[ngramClusterLabels]]) rather than re-running
   *  the clustering. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val labels = ngramClusterLabels(spark, dir)
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"),
        qualityBp(col("text")).as("qbp"))
    labels.join(quality, col("node") === col("doc_id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(
        max_by(struct(col("doc_id"), col("qbp")),
          struct(col("qbp"), (-col("doc_id")).as("neg_id"))).as("k"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("k.doc_id").as("keep_id"),
        col("k.qbp").as("keep_qbp"), col("n_members"))
      .orderBy("cluster_id")
  }

  /** SURVIVORSHIP (golden record) — the MDM step past canonical-row
   *  selection: instead of keeping ONE member row, assemble the best
   *  value PER FIELD across each near-dup cluster (mode language, mode
   *  source — ties to the smallest value — and max length). Field-level
   *  merge is what a master-data pipeline ships downstream when no
   *  single copy is uniformly best. Each mode is one (cluster, value)
   *  count + a packed `min_by` argmin over (−count, value) — no
   *  per-cluster window, two shuffles per field on the cluster id.
   *  Consumes the SHARED label snapshot like the other cluster readers. */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val labels = ngramClusterLabels(spark, dir)
    val j = labels.join(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      col("node") === col("doc_id"))
    def mode(c: String) =
      j.groupBy(col("label"), col(c)).agg(count(lit(1)).as("cnt"))
        .groupBy(col("label").as("cluster_id"))
        .agg(min_by(col(c), struct((-col("cnt")).as("nc"), col(c))).as(s"${c}_mode"))
    j.groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max("n_chars").as("max_chars"))
      .join(mode("lang"), "cluster_id")
      .join(mode("source"), "cluster_id")
      .select(col("cluster_id"), col("n_members"), col("lang_mode"),
        col("source_mode"), col("max_chars"))
      .orderBy("cluster_id")
  }

  /** Shared oracle prefix: near-dup cluster labels via the recursive
   *  reachability closure (clusters are small, so the closure is cheap at
   *  oracle scale). Final CTE: `labels(node, cluster_id)`. */
  private[graft] val ClusterCtes: String = """toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pc AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM pc
        JOIN counts a ON a.doc_id = id_a
        JOIN counts b ON b.doc_id = id_b
        WHERE cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) >= 0.5),
      und AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM (SELECT a, b FROM und UNION SELECT a, a FROM und)
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      labels AS (SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a)"""

  /** Fingerprint dedup: normalized-token-stream fingerprint groupBy —
   *  catches whitespace-only variants that md5(raw text) misses. Uses the
   *  cross-engine md5 form so the whitespace-collapse semantics carry an
   *  exact oracle; a production run swaps in the 64-bit
   *  [[graft.functions.TextFunctions.fingerprint]] (same normalization,
   *  8-byte shuffle key — spec'd equivalent in TextFunctionsSpec). */
  def fingerprintDup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(fingerprintMd5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
      .orderBy("fp")

  /** INCREMENTAL dedup — the daily-ingest shape: a NEW BATCH deduped
   *  against the EXISTING corpus index, not against itself. Docs with
   *  id ≡ 0 (mod 10) stand in for today's batch; the rest are the
   *  standing index. Three outcomes per new doc, all decided by
   *  fingerprint joins (8-byte md5-derived keys, never text):
   *  duplicate-of-corpus (fingerprint already indexed — dropped),
   *  duplicate-within-batch (kept once, lowest doc_id), novel. The
   *  corpus side ships only its distinct fingerprint set — exactly what
   *  a production run reads back from the persisted index, O(corpus
   *  distinct) not O(corpus); the decision is one anti-join shape
   *  (left join + null test), one within-batch min_by, zero windows. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), fingerprintMd5(col("text")).as("fp"))
    val isNew = col("doc_id") % 10 === 0
    val index = docs.filter(!isNew).select("fp").distinct()
    // today's batch: the new decile PLUS re-ingests of standing corpus
    // docs (id ≡ 0 mod 97, arriving under fresh ingest ids) — the
    // re-crawl/re-upload case incremental dedup exists to catch
    val batch = docs.filter(isNew).unionByName(
      docs.filter(!isNew && col("doc_id") % 97 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    val decided = batch.join(index.withColumn("in_corpus", lit(true)), Seq("fp"), "left")
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_batch"),
        // every row of a fingerprint joined the same index row (or none),
        // so first() is value-deterministic here
        first(col("in_corpus")).as("inc"))
      .select(col("fp"), col("keep_id"), col("n_batch"),
        coalesce(col("inc"), lit(false)).as("dup_of_corpus"))
    decided
      .groupBy("dup_of_corpus")
      .agg(count(lit(1)).as("n_fingerprints"),
        sum(col("n_batch")).as("n_batch_docs"),
        sum(when(col("n_batch") > 1, col("n_batch") - 1).otherwise(0L)).as("n_intra_batch_dups"))
      .orderBy("dup_of_corpus")
  }

  /** DEDUP CANDIDATE-QUALITY EVALUATION — precision/recall of the
   *  MinHash-LSH candidate set against the exact n-gram-Jaccard ground
   *  truth, as a query: the report a pipeline owner re-runs whenever the
   *  banding parameters (k, bands) or the threshold change. Composes the
   *  two existing pipelines — the shared shingle index is computed once —
   *  and reduces both pair sets plus their semi-join to one integer row;
   *  everything heavier than three counts is work the two inputs already
   *  paid. Banding misses some true pairs (recall < 100%) and the 32-perm
   *  estimator passes some false ones (precision < 100%) — that gap IS
   *  the measurement. */
  def lshEval(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashLsh(spark, dir).select("id_a", "id_b")
    val truth = ngramJaccard(spark, dir).select("id_a", "id_b")
    val hits = cand.join(truth, Seq("id_a", "id_b"), "left_semi")
    cand.agg(count(lit(1)).as("n_candidates"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hits"))) // 1-row frames
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        expr("n_hits * 10000 div greatest(n_candidates, 1)").as("precision_bp"),
        expr("n_hits * 10000 div greatest(n_truth, 1)").as("recall_bp"))
  }

  val defs: Vector[QueryDef] = Vector(
    QueryDef("dedup_lsh_eval", lshEval, Some(XxhashOracle.dedupEvalSql)),
    QueryDef("dedup_incremental", incrementalDedup, Some("""
      WITH f AS (
        SELECT doc_id,
               md5(array_to_string(
                 CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                      ELSE regexp_split_to_array(trim(text), '\s+') END, chr(1))) AS fp
        FROM documents),
      idx AS (SELECT DISTINCT fp FROM f WHERE doc_id % 10 <> 0),
      batch AS (
        SELECT fp, doc_id FROM f WHERE doc_id % 10 = 0
        UNION ALL
        SELECT fp, doc_id + 1000000 FROM f WHERE doc_id % 10 <> 0 AND doc_id % 97 = 0),
      b AS (
        SELECT batch.fp, min(doc_id) AS keep_id, count(*) AS n_batch,
               max(CASE WHEN idx.fp IS NOT NULL THEN 1 ELSE 0 END) = 1 AS dup_of_corpus
        FROM batch LEFT JOIN idx ON batch.fp = idx.fp
        GROUP BY batch.fp)
      SELECT dup_of_corpus, count(*) AS n_fingerprints,
             cast(sum(n_batch) as bigint) AS n_batch_docs,
             cast(sum(CASE WHEN n_batch > 1 THEN n_batch - 1 ELSE 0 END) as bigint)
               AS n_intra_batch_dups
      FROM b GROUP BY 1 ORDER BY dup_of_corpus""")),
    QueryDef("dedup_exact", exact, Some("""
      SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS dup_count
      FROM documents GROUP BY 1 ORDER BY text_md5""")),
    // GENERATED oracles: XXH64 itself reproduced in 128-bit SQL arithmetic
    // (XxhashOracle), so the signature-derived outputs hash-check too
    QueryDef("dedup_minhash_lsh", minhashLsh, Some(XxhashOracle.minhashSql)),
    QueryDef("dedup_simhash", simhashDup, Some(XxhashOracle.simhashSql)),
    // exact twin of ngramJaccard: same tokenize (\s+ on trimmed text),
    // same distinct word-3-grams, same >100-doc stop-shingle cap applied
    // BEFORE pair counting (so `inter` counts cold shingles only, while
    // n_sh counts all — exactly what the Spark side computes).
    // exact twin: same shingle/stop-cap/pair CTEs, same cross-multiplied
    // integer band classification
    QueryDef("dedup_threshold_sweep", thresholdSweep, Some("""
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      banded AS (
        SELECT CASE WHEN inter * 10000 >= 9000 * (a.n_sh + b.n_sh - inter) THEN 9000
                    WHEN inter * 10000 >= 8000 * (a.n_sh + b.n_sh - inter) THEN 8000
                    WHEN inter * 10000 >= 7000 * (a.n_sh + b.n_sh - inter) THEN 7000
                    WHEN inter * 10000 >= 5000 * (a.n_sh + b.n_sh - inter) THEN 5000
                    ELSE 0 END AS band_bp
        FROM pairs
        JOIN counts a ON a.doc_id = id_a
        JOIN counts b ON b.doc_id = id_b)
      SELECT cast(band_bp as bigint) AS band_bp, count(*) AS n_pairs
      FROM banded GROUP BY 1 ORDER BY band_bp DESC""")),
    QueryDef("dedup_ngram_jaccard", ngramJaccard, Some("""
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b,
             cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) AS jaccard
      FROM pairs
      JOIN counts a ON a.doc_id = id_a
      JOIN counts b ON b.doc_id = id_b
      WHERE cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) >= 0.5
      ORDER BY id_a, id_b""")),
    // span twin: identical tumbling segmentation via 1-based inclusive
    // list slices; the span key is the md5 of the joined tokens on both
    // sides, so the cross-doc distinct count agrees exactly
    QueryDef("dedup_spans", spanDedup, Some("""
      WITH t AS (
        SELECT doc_id, source,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        FROM documents),
      s AS (
        SELECT doc_id, source,
               md5(array_to_string(toks[(i*10+1):(i*10+10)], ' ')) AS h,
               least(10, len(toks) - i*10) AS slen
        FROM t, unnest(range(0, (len(toks) - 1) // 10 + 1)) u(i)
        WHERE len(toks) > 0),
      f AS (SELECT h, count(DISTINCT doc_id) AS nd FROM s GROUP BY 1)
      SELECT source, count(*) AS n_spans,
             cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) as bigint) AS n_dup_spans,
             cast(sum(slen) as bigint) AS tokens,
             cast(sum(CASE WHEN nd = 1 THEN slen ELSE 0 END) as bigint) AS tokens_after
      FROM s JOIN f USING (h)
      GROUP BY source ORDER BY source""")),
    // containment twin: same shingle CTEs as the jaccard oracle, each
    // unordered pair fanned out to its two directed (sub, super) rows,
    // exact half-up integer bp at the threshold (no float compare)
    QueryDef("dedup_containment", containment, Some("""
      WITH toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      directed AS (
        SELECT id_a AS id_sub, id_b AS id_super, inter FROM pairs
        UNION ALL
        SELECT id_b, id_a, inter FROM pairs)
      SELECT id_sub, id_super,
             (2 * inter * 10000 + n_sh) // (2 * n_sh) AS containment_bp
      FROM directed JOIN counts ON doc_id = id_sub
      WHERE n_sh >= 5
        AND (2 * inter * 10000 + n_sh) // (2 * n_sh) >= 8000
      ORDER BY id_sub, id_super""")),
    QueryDef("dedup_embedding", embeddingNearDup, Some(embeddingOracleSql)),
    QueryDef("dedup_semantic", semanticDedup,
      Some(graft.similarity.KmeansOracle.semdedupSql)),
    // components via recursive transitive closure in SQL (fine at oracle
    // scale); the Spark side is the distributed label propagation
    QueryDef("dedup_clusters", dedupClusters, Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pc AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM pc
        JOIN counts a ON a.doc_id = id_a
        JOIN counts b ON b.doc_id = id_b
        WHERE cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) >= 0.5),
      und AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM (SELECT a, b FROM und UNION SELECT a, a FROM und)
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a)
      SELECT cluster_id, count(*) AS n_members FROM (
        SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a) c
      GROUP BY cluster_id ORDER BY cluster_id""")),
    // same cluster CTE chain as dedup_clusters; final select is the
    // size histogram plus the singleton (unclustered docs) row
    QueryDef("dedup_cluster_sizes", dedupClusterSizes, Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pc AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM pc
        JOIN counts a ON a.doc_id = id_a
        JOIN counts b ON b.doc_id = id_b
        WHERE cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) >= 0.5),
      und AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM (SELECT a, b FROM und UNION SELECT a, a FROM und)
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      c AS (SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a),
      hist AS (
        SELECT sz AS cluster_size, cast(count(*) as bigint) AS n_clusters
        FROM (SELECT cluster_id, count(*) AS sz FROM c GROUP BY 1)
        GROUP BY 1)
      SELECT cluster_size, n_clusters FROM hist
      UNION ALL
      SELECT cast(1 as bigint),
             (SELECT count(*) FROM documents) - (SELECT count(*) FROM c)
      ORDER BY cluster_size""")),
    // cluster CTEs as in dedup_clusters; quality CTEs as in the
    // pipeline_clean_corpus oracle; argmax via row_number (oracle scale)
    // exact twin: the shared cluster closure, each mode via a
    // (count DESC, value) row_number — the min_by(-cnt, value) pack
    QueryDef("dedup_survivorship", dedupSurvivorship, Some(s"""
      WITH RECURSIVE $ClusterCtes,
      j AS (
        SELECT l.cluster_id, d.lang, d.source, d.n_chars
        FROM labels l JOIN documents d ON d.doc_id = l.node),
      lm AS (
        SELECT cluster_id, lang AS lang_mode FROM (
          SELECT cluster_id, lang,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY count(*) DESC, lang) AS rn
          FROM j GROUP BY cluster_id, lang) WHERE rn = 1),
      sm AS (
        SELECT cluster_id, source AS source_mode FROM (
          SELECT cluster_id, source,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY count(*) DESC, source) AS rn
          FROM j GROUP BY cluster_id, source) WHERE rn = 1),
      b AS (
        SELECT cluster_id, count(*) AS n_members, max(n_chars) AS max_chars
        FROM j GROUP BY 1)
      SELECT b.cluster_id, b.n_members, lm.lang_mode, sm.source_mode, b.max_chars
      FROM b JOIN lm USING (cluster_id) JOIN sm USING (cluster_id)
      ORDER BY cluster_id""")),
    QueryDef("dedup_canonical", dedupCanonical, Some(s"""
      WITH RECURSIVE toks AS (
        SELECT doc_id,
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\\s+') END AS t
        FROM documents),
      sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
        FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3),
      counts AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hot AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) > 100),
      cold AS (SELECT * FROM sh ANTI JOIN hot USING (sh)),
      pc AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM cold x JOIN cold y USING (sh)
        WHERE x.doc_id < y.doc_id
        GROUP BY 1, 2),
      pairs AS (
        SELECT id_a, id_b FROM pc
        JOIN counts a ON a.doc_id = id_a
        JOIN counts b ON b.doc_id = id_b
        WHERE cast(inter as double) / cast(a.n_sh + b.n_sh - inter as double) >= 0.5),
      und AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
      reach AS (
        SELECT a, b FROM (SELECT a, b FROM und UNION SELECT a, a FROM und)
        UNION
        SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
      labels AS (SELECT a AS node, min(b) AS cluster_id FROM reach GROUP BY a),
      qt AS (
        SELECT doc_id, text,
               CASE WHEN length(trim(text)) = 0 THEN 0
                    ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1 END AS ntok
        FROM documents),
      qf AS (
        SELECT doc_id, ntok,
               ${graft.Tables.QbpParts}
        FROM qt),
      q AS (
        SELECT doc_id,
          ${graft.Tables.QbpExpr} AS qbp
        FROM qf),
      ranked AS (
        SELECT l.cluster_id, l.node, q.qbp,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY q.qbp DESC, l.node) AS rn,
               count(*) OVER (PARTITION BY l.cluster_id) AS n_members
        FROM labels l JOIN q ON q.doc_id = l.node)
      SELECT cluster_id, node AS keep_id, qbp AS keep_qbp, n_members
      FROM ranked WHERE rn = 1 ORDER BY cluster_id""")),
    // exact oracle: identical tokenize (\s+ on trimmed text) + chr(1)
    // sentinel join + md5 in both engines; empty/blank text joins to ''
    // in both (Spark empty token array, DuckDB [''])
    QueryDef("dedup_fingerprint", fingerprintDup, Some("""
      SELECT md5(array_to_string(
               CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
                    ELSE regexp_split_to_array(trim(text), '\s+') END, chr(1))) AS fp,
             min(doc_id) AS keep_id, count(*) AS dup_count
      FROM documents GROUP BY 1 ORDER BY fp"""))
  )
}
