package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.b rows 25-28 + the
  * north-star extensions): deduplication (exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine), similarity search (brute-force top-k
  * + IVF-bucketed ANN), text analysis (language-ID, quality score, token
  * counting, fingerprinting), and multimodal binary-column plumbing.
  *
  * Everything is built from Catalyst expressions — higher-order array
  * functions (`transform`/`aggregate`/`filter`) for per-token work, and the
  * custom codegen'd [[graft.functions.DotF32]] for the similarity kernel —
  * no UDFs, no `.collect()` — so every per-document computation is
  * map-side and the only shuffles are the semantic ones (group-bys and the
  * LSH bucket join).
  *
  * Oracle-parity strategy: all hashing is built on md5 (identical hex in
  * Spark and DuckDB). `h60` maps any string to a 60-bit integer (first 15
  * hex chars of md5), after which MinHash/SimHash/fingerprints are plain
  * 64-bit integer arithmetic that both engines evaluate bit-identically.
  * Floating-point similarity scores are computed per-element in double
  * (exact float→double widening) and rounded to 6 dp — double accumulation
  * error (~1e-15 for 64 terms) is far below the rounding grain, so ranking
  * and hashes agree across engines.
  *
  * Scale notes (100 TB): exact dedup and text stats are single hash-agg
  * passes with map-side partials. MinHash/SimHash signatures are computed
  * per row with no shuffle; LSH banding turns near-dup search into an
  * equi-join on (band, band_key) — never an all-pairs product. Brute-force
  * cosine top-k is a linear scan against one broadcast query vector
  * (TakeOrderedAndProject, no global sort); the IVF variant prunes the scan
  * to one centroid bucket, the standard trade at cluster scale where
  * centroids come from k-means and buckets are pre-partitioned. The sign
  * sketch for embedding near-dup uses 4 planes here (tiny test SF — wider
  * sketches at real scale), giving an equi-join on the bucket id.
  */
object LlmQueries {

  /** 60-bit deterministic string hash shared with the DuckDB oracle:
    * first 15 hex chars of md5, as a positive long. */
  private[graft] def h60Spark(e: String) =
    s"cast(conv(substring(md5($e), 1, 15), 16, 10) AS bigint)"
  private[graft] def h60Duck(e: String) =
    s"('0x' || substring(md5($e), 1, 15))::UBIGINT::BIGINT"

  /** MinHash hash family h_i(x) = (a_i*x + b_i) mod P over x < P=2^31-1;
    * a_i*x < 2^62 so the arithmetic stays exact in signed 64-bit in both
    * engines. Seeds are fixed constants — determinism per SURVEY §7.4.7. */
  // Shared with the native one-pass kernel ([[graft.functions.MinHashSig]])
  // so the Spark plan and the DuckDB oracle can never drift apart.
  private val P = graft.functions.MinHashFamily.P
  private[graft] val NumPerms = graft.functions.MinHashFamily.NumPerms
  private[graft] val Bands = 4
  private[graft] val RowsPerBand = NumPerms / Bands
  private[graft] val perms: Seq[(Long, Long)] = graft.functions.MinHashFamily.perms
  private[graft] val JaccardThreshold = 0.7

  /** Fixed COUNT of recall-audit anchor rows (r13). The audits'
    * exhaustive truth arm costs anchors × corpus, so a constant anchor
    * count makes the audit LINEAR in corpus size; r12's fraction anchor
    * (`id % 5 = 0`) made it 0.2·n² — quadratic, contradicting the
    * claim the audit exists to verify. 128 anchors keep multinomial
    * noise on the per-bucket recall under ~10% while the anchor set
    * stays a trivially broadcastable 1 KiB. */
  private[graft] val RecallAnchors = 128

  /** Deterministic pseudo-random anchor key: multiplicative hash
    * `(id mod P)·48271 mod P` (MINSTD multiplier, P = 999983 prime).
    * Reduced mod P BEFORE the multiply so the product stays < 2^46 —
    * exact signed-64 arithmetic in both engines for ANY id, identical
    * text in Spark SQL and DuckDB SQL. */
  private[graft] def anchorKeySql(idCol: String) =
    s"(($idCol % 999983) * 48271) % 999983"

  /** The audit anchor set: the [[RecallAnchors]] lowest-keyed ids of the
    * corpus, as a one-column `a_id` frame. Selection is a
    * TakeOrderedAndProject (linear scan, K-row driver heap), then
    * materialized once so the three consumers (sample join, two
    * restrict semi-joins) reuse it instead of re-ranking the corpus. */
  private[graft] def recallAnchors(df: DataFrame, idCol: String): DataFrame =
    Materialize(df
      .selectExpr(s"$idCol AS a_id", s"${anchorKeySql(idCol)} AS ak")
      .orderBy(col("ak"), col("a_id"))
      .limit(RecallAnchors)
      .select(col("a_id")))

  /** Exact cosine similarity of two float arrays, computed in double and
    * rounded to 6 dp (see oracle-parity note above).
    *
    * `dot_f32` is the custom codegen'd Catalyst expression
    * ([[graft.functions.DotF32]]) — bit-identical to the built-in
    * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0D, +)`
    * composition (same pairing, widening, and accumulation order), but a
    * primitive loop inside whole-stage codegen instead of interpreted
    * per-element lambdas with an intermediate array per row. */
  private[graft] def dotSpark(a: String, b: String) =
    s"dot_f32($a, $b)"
  private[graft] def cosDuck(a: String, b: String) =
    s"round(list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b))), 6)"

  // ---------------------------------------------------------------- dedup

  /** Exact deduplication: group documents by content hash, keep the lowest
    * doc_id per group. One hash aggregate — the canonical 100 TB dedup
    * shape (shuffle carries one row per distinct hash per map partition). */
  private def qExactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_hash"))

  /** Near-duplicate detection via seeded MinHash + LSH banding
    * (SURVEY §2.b q_near_dedup_minhash): word 3-gram shingles → 60-bit
    * hashes → 16-permutation MinHash signature → 4 bands of 4 → candidate
    * pairs share a band key (equi-join, never all-pairs) → exact Jaccard
    * (on the shingle-hash sets) >= 0.7 verifies. Fully deterministic, so
    * the DuckDB oracle replicates the pipeline exactly. */
  private def qNearDedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashNearDupPairs(Tables.spread(s, Tables.documents(s, d)),
      "doc_id", "text", JaccardThreshold)

  /** Parameterized core of the MinHash+LSH near-dup pipeline, exposed to
    * library users through [[graft.api.Graft.nearDupPairs]]; the driver
    * query above binds it to the test corpus. Output: (doc_a, doc_b,
    * jaccard) pairs above `threshold`, totally ordered. */
  private[graft] def minhashNearDupPairs(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame =
    minhashPairsUnordered(docs, idCol, textCol, threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Word-3-gram shingle hash sets per doc: (doc_id, hs). Stage 1 of the
    * MinHash pipeline, shared by the all-pairs and incremental forms.
    * `shingle_h60p` is the fused native kernel
    * ([[graft.functions.ShingleH60]]) — set-identical to the composed
    * split→shingle→h60→%P→distinct pipeline the DuckDB oracle replicates,
    * without materializing token/shingle/hash intermediate arrays. */
  private[graft] def shingleHashSets(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.selectExpr(s"$idCol AS doc_id", s"shingle_h60p($textCol, 3) AS hs")

  /** The 4 LSH band structs from a `sig` column — shared by [[lshBands]]
    * and [[signatureIndexCore]] so the persisted index and the in-plan
    * query path can never compute different band keys. */
  private def bandStructsExpr: String = (0 until Bands).map { j =>
    val ms = (0 until RowsPerBand)
      .map(r => s"cast(element_at(sig, ${j * RowsPerBand + r + 1}) AS string)")
      .mkString(", ")
    s"struct($j AS band, md5(concat_ws(',', $ms)) AS bkey)"
  }.mkString(", ")

  /** LSH band keys per doc: (doc_id, band, bkey). All 16 permutation
    * minima in ONE native pass over hs ([[graft.functions.MinHashSig]]) —
    * same constants and arithmetic as the 16 array_min(transform(...))
    * projections the oracle replicates. */
  private[graft] def lshBands(hsx: DataFrame): DataFrame =
    lshBandsFromSig(hsx.selectExpr("doc_id", "minhash_sig(hs) AS sig"))

  /** Band keys from an already-computed `sig` column — the cheap tail of
    * the band build (struct + md5 per band), split out so callers that
    * materialize signatures once don't re-run the minhash kernel. */
  private[graft] def lshBandsFromSig(sigx: DataFrame): DataFrame =
    sigx.selectExpr("doc_id", s"explode(array($bandStructsExpr)) AS bb")
      .selectExpr("doc_id", "bb.band AS band", "bb.bkey AS bkey")

  /** Materialized (doc_id, hs, sig) for the self-joining MinHash queries:
    * ONE pass of the shingle + minhash kernels over the corpus text, then
    * an eager [[Materialize]] so every later reference (both band-join
    * sides, both Jaccard-verify sides) reads the stored partitions instead
    * of re-running the kernels. Without this the shingle kernel — the
    * dominant per-row cost — reruns up to 4× per query (VERDICT r6 #3);
    * at 100 TB that is 3 extra full-corpus text passes. Storage is
    * hs + 16 longs per doc — far smaller than the text it replaces. A
    * session checkpoint dir makes the materialization reliable (survives
    * executor loss — see [[Materialize]]); otherwise blocks are
    * executor-local and freed when the plan is garbage-collected. */
  private[graft] def minhashMaterialized(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    Materialize(signaturePlan(docs, idCol, textCol))

  /** [[minhashMaterialized]] for a MICRO-BATCH read from few files
    * (r18, guide §2.5 + §2 scale-adaptive partitioning): a one-file
    * batch is ONE scan partition, so the shingle+minhash kernels — the
    * dominant per-row cost — would run on a single core. The batch is
    * hash-spread across the session's cores FOR THE KERNEL PASS ONLY,
    * then re-partitioned by id with no explicit count so AQE coalesces
    * the materialized signatures back to size-appropriate partitions
    * (~1 at gate scale, hundreds at production batch sizes) — without
    * the coalesce, every downstream consumer stage (probe joins, the
    * index/sidecar appends) schedules one tiny task per kernel
    * partition, which measured as expensive as the serial kernel it
    * replaced. Kernel wide, state narrow. */
  private[graft] def minhashMaterializedSpread(docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val spread = graft.Tables.spread(docs.sparkSession,
      docs.select(col(idCol), col(textCol)))
    Materialize(signaturePlan(spread, idCol, textCol)
      .repartition(col("doc_id")))
  }

  /** [[minhashMaterializedSpread]] that ALSO collects, off the SAME
    * materializing job, the distinct-int sets each probe column's array
    * evaluates to (r19, guide §1.5/§2.6 — [[Materialize.withIntSets]]):
    * the streaming maintainers' per-batch bucket collects (band `bb`,
    * sidecar `ib`) ride the signature checkpoint instead of costing a
    * separate distinct+collect action each. */
  private[graft] def minhashMaterializedSpreadWithSets(docs: DataFrame,
      idCol: String, textCol: String,
      probes: Seq[org.apache.spark.sql.Column])
      : (DataFrame, Seq[Seq[Int]]) = {
    val spread = graft.Tables.spread(docs.sparkSession,
      docs.select(col(idCol), col(textCol)))
    Materialize.withIntSets(signaturePlan(spread, idCol, textCol)
      .repartition(col("doc_id")), probes)
  }

  /** The band-bucket probe column at count `n` over a (…, sig) row: the
    * array of the row's [[Bands]] band-key buckets — the EXACT band keys
    * of [[lshBandsFromSig]] (same [[bandStructsExpr]]) under the EXACT
    * bucket arithmetic of [[graft.streaming.DedupStream]]'s bandBucket
    * (crc32 mod n, int-cast), so the accumulated set equals what
    * `BucketMeta.bucketsOf` collects over the derived band rows. */
  private[graft] def bandBucketsCol(n: Int): org.apache.spark.sql.Column =
    expr(s"transform(array($bandStructsExpr), " +
      s"x -> cast(pmod(crc32(x.bkey), ${n}L) AS int))")

  /** The one-pass (doc_id, hs, sig) plan the materialization executes. */
  private def signaturePlan(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    shingleHashSets(docs, idCol, textCol)
      .selectExpr("doc_id", "hs", "minhash_sig(hs) AS sig")

  /** The materialization's own physical plan, exposed for the plan audit:
    * proves both kernels run in ONE pass over ONE text scan. */
  private[graft] def minhashMaterializedPlanForAudit(s: SparkSession,
      d: String): String =
    signaturePlan(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
      .queryExecution.executedPlan.toString

  /** The persistable near-dup signature index: one row per (doc, band) —
    * (doc_id, hs, band, bkey) — everything the incremental probe needs,
    * so a crawl batch never touches corpus TEXT again (the analog of the
    * reference resuming from saved state instead of re-reading the log —
    * savepoints, ec:2104-2194). `hs` — by far the widest column — is
    * stored ONCE per doc, on its band-0 row (null elsewhere): the probe
    * reads it back from exactly that row, and duplicating it across all
    * 4 band rows would quadruple the persisted index's dominant storage
    * cost at 100 TB for nothing. */
  private[graft] def signatureIndexCore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    indexRowsFromSig(shingleHashSets(docs, idCol, textCol)
      .selectExpr("doc_id", "hs", "minhash_sig(hs) AS sig"))

  /** Index rows from an already-computed (doc_id, hs, sig) frame — the
    * tail of [[signatureIndexCore]], split out so the streaming
    * maintenance path ([[graft.streaming.DedupStream]]) derives the
    * append rows from the SAME materialized signatures it probed with,
    * never re-tokenizing the batch. */
  private[graft] def indexRowsFromSig(sigx: DataFrame): DataFrame =
    sigx.selectExpr("doc_id", "hs", s"explode(array($bandStructsExpr)) AS bb")
      .selectExpr("doc_id", "CASE WHEN bb.band = 0 THEN hs END AS hs",
        "bb.band AS band", "bb.bkey AS bkey")

  /** Incremental near-dup probe against a PRE-COMPUTED signature index
    * ([[signatureIndexCore]] output, typically read back from parquet):
    * shingles and signatures are computed ONLY for the batch; the corpus
    * contributes its persisted (hs, band, bkey) rows. Finds batch×corpus
    * and batch×batch pairs — never corpus×corpus — at |batch| × bucket
    * cost with zero corpus text scanned. A batch doc_id already present
    * in the index supersedes its index rows (the re-crawl case). */
  private[graft] def minhashPairsAgainstIndex(index: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    minhashPairsAgainstIndexFromSig(index, idCol,
      minhashMaterialized(batch, idCol, textCol), threshold)

  /** [[minhashPairsAgainstIndex]] with the batch's (doc_id, hs, sig)
    * already materialized — the streaming path computes it once and feeds
    * both this probe and the index append. */
  private[graft] def minhashPairsAgainstIndexFromSig(index: DataFrame,
      idCol: String, batchSigx: DataFrame, threshold: Double): DataFrame = {
    val batchHsx = batchSigx.select("doc_id", "hs")
    val batchIds = batchHsx.select("doc_id")
    val idx = index.selectExpr(s"$idCol AS doc_id", "hs", "band", "bkey")
      .join(batchIds, Seq("doc_id"), "left_anti")
    val batchBands = lshBandsFromSig(batchSigx)
    val a = batchBands.alias("a")
    val b = idx.select("doc_id", "band", "bkey").unionByName(batchBands).alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // one hs row per doc: the index stores hs only on the band-0 row,
    // and the batch side carries its freshly computed sets
    val hsAll = idx.filter(col("band") === 0).select("doc_id", "hs")
      .unionByName(batchHsx)
    verifyJaccard(pairs, hsAll, threshold)
  }

  /** Exact-Jaccard verification of candidate pairs against the full hash
    * sets; keeps pairs at/above `threshold`. */
  private[graft] def verifyJaccard(pairs: DataFrame, hsx: DataFrame,
      threshold: Double): DataFrame = {
    val x = hsx.selectExpr("doc_id AS doc_a", "hs AS hs_a")
    val y = hsx.selectExpr("doc_id AS doc_b", "hs AS hs_b")
    // |∪| = |A| + |B| − |∩| (hs are distinct sets — both shingle kernels
    // emit array_distinct output): one hash-set pass per pair instead of
    // two (r18 — the verify is the per-pair CPU term of every probe).
    // Same integers, same division, bit-identical jaccard.
    pairs.join(x, "doc_a").join(y, "doc_b")
      .selectExpr("doc_a", "doc_b",
        "size(array_intersect(hs_a, hs_b)) AS _li",
        "size(hs_a) + size(hs_b) AS _ls")
      .selectExpr("doc_a", "doc_b", "_li / (_ls - _li) AS jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Same pipeline without the final total sort — for consumers that feed
    * the pairs into further operators (e.g. [[DedupClusters]]), where a
    * mid-pipeline range-partition exchange would be wasted work. */
  private[graft] def minhashPairsUnordered(docs: DataFrame, idCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val sigx = minhashMaterialized(docs, idCol, textCol)
    val bands = lshBandsFromSig(sigx)
    val a = bands.alias("a")
    val b = bands.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(pairs, sigx.select("doc_id", "hs"), threshold)
  }

  /** Incremental near-dup discovery (the streaming-set-similarity-join
    * shape, batched): only pairs TOUCHING the new batch are generated —
    * the probe side of the band join is the new docs' bands alone, so the
    * cost is |new| × bucket, never |corpus|². This is how a growing corpus
    * deduplicates an incoming crawl batch without re-pairing everything
    * already ingested; corpus-side signatures are recomputed here for the
    * demo but would be the persisted index in production. Within-batch
    * duplicates are found too (the new side also sits in the build side). */
  private[graft] def minhashPairsTouching(docs: DataFrame, idCol: String,
      textCol: String, newIds: DataFrame, threshold: Double): DataFrame = {
    val sigx = minhashMaterialized(docs, idCol, textCol)
    val bands = lshBandsFromSig(sigx)
    val newBands = bands.join(
      newIds.select(col(newIds.columns.head).as("doc_id")), "doc_id")
    val a = newBands.alias("a")
    val b = bands.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    verifyJaccard(pairs, sigx.select("doc_id", "hs"), threshold)
  }

  /** Incremental dedup driver query: docs with `doc_id % 5 == 4` stand in
    * for the incoming batch; output = every near-dup pair touching the
    * batch (batch×corpus and batch×batch, never corpus×corpus). See
    * [[minhashPairsTouching]] for the scale argument. */
  private def qDedupIncrement(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d))
    val newIds = docs.filter(col("doc_id") % 5 === 4).select(col("doc_id"))
    minhashPairsTouching(docs, "doc_id", "text", newIds, JaccardThreshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The materialized near-dup signature index (driver-checked form of
    * [[signatureIndexCore]] / [[graft.api.Graft.signatureIndex]]): one row
    * per (doc, band) with the LSH band key — the table a continuous-
    * ingestion pipeline persists so crawl batches never rescan corpus
    * text. `hs` stays internal here (array outputs don't hash-compare);
    * the index build itself is entirely map-side + explode — no shuffle
    * before the output sort. */
  private def qSigIndex(s: SparkSession, d: String): DataFrame =
    signatureIndexCore(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
      .select(col("doc_id"), col("band"), col("bkey"))
      .orderBy(col("doc_id"), col("band"))

  /** Sketch-accuracy report for the MinHash family: every LSH candidate
    * pair with its signature-estimated Jaccard (fraction of agreeing
    * permutation minima — the only similarity a persisted index can
    * offer without hash sets) next to the exact set Jaccard. Integer
    * counts and one division per value, so both engines agree bit-for-
    * bit; candidates come from the band join (bounded), never all-pairs. */
  private def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    val sig = minhashMaterialized(Tables.spread(s, Tables.documents(s, d)),
      "doc_id", "text")
    val bands = lshBandsFromSig(sig)
    val a = bands.alias("a")
    val b = bands.alias("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val x = sig.selectExpr("doc_id AS doc_a", "hs AS hs_a", "sig AS sig_a")
    val y = sig.selectExpr("doc_id AS doc_b", "hs AS hs_b", "sig AS sig_b")
    pairs.join(x, "doc_a").join(y, "doc_b")
      .selectExpr("doc_a", "doc_b",
        s"round(size(filter(zip_with(sig_a, sig_b, (p, q) -> p = q), v -> v)) / $NumPerms, 6) AS est_jaccard",
        // |∪| = |A| + |B| − |∩| (hs are distinct sets) — one array pass
        "size(array_intersect(hs_a, hs_b)) AS _li",
        "size(hs_a) + size(hs_b) AS _ls")
      .selectExpr("doc_a", "doc_b", "est_jaccard",
        "_li / (_ls - _li) AS jaccard")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Character-class quality stats per document (the cheap curation
    * signals computed before any tokenizer): char/token counts, mean
    * token length, vowel ratio. Pure map-side string arithmetic —
    * `translate` for class counts (identical semantics in DuckDB), no
    * regex (engine dialects differ), ratios rounded at 6 dp. */
  private[graft] def charStats(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.selectExpr(idCol,
      s"cast(length($textCol) AS bigint) AS n_chars",
      s"cast(size(split($textCol, ' ')) AS bigint) AS n_tokens",
      s"round((length($textCol) - (size(split($textCol, ' ')) - 1)) / size(split($textCol, ' ')), 6) AS avg_token_len",
      s"round((length($textCol) - length(translate($textCol, 'aeiou', ''))) / length($textCol), 6) AS vowel_ratio")

  private def qCharStats(s: SparkSession, d: String): DataFrame =
    charStats(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** 32-bit SimHash per document: token hashes vote ±1 per bit, weighted
    * by token multiplicity. Entirely map-side, zero shuffle; the vote
    * tally runs in the one-pass native kernel
    * ([[graft.functions.SimHash32]]) instead of 32 interpreted
    * `aggregate()` passes over the same hash array — equivalence is
    * fuzz-pinned against the composed form the DuckDB oracle replicates. */
  private def qSimhash(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d))
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id", "size(toks) AS n_tokens",
        "simhash32(h60_array(toks)) AS simhash")
      .orderBy(col("doc_id"))

  /** SimHash near-duplicate pairs via hamming-LSH banding: the 32-bit
    * fingerprint splits into 4 byte bands; candidates share (band, byte)
    * — an equi-join, never all-pairs — and verify at hamming distance
    * <= `maxHamming` via `bit_count(a ^ b)`. Pigeonhole guarantee: a pair
    * with <= 3 differing bits has at least one identical band, so the
    * default threshold misses nothing. Fingerprints materialize ONCE
    * (eager [[Materialize]] — both band-join sides reuse them, the text
    * is never re-tokenized).
    *
    * Scale note: with the 32-bit fingerprint's 8-bit bands there are
    * only 4×256 buckets, so the band join's fan-in grows ~|corpus|²/1024
    * — fine for per-partition dedup. `wide = true` switches to the
    * 60-bit `simhash60` kernel with 15-bit bands (4×32 768 buckets,
    * ~128× less fan-in) — the same plan shape at the width a 100 TB
    * corpus needs, with the same 4-band pigeonhole guarantee. */
  private[graft] def simhashNearDupPairs(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3,
      wide: Boolean = false): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be in [0, 3]: 4 bands only guarantee a shared " +
        s"band for <= 3 differing bits (got $maxHamming — pairs beyond " +
        "the pigeonhole bound would be silently incomplete)")
    val (kernel, bandBits) = if (wide) ("simhash60", 15) else ("simhash32", 8)
    val fp = Materialize(docs
      .selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS toks")
      .selectExpr("doc_id", s"$kernel(h60_array(toks)) AS simhash"))
    hammingBandPairs(fp, "simhash", bandBits, maxHamming)
  }

  /** The hamming-LSH band equi-join shared by the SimHash pair queries
    * and the media dHash near-dup (r9): a (doc_id, `hashCol`) frame is
    * exploded into 4 `bandBits`-wide bands, pairs are generated ONLY
    * within a (band, key) bucket — never all-pairs — and verified at
    * `bit_count(xor) <= maxHamming`. Pigeonhole-lossless for
    * maxHamming ≤ 3: with ≤ 3 differing bits, one of the 4 bands is
    * untouched. Callers pass an already-materialized fp frame (it is
    * referenced from both join sides). */
  private[graft] def hammingBandPairs(fp: DataFrame, hashCol: String,
      bandBits: Int, maxHamming: Int): DataFrame = {
    val mask = (1L << bandBits) - 1
    val byteExprs = (0 until 4)
      .map(j => s"cast(shiftright($hashCol, ${bandBits * j}) & $mask AS int)")
      .mkString(", ")
    val bands = fp.select(col("doc_id"), col(hashCol),
      posexplode(expr(s"array($byteExprs)")).as(Seq("band", "bkey")))
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col(s"a.$hashCol").as("sh_a"), col(s"b.$hashCol").as("sh_b"))
      .distinct()
      .withColumn("hamming",
        expr("cast(bit_count(sh_a ^ sh_b) AS bigint)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private def qSimhashPairs(s: SparkSession, d: String): DataFrame =
    simhashNearDupPairs(Tables.spread(s, Tables.documents(s, d)),
      "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  private def qSimhashWide(s: SparkSession, d: String): DataFrame =
    simhashNearDupPairs(Tables.spread(s, Tables.documents(s, d)),
      "doc_id", "text", wide = true)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Parameterized embedding near-dup core behind both the driver query
    * and [[graft.api.Graft.embNearDupPairs]]: an `nPlanes`-bit sign
    * sketch (planes = the `nPlanes` lowest-id embeddings — deterministic
    * and data-derived) buckets vectors; pairs are generated only within a
    * bucket (equi-join on the sketch), then verified at cosine >=
    * `threshold`.
    *
    * Scale shape: the plane set is bounded (≤62 rows) — it rides ONE
    * broadcast as a collected struct array, and the whole sketch is a
    * per-row fold over it (map-side, no groupBy/join of the vector
    * table; the only vector-table shuffle is the bucket equi-join
    * itself). Norms are hoisted to one sqrt per VECTOR before the pair
    * join (it would otherwise recompute them per PAIR — 3× the flops).
    * Bit-identical to the per-plane crossJoin+sum form the DuckDB oracle
    * replicates: each plane carries its own bit position, and bit-sum
    * addition commutes, so plane order cannot move the bucket. */
  private[graft] def embNearDupPairsCore(vectors: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int, threshold: Double): DataFrame =
    embPairsWithPlanes(vectors, idCol, vecCol,
      derivePlanes(vectors, idCol, vecCol, nPlanes), threshold)

  /** The sketch-bucket pair join under a CALLER-FIXED plane set — the
    * form every persisted/incremental consumer must use (planes are part
    * of the index identity; see [[derivePlanes]]). `touching`, when set,
    * restricts to pairs with at least one endpoint in it — the
    * incremental discovery shape: old-old pairs are already in state, so
    * only batch-touching buckets re-verify. */
  private[graft] def embPairsWithPlanes(vectors: DataFrame, idCol: String,
      vecCol: String, planes: DataFrame, threshold: Double,
      touching: Option[DataFrame] = None): DataFrame = {
    val sketch = signSketch(vectors, idCol, vecCol, planes)
    val a0 = sketch.selectExpr("vec_id AS vec_a", "sketch", "embedding AS va", "norm AS norm_a")
    val b = sketch.selectExpr("vec_id AS vec_b", "sketch", "embedding AS vb", "norm AS norm_b")
    touching match {
      case None =>
        a0.join(b, Seq("sketch"))
          .filter(col("vec_a") < col("vec_b"))
          .withColumn("sim", expr(s"round(${dotSpark("va", "vb")} / (norm_a * norm_b), 6)"))
          .filter(col("sim") >= threshold)
          .select(col("vec_a"), col("vec_b"), col("sim"))
      case Some(t) =>
        // Batch side probes the full bucket; a batch-batch pair appears
        // from both endpoints, so normalize the order and dedup — the
        // dedup shuffles only id pairs (the verify already ran).
        val a = a0.join(t.select(col(t.columns.head).as("vec_a")),
          Seq("vec_a"), "left_semi")
        a.join(b, Seq("sketch"))
          .filter(col("vec_a") =!= col("vec_b"))
          .withColumn("sim", expr(s"round(${dotSpark("va", "vb")} / (norm_a * norm_b), 6)"))
          .filter(col("sim") >= threshold)
          .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
            greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("sim"))
          .distinct()
    }
  }

  /** The `nPlanes` lowest-id vectors as the sign-sketch plane set
    * (pid, pv) — deterministic and data-derived. A persisted index MUST
    * sketch every batch with the planes fixed at index creation
    * ([[graft.streaming.EmbDedupStream]] stores them beside the index):
    * sketches from different plane sets bucket differently, which would
    * silently zero the probe's recall. */
  private[graft] def derivePlanes(vectors: DataFrame, idCol: String,
      vecCol: String, nPlanes: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 62,
      s"nPlanes must be in [1, 62] (sketch is one long), got $nPlanes")
    vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .orderBy(col("vec_id")).limit(nPlanes)
      .select((row_number().over(Window.orderBy(col("vec_id"))) - 1)
        .cast("int").as("pid"), col("embedding").as("pv"))
  }

  /** Sign-sketch every vector against a FIXED plane set: returns
    * (vec_id, embedding, sketch, norm). The planes (≤62 rows) collapse to
    * one collected struct array on one broadcast; the sketch is a per-row
    * fold over it (map-side — the vector table itself never joins or
    * shuffles here), and norms are hoisted to one sqrt per vector so pair
    * verification doesn't recompute them per pair. Bit-identical to the
    * per-plane crossJoin+sum form the DuckDB oracle replicates: each
    * plane carries its own bit position and bit-sum addition commutes. */
  private[graft] def signSketch(vectors: DataFrame, idCol: String,
      vecCol: String, planes: DataFrame): DataFrame = {
    graft.functions.DotF32.ensureRegistered(vectors.sparkSession)
    val packed = planes
      .agg(collect_list(struct(col("pid"), col("pv"))).as("_planes"))
    vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .crossJoin(broadcast(packed))
      .withColumn("sketch", expr(
        s"aggregate(_planes, 0L, (acc, p) -> acc + (CASE WHEN ${dotSpark("embedding", "p.pv")} > 0 THEN shiftleft(1L, p.pid) ELSE 0L END))"))
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
      .drop("_planes")
  }

  /** Embedding-cosine near-duplicates with LSH bucketing: the driver
    * binding of [[embNearDupPairsCore]] — 4 planes at this test SF
    * (wider sketches at real scale), cosine >= 0.35. */
  private def qEmbNearDup(s: SparkSession, d: String): DataFrame =
    embNearDupPairsCore(Tables.spread(s, Tables.embeddings(s, d)),
      "vec_id", "embedding", 4, 0.35)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Cross-modal alignment filter (r10) — the CLIP-score curation gate a
    * multimodal training pipeline runs before anything else: given rows
    * that carry BOTH an image embedding and a caption/text embedding,
    * keep only the pairs whose cosine alignment clears `threshold`
    * (misaligned caption ⇒ the pair teaches the model noise; the
    * LAION-style corpus cut). Takes an already-paired frame so any
    * upstream pairing (same row, join on doc id, [[crossmodalPairs]])
    * feeds it; scoring is map-side only — the codegen'd dot_f32 cosine
    * plus a filter, no shuffle, no UDF. */
  private[graft] def cosineAlignFilter(paired: DataFrame, aCol: String,
      bCol: String, threshold: Double): DataFrame = {
    graft.functions.DotF32.ensureRegistered(paired.sparkSession)
    paired
      .withColumn("clip_score", expr(
        s"round(${dotSpark(aCol, bCol)} / (sqrt(${dotSpark(aCol, aCol)}) * sqrt(${dotSpark(bCol, bCol)})), 6)"))
      .filter(col("clip_score") >= threshold)
  }

  /** Pair the two modalities of each item out of ONE scan and ONE
    * shuffle: the synthetic convention is `vec_id div 2` = item,
    * `vec_id % 2` = modality (0 = image, 1 = text). A self-join on the
    * derived item id would read the table twice and shuffle both sides;
    * instead a single groupBy(item) with conditional FIRSTs (exactly one
    * row per modality per item, so first-ignoring-nulls is
    * deterministic) assembles (item_id, iv, tv, img_label, txt_label)
    * with map-side partials. Items missing a modality (odd tail row)
    * drop, matching the oracle's inner join. */
  private[graft] def crossmodalPairs(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String): DataFrame =
    vectors
      .select(expr(s"$idCol div 2").as("item_id"),
        (col(idCol) % 2 === 0).as("is_img"), col(vecCol).as("_v"),
        col(labelCol).as("_l"))
      .groupBy(col("item_id"))
      .agg(
        first(when(col("is_img"), col("_v")), ignoreNulls = true).as("iv"),
        first(when(!col("is_img"), col("_v")), ignoreNulls = true).as("tv"),
        first(when(col("is_img"), col("_l")), ignoreNulls = true).as("img_label"),
        first(when(!col("is_img"), col("_l")), ignoreNulls = true).as("txt_label"))
      .filter(col("iv").isNotNull && col("tv").isNotNull)

  /** Driver binding: CLIP-style cut at alignment >= 0.1 over the paired
    * synthetic embeddings. Random 64-dim cosines center on 0, so the
    * threshold keeps a nontrivial minority — the filter is exercised,
    * not a no-op. */
  private def qCrossmodalFilter(s: SparkSession, d: String): DataFrame =
    cosineAlignFilter(
      crossmodalPairs(Tables.embeddings(s, d), "vec_id", "embedding", "label"),
      "iv", "tv", threshold = 0.1)
      .select(col("item_id"), col("img_label"), col("txt_label"),
        col("clip_score"))
      .orderBy(col("item_id"))

  // ------------------------------------------------------ similarity search

  /** Brute-force cosine top-k against one query vector (vec_id = 0),
    * broadcast to every partition: a single linear scan +
    * TakeOrderedAndProject — the baseline ANN path that scales linearly
    * with the table and never shuffles the embeddings. */
  private def qCosineTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .selectExpr("embedding AS qv",
        s"sqrt(${dotSpark("embedding", "embedding")}) AS qnorm")
    e.crossJoin(broadcast(q))
      .withColumn("sim", expr(
        s"round(${dotSpark("embedding", "qv")} / (sqrt(${dotSpark("embedding", "embedding")}) * qnorm), 6)"))
      .select(col("vec_id"), col("label"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(100)
  }

  /** Scalar-quantized (int8) brute-force top-k — the memory-bandwidth
    * path production vector search runs before any index: each vector is
    * quantized to `round(x·127/max|x|)` (4× smaller than float32, so a
    * 100 TB scan reads 25 TB), candidates are ranked by the cosine of
    * the QUANTIZED vectors, and the exact float cosine rides along as
    * the quality audit. The scale factor cancels out of the quantized
    * cosine, so the whole ranking is integer dot products + IEEE
    * sqrt/divide — bit-identical across engines; the quantized values
    * are exact small integers stored as float, which keeps the scoring
    * on the codegen'd `dot_f32` kernel. */
  private def qQuantizedTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
      .withColumn("_scale", expr("array_max(transform(embedding, x -> abs(double(x))))"))
      .withColumn("qv", expr(
        "CASE WHEN _scale = 0 THEN transform(embedding, x -> cast(0 AS float)) " +
          "ELSE transform(embedding, x -> cast(round(double(x) * 127 / _scale) AS float)) END"))
    val q = e.filter(col("vec_id") === 0)
      .selectExpr("qv AS qqv", "embedding AS qev",
        s"sqrt(${dotSpark("qv", "qv")}) AS qqnorm",
        s"sqrt(${dotSpark("embedding", "embedding")}) AS qenorm")
    e.crossJoin(broadcast(q))
      .withColumn("approx_sim", expr(
        s"round(${dotSpark("qv", "qqv")} / (sqrt(${dotSpark("qv", "qv")}) * qqnorm), 6)"))
      .withColumn("sim", expr(
        s"round(${dotSpark("embedding", "qev")} / (sqrt(${dotSpark("embedding", "embedding")}) * qenorm), 6)"))
      .select(col("vec_id"), col("label"), col("approx_sim"), col("sim"))
      .orderBy(col("approx_sim").desc, col("vec_id"))
      .limit(100)
  }

  /** Product quantization (PQ) top-k — the OTHER classic vector
    * compression beside [[qQuantizedTopk]]'s int8 scalar quantization:
    * each 64-dim vector becomes m = 4 one-byte codes (one per 16-dim
    * subspace, k = 16 codewords each), a 64× storage cut, and queries
    * score by asymmetric distance computation (ADC) — the query's exact
    * subvector dotted with each assigned codeword, summed across
    * subspaces. At 100 TB this is how a memory-resident index happens:
    * the code table is ~1.5% of the float corpus, and a scan reads 4
    * bytes/vector + one 64-entry lookup table per query instead of 256
    * bytes/vector.
    *
    * Engine-exact arithmetic: every element quantizes to 1e-6-unit
    * integers FIRST, so subspace L2² assignment distances and ADC dot
    * partials are exact integer sums (order-independent, hash-stable);
    * codeword argmin ties break on the code id via lexicographic struct
    * min. Codebook = the first k vectors' slices (the [[seedCentroids]]
    * demo discipline; production trains per-subspace k-means with the
    * same [[kmeansTrain]] machinery).
    *
    * Shape: the codebook (64 rows) and query ride TWO 1-row broadcasts
    * onto the scan; encode + ADC are entirely map-side higher-order
    * algebra (the assignment argmin folds over the in-row codeword
    * array — no explode, no shuffle); top-10 is TakeOrderedAndProject.
    * The exact integer dot rides along as the approximation audit. */
  private[graft] def pqTopK(vectors: DataFrame, idCol: String,
      vecCol: String, carryCols: Seq[String], queryId: Long, dim: Int,
      m: Int, k: Int, topK: Int): DataFrame = {
    require(m > 0 && dim % m == 0,
      s"dim $dim must divide into m=$m subspaces")
    // r8 advice #3 — the silent-wrong-answer paths fail fast instead:
    // a mis-declared `dim` slices garbage, a missing query id returns an
    // empty frame, and a thin id < k seed set shrinks the codebook. The
    // first two are cheap bounded probes (limit-1 scan; pushed-down point
    // filter); the codebook arity is asserted IN-PLAN below.
    val sampled = vectors.select(size(col(vecCol)).as("_n")).limit(1).collect()
    require(sampled.nonEmpty, "pqTopK: vector table is empty")
    require(sampled.head.getInt(0) == dim,
      s"pqTopK: dim=$dim but a sampled $vecCol has ${sampled.head.getInt(0)} elements")
    require(vectors.filter(col(idCol) === queryId).limit(1).count() == 1,
      s"pqTopK: query id $queryId not present in $idCol")
    val sub = dim / m
    val e = vectors.selectExpr(s"$idCol AS vec_id" +: carryCols :+
      (s"transform($vecCol, x -> cast(round(cast(x AS double) * " +
        "1000000.0) AS bigint)) AS q"): _*)
    val cbk = e.filter(col("vec_id") < k)
      .selectExpr("vec_id AS c", "q")
      .selectExpr(s"explode(transform(sequence(0, ${m - 1}), " +
        s"s -> struct(s AS s, c AS c, slice(q, s * $sub + 1, $sub) AS w))) AS sc")
      .groupBy().agg(sort_array(collect_list(col("sc"))).as("cbk"))
      // the groupBy().agg always yields one row, so the assert is
      // guaranteed to evaluate — an empty or shrunken id < k seed set
      // (fewer than k·m codewords) raises instead of degrading recall
      .selectExpr(s"CASE WHEN size(cbk) = ${m * k} THEN cbk " +
        s"ELSE raise_error(concat('pqTopK: codebook has ', size(cbk), " +
        s"' codewords, expected ${m * k} — ids 0..${k - 1} missing from the corpus')) END AS cbk")
    val qrow = e.filter(col("vec_id") === queryId)
      .selectExpr(
        s"transform(sequence(0, ${m - 1}), s -> slice(q, s * $sub + 1, $sub)) AS qs",
        "q AS qfull")
    def l2i(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    def doti(a: String, b: String) =
      s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
    // Per subspace: lexicographic struct min over (distance, code) picks
    // the codeword; its ADC partial (query-slice · codeword) rides along.
    val withCodes = (0 until m).foldLeft(
        e.crossJoin(broadcast(cbk)).crossJoin(broadcast(qrow))) {
      case (df, sIdx) =>
        df.withColumn(s"pick$sIdx", expr(
          s"array_min(transform(filter(cbk, w -> w.s = $sIdx), w -> struct(" +
            s"${l2i(s"slice(q, ${sIdx * sub} + 1, $sub)", "w.w")} AS d, " +
            s"w.c AS c, ${doti(s"element_at(qs, ${sIdx + 1})", "w.w")} AS p)))"))
    }
    withCodes
      .withColumn("score_micro2", expr(
        (0 until m).map(i => s"pick$i.p").mkString(" + ")))
      .withColumn("exact_micro2", expr(doti("q", "qfull")))
      .selectExpr(Seq("vec_id") ++ carryCols ++
        (0 until m).map(i => s"pick$i.c AS code$i") ++
        Seq("score_micro2", "exact_micro2"): _*)
      .withColumnRenamed("vec_id", idCol)
      .orderBy(col("score_micro2").desc, col(idCol))
      .limit(topK)
  }

  private def qPqTopk(s: SparkSession, d: String): DataFrame =
    pqTopK(Tables.spread(s, Tables.embeddings(s, d)), "vec_id", "embedding",
      Seq("label"), queryId = 0L, dim = 64, m = 4, k = 16, topK = 10)

  /** Centroid seed set for the IVF demos, sized IN-PLAN from the corpus:
    * the first K = ⌈√N⌉ vectors by id. K ≈ √N is the classic IVF sizing —
    * it keeps BOTH the centroid table (K rows on one broadcast) and each
    * bucket (≈ √N rows expected) sub-linear in N, so a probe scans ≈ √N
    * vectors and the bulk KNN self-join does Σ|bucket|² ≈ N^1.5 work. A
    * FIXED K (the round-7 K=8) makes buckets N/K — probes linear, KNN
    * O(N²/K): quadratic in disguise. The count is a 1-row broadcast
    * (exact integer → sqrt → ceil, IEEE-identical in the DuckDB oracle),
    * so the K knob tracks corpus growth with no retuning. */
  private[graft] def seedCentroids(e: DataFrame): DataFrame = {
    val kDf = e.agg(ceil(sqrt(count(lit(1)))).as("_k"))
    e.crossJoin(broadcast(kDf)).filter(col("vec_id") < col("_k")).drop("_k")
  }

  /** The IVF assignment stage shared by the single-query and batched
    * probes: every vector labeled with its max-cosine centroid (first
    * ⌈√N⌉ embeddings as centroids — [[seedCentroids]]; k-means-refined
    * centroids in [[qAnnTrained]]) — (vec_id, label, embedding, norm,
    * cluster). One shared implementation so the probes' assignment
    * conventions (6-dp csim rounding, cid tie-break) can never drift
    * apart. */
  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
    val cents = seedCentroids(e)
      .selectExpr("vec_id AS cid", "embedding AS cv", "norm AS cnorm")
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    e.crossJoin(broadcast(cents))
      .withColumn("csim",
        expr(s"round(${dotSpark("embedding", "cv")} / (norm * cnorm), 6)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("norm"),
        col("cid").as("cluster"))
  }

  /** IVF-style ANN: vectors are assigned to their nearest of ⌈√N⌉
    * centroids, and the query searches only its own centroid's bucket —
    * the scale path that turns a full scan into a ≈ √N-row probe. */
  private def qAnnIvf(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(s, d)
    val q = assigned.filter(col("vec_id") === 0)
      .selectExpr("cluster AS qcluster", "embedding AS qv", "norm AS qnorm")
    assigned.join(broadcast(q), col("cluster") === col("qcluster"))
      .withColumn("sim",
        expr(s"round(${dotSpark("embedding", "qv")} / (norm * qnorm), 6)"))
      .select(col("vec_id"), col("label"), col("cluster"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Batched ANN over the IVF index: the first 5 vectors act as a QUERY
    * BATCH, each probing only its own centroid's bucket, top-3 per query —
    * the realistic serving shape (queries arrive in batches; running the
    * single-query path K times would rescan the table K times). One plan:
    * the query batch rides one broadcast, the probe is one equi-join on
    * the bucket id, and the per-query top-k is a window row_number that
    * WindowGroupLimit prunes per partition — never a global sort, and the
    * probe cost stays |batch| × bucket, not |batch| × table. */
  private def qAnnBatch(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(s, d)
    val q = assigned.filter(col("vec_id") < 5)
      .selectExpr("vec_id AS qid", "cluster AS qcluster",
        "embedding AS qv", "norm AS qnorm")
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(q), col("cluster") === col("qcluster"))
      .withColumn("sim",
        expr(s"round(${dotSpark("embedding", "qv")} / (norm * qnorm), 6)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"),
        col("cluster"), col("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Contrastive hard-negative mining (r9): for each anchor, the top-k
    * most-similar vectors with a DIFFERENT label — the negatives an
    * embedding-model trainer actually wants (random negatives are too
    * easy; the informative ones sit close to the anchor in embedding
    * space but belong to another class). Composing it with the IVF
    * assignment makes "close" literal: candidates come from the anchor's
    * own cell, so the probe cost is |anchors| × bucket — the
    * [[qAnnBatch]] serving shape with a label-exclusion predicate on the
    * bucket equi-join (evaluated before the similarity window, so
    * same-label rows never enter the top-k state). An anchor's own row
    * shares its label and is excluded for free. */
  private[graft] def hardNegatives(assigned: DataFrame, idCol: String,
      vecCol: String, labelCol: String, queries: DataFrame, qidCol: String,
      k: Int): DataFrame = {
    require(qidCol != idCol,
      s"qidCol and idCol are both '$idCol' — rename the anchor id column " +
        "so the output can carry both")
    graft.functions.DotF32.ensureRegistered(assigned.sparkSession)
    val q = queries
      .select(col(qidCol).as("_qid"), col(labelCol).as("_qlabel"),
        col("cluster").as("_qcluster"), col(vecCol).as("_qv"))
      .withColumn("_qnorm", expr("sqrt(dot_f32(_qv, _qv))"))
    val wq = Window.partitionBy(col("_qid"))
      .orderBy(col("_sim").desc, col(idCol))
    assigned.join(broadcast(q),
        col("cluster") === col("_qcluster") && col(labelCol) =!= col("_qlabel"))
      .withColumn("_sim", expr(
        s"round(dot_f32($vecCol, _qv) / (sqrt(dot_f32($vecCol, $vecCol)) * _qnorm), 6)"))
      .withColumn("_rank", row_number().over(wq))
      .filter(col("_rank") <= k)
      .select(col("_qid").as(qidCol), col("_rank").as("rank"),
        col(idCol), col(labelCol), col("_sim").as("sim"))
  }

  private def qHardNegatives(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssigned(s, d)
    hardNegatives(assigned, "vec_id", "embedding", "label",
      assigned.filter(col("vec_id") < 3).withColumnRenamed("vec_id", "qid"),
      "qid", k = 5)
      .orderBy(col("qid"), col("rank"))
  }

  /** Batched ANN over a PERSISTED, partition-pruned index (the serving
    * layout): the IVF assignment is written as `cluster=<id>` parquet
    * partitions, and the probe scans ONLY the partitions its query batch
    * names — the probed cluster ids are bounded driver metadata
    * (|batch| ints, the [[graft.streaming.CdcPipeline.mergeLatest]]
    * touched-bucket pattern), so at 100 TB a probe is a directory
    * listing + a few-bucket scan instead of a full-corpus scan. The
    * index cells are TRAINED (r10, [[PersistedVectorIndex]]) — two
    * Lloyd's iterations from the deterministic seeds — so the oracle
    * replays the training ([[ivfTrainedAssignCte]]) rather than sharing
    * [[qAnnBatch]]'s seed-centroid oracle; the plan pin asserts the
    * PartitionFilters actually reach the scan.
    *
    * The index comes from the build-once [[PersistedVectorIndex]] fixture
    * (VERDICT r8 #4): round 8 rebuilt it inside the query, so the bench
    * timed build + probe; now the build lands in the warm-up pass and
    * every timed rep measures pure serving — listing + pruned scan. */
  private def qAnnPersisted(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    annServe(s.read.parquet(PersistedVectorIndex.ensure(s, d)))
  }

  /** The persisted-index serving funnel, parameterized on the index
    * frame so the batch-built (`q_ann_persisted`) and stream-maintained
    * (`s_ann_index`) layouts serve through ONE plan: stored rows
    * `vec_id < 5` are the query batch (their persisted cluster IS the
    * target), the probed clusters collapse to bounded driver metadata,
    * and the scan is partition-pruned to those `cluster=` directories
    * before the top-3 cosine window. */
  private[graft] def annServe(idx: DataFrame): DataFrame = {
    // the query batch: stored rows, their persisted cluster IS the target
    val q = idx.filter(col("vec_id") < 5)
      .selectExpr("vec_id AS qid", "cluster AS qcluster",
        "embedding AS qv", "norm AS qnorm")
    // bounded driver metadata, NOT data: the partitions this batch probes
    val probed = q.select(col("qcluster")).distinct()
      .collect().map(_.get(0))
    val pruned = idx.filter(col("cluster").isin(probed.toSeq: _*))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    pruned.join(broadcast(q), col("cluster") === col("qcluster"))
      .withColumn("sim",
        expr(s"round(${dotSpark("embedding", "qv")} / (norm * qnorm), 6)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"),
        col("cluster").cast("bigint").as("cluster"), col("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** Multi-probe batched ANN (`nprobe` = 2): each of the 5 batch queries
    * probes its TWO nearest centroids' buckets instead of one. Single-
    * probe recall falls off a cliff for queries near Voronoi borders —
    * their true neighbors sit just across the boundary in the runner-up
    * bucket; every production IVF exposes this knob. The plan shape is
    * unchanged from [[qAnnBatch]]: the query batch explodes to
    * |batch| × nprobe broadcast rows BEFORE the bucket equi-join, the
    * per-query top-k window spans all probed buckets, and probe cost is
    * |batch| × nprobe × bucket — still never |batch| × table. A data
    * vector lives in exactly one bucket, so cross-probe candidates can't
    * duplicate. */
  private def qAnnMultiprobe(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.embeddings(s, d)
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
    val cents = seedCentroids(e)
      .selectExpr("vec_id AS cid", "embedding AS cv", "norm AS cnorm")
    val probes = e.filter(col("vec_id") < 5)
      .selectExpr("vec_id AS qid", "embedding AS qv", "norm AS qnorm")
      .crossJoin(broadcast(cents))
      .withColumn("qcsim",
        expr(s"round(${dotSpark("qv", "cv")} / (qnorm * cnorm), 6)"))
      .withColumn("prn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("qcsim").desc, col("cid"))))
      .filter(col("prn") <= 2)
      .select(col("qid"), col("cid").as("qcluster"), col("qv"), col("qnorm"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    ivfAssigned(s, d).join(broadcast(probes), col("cluster") === col("qcluster"))
      .withColumn("sim",
        expr(s"round(${dotSpark("embedding", "qv")} / (norm * qnorm), 6)"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("vec_id"), col("label"),
        col("cluster"), col("sim"))
      .orderBy(col("qid"), col("rk"))
  }

  /** ANN probe over the TRAINED IVF index — [[qIvfKmeans]]'s two Lloyd's
    * iterations composed with [[qAnnIvf]]'s probe, the production path
    * that query's scaladoc promises: assign every vector to its nearest
    * trained centroid, then search only the query's bucket. Same plan
    * shapes as the pieces (broadcast centroids, bucket equi-join, top-k);
    * the training iterations unroll into the one DAG. */
  private def qAnnTrained(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.spread(s, Tables.embeddings(s, d))
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
      .select(col("vec_id"), col("label"), col("embedding"), col("norm"))
    val cents0 = seedCentroids(e)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"),
        col("norm").as("cnorm"))
    val assigned = kmeansAssign(e, kmeansTrain(e, cents0, iters = 2))
      .withColumnRenamed("cid", "cluster")
    val q = assigned.filter(col("vec_id") === 0)
      .selectExpr("cluster AS qcluster", "embedding AS qv", "norm AS qnorm")
    assigned.join(broadcast(q), col("cluster") === col("qcluster"))
      .withColumn("sim",
        expr(s"round(${dotSpark("embedding", "qv")} / (norm * qnorm), 6)"))
      .select(col("vec_id"), col("label"), col("cluster"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Per-label embedding outliers: each vector ranked by cosine to its
    * OWN label's centroid, k most-atypical per label — the embedding-side
    * quality gate (surface mislabeled / off-distribution vectors before
    * they enter training). Centroid means use the exact-integer
    * quantized-sum discipline of [[qIvfKmeans]] (order-independent, so
    * cross-engine hash-stable), centroids ride one broadcast, scoring is
    * the codegen'd `dot_f32`, and the per-label bottom-k is a window
    * WindowGroupLimit prunes — one (label, pos) shuffle for the centroid
    * agg, nothing else proportional to data. */
  private[graft] def embOutliers(vectors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    graft.functions.DotF32.ensureRegistered(vectors.sparkSession)
    val e = vectors.selectExpr(s"$idCol AS vec_id", s"$labelCol AS label",
      s"$vecCol AS embedding")
    val cents = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(expr("cast(round(cast(val AS double) * 1000000.0) AS bigint)"))
        .cast("double") / (count(lit(1)) * 1000000.0)).as("m"))
      .groupBy(col("label"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m AS float))").as("cv"))
      .withColumn("cnorm", expr(s"sqrt(${dotSpark("cv", "cv")})"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("csim").asc, col("vec_id"))
    e.withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
      .join(broadcast(cents), "label")
      .withColumn("csim",
        expr(s"round(${dotSpark("embedding", "cv")} / (norm * cnorm), 6)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("label"), col("rk"), col("vec_id"), col("csim"))
  }

  private def qEmbOutliers(s: SparkSession, d: String): DataFrame =
    embOutliers(Tables.spread(s, Tables.embeddings(s, d)),
      "vec_id", "embedding", "label", k = 5)
      .orderBy(col("label"), col("rk"))

  /** Bulk KNN graph over the IVF buckets: every vector's top-`k`
    * max-cosine neighbors among the vectors sharing its centroid bucket —
    * the corpus-wide semantic-similarity graph (dedup graphs, retrieval
    * eval, cluster seeding). An exact KNN join is |corpus|² at 100 TB;
    * bucketing by the IVF assignment bounds the self-join to Σ|bucket|²
    * via an EQUI-join on the cluster id, and the per-vector top-k is a
    * window row_number WindowGroupLimit prunes per partition. Border
    * pairs (true neighbors in an adjacent bucket) are the recall trade
    * every bucketed KNN makes — [[qAnnMultiprobe]]'s nprobe explode is
    * the recovery knob when it matters. `assigned` must carry (vec_id,
    * embedding, norm, cluster) and be MATERIALIZED by the caller
    * ([[Materialize]]) — both self-join sides reference it, and the
    * assignment's centroid argmax must not run twice. */
  /** Largest bucket the KNN self-join accepts before failing loudly: with
    * K ≈ √N centroids a bucket holds ≈ √N vectors (≈10³ at N=10⁶), so this
    * cap is an order-of-magnitude skew allowance, not a tuning knob — a
    * bucket at the cap still means ≤ cap² pair work in ONE task. Hitting
    * it signals a degenerate assignment (fixed K, collapsed k-means
    * cell); the remedy is more centroids or splitting the cell, never
    * raising the cap toward |corpus|. */
  private[graft] val DefaultKnnBucketCap = 100000

  private[graft] def knnGraphBucketed(assigned: DataFrame, k: Int,
      bucketCap: Int = DefaultKnnBucketCap): DataFrame = {
    require(bucketCap > 0, s"bucketCap must be positive, got $bucketCap")
    // Oversized-bucket guard (round-7 verdict): Σ|bucket|² is only
    // sub-quadratic while buckets stay ≈ √N — a degenerate assignment
    // silently turns the equi-join quadratic. The census is one count per
    // bucket (K rows); the assert rides the broadcast build side, so an
    // over-cap bucket fails the query with the remedy in the message
    // instead of melting a 1000-executor stage.
    val census = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(assert_true(col("_bucket_n") <= bucketCap,
        concat(lit("KNN bucket "), col("cluster"), lit(" holds "),
          col("_bucket_n"), lit(s" vectors > cap $bucketCap — use more " +
            "centroids (K ≈ √N) or split the cell"))).isNull)
      .select(col("cluster"))
    val a = assigned.join(broadcast(census), Seq("cluster"))
      .select(col("vec_id"), col("cluster"),
        col("embedding").as("va"), col("norm").as("norm_a"))
    val b = assigned.select(col("vec_id").as("nbr_id"), col("cluster"),
      col("embedding").as("vb"), col("norm").as("norm_b"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("nbr_id"))
    a.join(b, Seq("cluster"))
      .filter(col("vec_id") =!= col("nbr_id"))
      .withColumn("sim",
        expr(s"round(${dotSpark("va", "vb")} / (norm_a * norm_b), 6)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("rk"), col("nbr_id"), col("cluster"),
        col("sim"))
  }

  private def qKnnJoin(s: SparkSession, d: String): DataFrame =
    knnGraphBucketed(Materialize(ivfAssigned(s, d)), k = 3)
      .orderBy(col("vec_id"), col("rk"))

  /** K-means centroid refinement for the IVF index (the production path
    * `q_ann_ivf`'s scaladoc promises): two unrolled Lloyd's iterations —
    * assign each vector to its max-cosine centroid, recompute centroids as
    * element-wise means, repeat — emitted as (cid, pos, quantized element,
    * cluster size). Deterministic cross-engine arithmetic:
    *  - element sums are exact integers (each value quantized to 1e-6 via
    *    round(val·10⁶) in double — identical IEEE ops in both engines),
    *    so the mean is one double division regardless of partitioning;
    *  - each new centroid element is cast to FLOAT before the next
    *    iteration's dot products (dot_f32 takes float arrays); the oracle
    *    mirrors with CAST(... AS REAL);
    *  - assignment ties break on cid after rounding cosine to 6 dp.
    * Scale: each iteration is one broadcast of K centroids + one shuffle
    * keyed by (cid, pos) with exact integer partial sums — the canonical
    * distributed Lloyd's step; iterations unroll into a single DAG with no
    * driver-side loop state. */
  /** One Lloyd's assignment step: every row of `e` (needs vec_id,
    * embedding, norm; extra columns carried through) labeled with its
    * max-cosine centroid from `cents` (cid, cv, cnorm) — ties break on
    * the lower cid after 6-dp rounding.
    *
    * MAP-SIDE argmax (r18, guide §2.3/§2.4): the previous form
    * crossJoined every vector with the K-row broadcast centroid table
    * and window-ranked the ×K exploded rows — per assignment, one
    * Exchange + Sort carrying K copies of every embedding (K = ⌈√N⌉,
    * so the shuffle amplifies corpus bytes ×√N; training pays it once
    * per Lloyd's iteration). The argmax is per-row arithmetic over a
    * bounded broadcast set, so it needs NO shuffle at all: the centroid
    * table folds to ONE row carrying array<struct<cid, cv, cnorm>>
    * ([[centroidsRow]] — a 1-row broadcast, the bounded-frame crossJoin
    * pattern), each vector scores the array once (`transform`, one
    * dot_f32 per centroid — the same K dot products as before) and
    * folds it to the best struct (`aggregate` with an explicit
    * (sim desc, cid asc) comparison). Fold order cannot matter: the
    * winner is the unique lexicographic max, and Spark's double
    * comparisons are NaN-consistent with the sort order the window
    * form used (NaN compares greater than any value — SQL NaN
    * semantics), so the assignment is bit-identical, including on
    * degenerate zero-norm rows. Exchange count per assignment: 1 → 0. */
  private[graft] def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(centroidsRow(cents, "cid", "cv", "cnorm")))
      .withColumn("cid", bestCentroidExpr("embedding", "norm"))
      .drop("_cents")

  /** The centroid table folded to ONE row: array<struct<cid, cv,
    * cnorm>>, cid-sorted (determinism of the array VALUE; the argmax
    * fold is order-independent regardless). Shared by [[kmeansAssign]]
    * and [[graft.api.Graft.ivfAssign]].
    *
    * Deliberately UNGUARDED against an empty centroid table (r19): the
    * degenerate case is unreachable on every declared path (training
    * seeds centroids from the data, so centroids are empty only when
    * the corpus is — and then no vector row evaluates the fold), and
    * both guard placements measured as real regressions on the
    * assignment-heavy queries — a per-row CASE in the fold ~3×, a CASE
    * projection even on this 1-row frame ~18% (q_ann_trained,
    * interleaved A/B). The streaming maintainer — the one consumer
    * with persisted, externally-supplied state — guards driver-side at
    * its per-run vocabulary collection instead
    * ([[graft.streaming.VectorIndexStream]]). */
  private[graft] def centroidsRow(cents: DataFrame, cidCol: String,
      cvCol: String, cnormCol: String): DataFrame =
    cents.agg(expr(
      s"array_sort(collect_list(struct($cidCol AS cid, $cvCol AS cv, " +
        s"$cnormCol AS cnorm))) AS _cents"))

  /** The per-row argmax fold over `_cents`: round-6 cosine, ties to the
    * lower cid — [[kmeansAssign]]'s convention, NaN-consistent with the
    * window ordering it replaces (see its scaladoc). The sims
    * materialize once per centroid via `transform`; the fold keeps the
    * (sim desc, cid asc) max. The init element is the array's head at
    * sim −2 (below any cosine, and NaN beats it too), so the result
    * type follows the data. Nothing here guards an EMPTY centroid
    * table: [[centroidsRow]] folds it to one row with an empty `_cents`,
    * and every vector then reaches `element_at(_cents, 1)` on an empty
    * array. Under ANSI mode (Spark 4's default) that raises
    * INVALID_ARRAY_INDEX_IN_ELEMENT_AT while the assignment runs; with
    * ANSI off every vector's cluster is NULL. A per-row guard here
    * measured ~3× on the assignment-heavy queries, so the one guard is
    * driver-side, in [[graft.streaming.VectorIndexStream]], on the
    * centroid rows it collects once per stream run. */
  private[graft] def bestCentroidExpr(vecCol: String,
      normCol: String): org.apache.spark.sql.Column = expr(
    s"""aggregate(
       |  transform(_cents, x -> struct(
       |    round(${dotSpark(vecCol, "x.cv")} / ($normCol * x.cnorm), 6) AS s,
       |    x.cid AS c)),
       |  struct(CAST(-2.0 AS DOUBLE) AS s, element_at(_cents, 1).cid AS c),
       |  (acc, y) -> CASE
       |    WHEN y.s > acc.s OR (y.s = acc.s AND y.c < acc.c) THEN y
       |    ELSE acc END).c""".stripMargin)

  /** One Lloyd's recompute step: centroids as element-wise means with the
    * exact-integer quantized-sum discipline (see [[qIvfKmeans]] doc). */
  private def kmeansRecompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "val")))
      .groupBy(col("cid"), col("pos"))
      .agg((sum(expr("cast(round(cast(val AS double) * 1000000.0) AS bigint)"))
        .cast("double") / (count(lit(1)) * 1000000.0)).as("m"))
      .groupBy(col("cid"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, m))), x -> cast(x.m AS float))").as("cv"))
      .withColumn("cnorm", expr(s"sqrt(${dotSpark("cv", "cv")})"))

  /** `iters` unrolled Lloyd's iterations from a caller-supplied seed —
    * the loop body behind [[qIvfKmeans]]/[[qAnnTrained]] and
    * [[graft.api.Graft.trainIvfCentroids]]. `e` needs (vec_id,
    * embedding, norm); `cents0` (cid, cv, cnorm). The iterations unroll
    * into ONE DAG (no driver-side data, plan depth linear in `iters` —
    * fine for the 2-5 iterations IVF training uses; checkpoint the
    * assignment first if you need dozens). */
  private[graft] def kmeansTrain(e: DataFrame, cents0: DataFrame,
      iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var c = cents0
    var it = 0
    while (it < iters) { c = kmeansRecompute(kmeansAssign(e, c)); it += 1 }
    c
  }

  private def qIvfKmeans(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.spread(s, Tables.embeddings(s, d))
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
      .select(col("vec_id"), col("embedding"), col("norm"))
    val cents0 = seedCentroids(e)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"),
        col("norm").as("cnorm"))
    val a1 = kmeansAssign(e, cents0)
    val c1 = kmeansRecompute(a1)
    val a2 = kmeansAssign(e, c1)
    val c2 = kmeansRecompute(a2)
    val sizes = a2.groupBy(col("cid")).agg(count(lit(1)).as("n_assigned"))
    c2.select(col("cid"), posexplode(col("cv")).as(Seq("pos", "cval")))
      .withColumn("c_q", expr("cast(round(cast(cval AS double) * 1000000.0) AS bigint)"))
      .join(sizes, "cid")
      .select(col("cid"), col("pos"), col("c_q"), col("n_assigned"))
      .orderBy(col("cid"), col("pos"))
  }

  /** Clustering-quality audit of the trained IVF cells (r11): per cluster,
    * the average cosine to the OWN centroid vs the average cosine to the
    * runner-up centroid — the simplified-silhouette separation read that
    * answers "did Lloyd's produce real cells or arbitrary partitions?"
    * before the index serves (the fourth quality audit beside the three
    * recall audits: a cell structure can have perfect recall mechanics
    * and still be a useless partition of the space).
    *
    * Determinism: assignments and runner-ups come from ONE row_number
    * window over the 6-dp-rounded cosine with the cid tie-break (the
    * kmeansAssign total order, positions 1 and 2 of the same window);
    * per-vector sims quantize to micro ints before the per-cluster sums,
    * averages are integer micro-divisions.
    *
    * 100 TB shape: training is the shared 2-iteration Lloyd's
    * (broadcast centroids, exact-integer recompute); the audit itself is
    * one K-row broadcast onto the vector scan + ONE (vec) window over K
    * in-row candidates + ONE K-group hash agg. Nothing pairs vectors
    * with vectors. */
  private def qClusterQuality(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val e = Tables.spread(s, Tables.embeddings(s, d))
      .withColumn("norm", expr(s"sqrt(${dotSpark("embedding", "embedding")})"))
      .select(col("vec_id"), col("embedding"), col("norm"))
    val cents0 = seedCentroids(e)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"),
        col("norm").as("cnorm"))
    val c2 = kmeansTrain(e, cents0, 2)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val sims = e.crossJoin(broadcast(c2))
      .withColumn("csim",
        expr(s"round(${dotSpark("embedding", "cv")} / (norm * cnorm), 6)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .withColumn("_m", expr("cast(round(csim * 1000000) AS bigint)"))
    val own = sims.filter(col("rn") === 1)
      .select(col("vec_id"), col("cid"), col("_m").as("_om"))
    val nxt = sims.filter(col("rn") === 2)
      .select(col("vec_id"), col("_m").as("_nm"))
    own.join(nxt, Seq("vec_id"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        sum(col("_om")).as("_so"), sum(col("_nm")).as("_sn"))
      .select(col("cid"), col("n"),
        expr("_so div n").as("avg_own_micro"),
        expr("_sn div n").as("avg_next_micro"),
        (expr("_so div n") - expr("_sn div n")).as("sep_micro"))
      .orderBy(col("cid"))
  }

  // ----------------------------------------------------------- text analysis

  /** Corpus statistics per language: doc/token/char counts, averages as a
    * single exact division, and distinct-token cardinality (explode +
    * two-level aggregate — the shuffle carries (lang, token) partials). */
  private def qTextStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.spread(s, Tables.documents(s, d))
      .selectExpr("lang", "n_chars", "split(text, ' ') AS toks")
    val stats = docs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("n_tokens"),
      sum(col("n_chars")).as("sum_chars"))
    val uniq = docs
      .select(col("lang"), explode(expr("array_distinct(toks)")).as("tok"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("n_uniq_tokens"))
    stats.join(uniq, "lang")
      .withColumn("avg_tokens", col("n_tokens") / col("n_docs"))
      .withColumn("avg_chars", col("sum_chars") / col("n_docs"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("avg_tokens"),
        col("sum_chars"), col("avg_chars"), col("n_uniq_tokens"))
      .orderBy(col("lang"))
  }

  /** Salient terms per language by a TF-IDF-style score. The score is the
    * RATIONAL form tf·N/df (term frequency × total docs / docs containing
    * the term) rather than tf·ln(N/df): the ranking it induces per term
    * set is the same monotone family, but the arithmetic is exact-integer
    * products with one double division — bit-identical across engines —
    * where ln() could differ in the last ulp between libm implementations
    * and break the oracle hash. Shape: one explode + two hash aggregates
    * keyed by (lang, token) and lang, a broadcast of the per-lang doc
    * counts, and a per-lang top-10 window — the shuffle carries (lang,
    * token) partials, never raw text. */
  private[graft] def salientTerms(docs: DataFrame, groupCol: String,
      idCol: String, textCol: String, k: Int): DataFrame = {
    val base = docs.selectExpr(groupCol, idCol, s"split($textCol, ' ') AS _toks")
    val toks = base.select(col(groupCol), col(idCol),
      explode(col("_toks")).as("token"))
    val tf = toks.groupBy(col(groupCol), col("token")).agg(
      count(lit(1)).as("tf"),
      countDistinct(col(idCol)).as("df"))
    val groupN = base.groupBy(col(groupCol))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("score").desc, col("token"))
    // tf is widened to double BEFORE the product: a long×long product
    // overflows (silently, with ANSI off) once tf·N passes 2^63 — easily
    // reached by a stopword at corpus scale — while the double product is
    // exact below 2^53 and IEEE-identical across engines above it.
    tf.join(broadcast(groupN), groupCol)
      .withColumn("score",
        round(col("tf").cast("double") * col("n_docs") / col("df"), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(groupCol), col("rk"), col("token"), col("tf"), col("df"),
        col("score"))
  }

  private def qTfidfTerms(s: SparkSession, d: String): DataFrame =
    salientTerms(Tables.spread(s, Tables.documents(s, d)),
        "lang", "doc_id", "text", k = 10)
      .orderBy(col("lang"), col("rk"))

  /** BM25 document ranking for a bounded query-term set — the retrieval
    * scoring a curation pipeline uses to pull topical sub-corpora (and
    * the standard lexical-search baseline next to the ANN family).
    *
    * Determinism across engines (the same discipline as
    * [[salientTerms]]): the classical `ln`-idf is replaced by the
    * rational Robertson idf numerator/denominator `(N - df + 0.5) /
    * (df + 0.5)` (libm-free), every operand is explicitly widened to
    * double with the SAME literal expression text in both engines, and
    * each per-term score is quantized to integer micro-units BEFORE the
    * per-doc sum — float addition isn't associative, so summing doubles
    * across terms would be partitioning-dependent; summing exact longs
    * is not.
    *
    * Scale: tokens explode map-side and immediately filter against the
    * broadcast term set, so the two aggregations (tf, df) shuffle only
    * query-term rows; doc lengths ride a map-side projection; top-k is
    * TakeOrderedAndProject. Nothing scales with vocabulary size. */
  private[graft] def bm25Rank(docs: DataFrame, idCol: String,
      textCol: String, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val base = docs.selectExpr(s"$idCol AS doc_id", s"split($textCol, ' ') AS _toks")
      .selectExpr("doc_id", "_toks", "cast(size(_toks) AS bigint) AS dl")
    val spark = docs.sparkSession
    import spark.implicits._
    // distinct: a repeated query term would double tf/df/n_hit
    val q = broadcast(terms.distinct.toDF("token"))
    val toks = base.select(col("doc_id"), explode(col("_toks")).as("token"))
      .join(q, "token")
    val tf = toks.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    bm25Score(tf, base.select(col("doc_id"), col("dl")), k, k1, b)
  }

  /** The BM25 scoring TAIL over pre-aggregated term frequencies — the
    * one arithmetic shared by the from-text path ([[bm25Rank]]) and the
    * maintained-index path ([[RetrievalIndex]]), so the two can never
    * drift. `tf` carries (doc_id, token, tf) for the QUERY terms only;
    * `doclens` carries (doc_id, dl) for the whole corpus — df/n_docs/
    * total_dl are all derived here from the inputs, which is what makes
    * index maintenance exact: every global in the formula is an
    * ADDITIVE count, so a merged (appended / anti-joined) state scores
    * identically to a recompute. */
  private[graft] def bm25Score(tf: DataFrame, doclens: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoreStats(tf, doclens,
      doclens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl")),
      k, k1, b)

  /** [[bm25Score]] with the corpus stats supplied as a 1-row
    * (n_docs, total_dl) frame instead of derived by a full doclens
    * aggregate — the maintained-index serving shape: both numbers are
    * additive, so the index keeps a running pair (add the batch's on
    * increment, subtract the deleted batch's on takedown) and a query
    * never pays a corpus-wide pass for two longs. The per-candidate dl
    * JOIN below still reads doclens, but only the tf docs' rows survive
    * it (doc_id-bucketed at production layout). */
  private[graft] def bm25ScoreStats(tf: DataFrame, doclens: DataFrame,
      stats: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoreStatsDl(tf.join(doclens.select("doc_id", "dl"), "doc_id"),
      stats, k, k1, b)

  /** [[bm25ScoreStats]] over tf rows that already CARRY their document's
    * length (the maintained-index postings layout of [[RetrievalIndex]]
    * denormalizes `dl` into the postings row, the classical impact-style
    * posting) — serving then never touches the doclens table at all: the
    * whole plan is the token-bucket-pruned postings scan plus two
    * broadcast one-row/|terms|-row frames, so query cost is bounded by
    * the query's own postings lists, flat in corpus size. */
  private[graft] def bm25ScoreStatsDl(tf: DataFrame,
      stats: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val df = tf.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .withColumn("micro", expr(
        s"cast(round(cast(tf AS double) * ${k1 + 1} / " +
          s"(cast(tf AS double) + $k1 * (1 - $b + $b * cast(dl AS double) / " +
          "(cast(total_dl AS double) / n_docs))) * " +
          "((cast(n_docs AS double) - cast(df AS double) + 0.5) / " +
          "(cast(df AS double) + 0.5)) * 1000000) AS bigint)"))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit"), sum(col("micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  private def qBm25Topk(s: SparkSession, d: String): DataFrame =
    bm25Rank(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
      Seq("table", "window", "agg"), k = 15)

  /** Hybrid retrieval: reciprocal-rank fusion (RRF) of the BM25 lexical
    * ranking and the cosine semantic ranking for one query — the standard
    * two-tower serving baseline (each retriever surfaces what the other
    * is blind to; RRF needs no score calibration between them). The
    * classic `1/(60+rank)` contributions are quantized to integer
    * micro-units BEFORE the sum (same discipline as [[bm25Rank]] — long
    * addition is associative, double addition is not), so the fused
    * score is engine- and partitioning-exact. Shape: each branch is the
    * already-bounded top-`k` list (TakeOrderedAndProject), the rank
    * window runs over those ≤ k rows, and the fusion is a full-outer
    * join of two k-row frames — nothing downstream of the branch top-ks
    * scales with the corpus. */
  private def qRrfFusion(s: SparkSession, d: String): DataFrame = {
    graft.functions.DotF32.ensureRegistered(s)
    val lex = bm25Rank(Tables.spread(s, Tables.documents(s, d)), "doc_id",
        "text", Seq("table", "window", "agg"), k = 20)
      .withColumn("lex_rk", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id"))))
      .select(col("doc_id"), col("lex_rk"))
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .selectExpr("embedding AS qv",
        s"sqrt(${dotSpark("embedding", "embedding")}) AS qnorm")
    val sem = e.crossJoin(broadcast(q))
      .withColumn("sim", expr(
        s"round(${dotSpark("embedding", "qv")} / (sqrt(${dotSpark("embedding", "embedding")}) * qnorm), 6)"))
      .select(col("vec_id"), col("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(20)
      .withColumn("sem_rk", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))))
      .selectExpr("vec_id AS doc_id", "sem_rk")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_micro", expr(
        "coalesce(cast(round(1000000.0 / (60 + lex_rk)) AS bigint), cast(0 AS bigint)) + " +
          "coalesce(cast(round(1000000.0 / (60 + sem_rk)) AS bigint), cast(0 AS bigint))"))
      .select(col("doc_id"), col("lex_rk"), col("sem_rk"), col("rrf_micro"))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
  }

  /** Token counting per document: whitespace tokens, distinct tokens, a
    * BPE-ish regex token count, the REAL greedy-merge BPE count
    * ([[graft.functions.BpeCount]], r9 — the unit training budgets are
    * actually denominated in), and mean token length — all map-side. */
  private def qTokenCount(s: SparkSession, d: String): DataFrame = {
    graft.functions.TextHash.ensureRegistered(s)
    Tables.spread(s, Tables.documents(s, d))
      .selectExpr("doc_id", "n_chars", "text", "split(text, ' ') AS toks")
      .selectExpr(
        "doc_id", "n_chars",
        "size(toks) AS n_ws_tokens",
        "size(array_distinct(toks)) AS n_uniq_tokens",
        "cast(regexp_count(text, '[a-z]+') AS bigint) AS n_re_tokens",
        "bpe_count(text) AS n_bpe_tokens",
        "aggregate(toks, 0L, (acc, t) -> acc + length(t)) / size(toks) AS avg_token_len")
      .orderBy(col("doc_id"))
  }

  /** Heuristic quality score per document: stopword ratio, short-token
    * ratio, and a length credit, combined with fixed weights. The exact
    * arithmetic (same ops, same order) is reproduced by the oracle. */
  private def qQualityScore(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d))
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr(
        "doc_id",
        "size(toks) AS n_tokens",
        "size(filter(toks, t -> array_contains(array('the','a','of','and','to','in'), t))) / size(toks) AS stop_ratio",
        "size(filter(toks, t -> length(t) <= 2)) / size(toks) AS short_ratio")
      .withColumn("score",
        expr("round(0.5 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio) + 0.2 * least(n_tokens / 200.0, 1.0), 6)"))
      .orderBy(col("doc_id"))

  /** Bigram-LM quality score (`q_lm_score`): the STATISTICAL twin of
    * [[qQualityScore]]'s fixed heuristics — the perplexity-filter step of
    * a CCNet/Gopher-style curation pipeline. The corpus itself is the
    * training set: unigram-context and bigram count tables ARE the LM,
    * and each document is scored by its average add-one-smoothed negative
    * log-likelihood per bigram. Templated/boilerplate documents score LOW
    * (their bigrams are corpus-frequent — the LM has seen them), unusual
    * or garbled documents score HIGH; filtering is a threshold on
    * `avg_nll`, which the caller picks (policy, like repetitionStats).
    *
    * Determinism: each bigram's log-probability quantizes to integer
    * MICRO-NATS before the per-doc sum (`round(ln(p)·10⁶)` → long) — long
    * addition is associative, so partitioning can't move a micro-nat (the
    * q_rrf_fusion / q_graph_pagerank integer-unit rule). `ln` is the one
    * libm call on the whole query surface (everything else here is IEEE
    * exact-rounded + - × ÷): its argument is an exact division of small
    * integer counts, both engines' `ln` are faithfully rounded, and a
    * value must land within ~1 ulp of a 0.5-micro-nat boundary to flip a
    * hash — ~1e-10 per bigram.
    *
    * 100 TB shape: the LM derives from the corpus in TWO hash
    * aggregations and joins back on its gram keys — co-partitioned
    * equi-joins, never broadcast (the bigram table grows with the corpus;
    * only the 1-row vocab size V rides a broadcast). The shuffles carry
    * (doc_id, w1, w2) gram rows — individual tokens, like
    * q_decontaminate_ngram's inverted index — never document text.
    * Scoring against a FROZEN reference LM (CCNet trains on Wikipedia,
    * scores CommonCrawl) is this same plan minus the two training aggs:
    * pass the pre-built count tables in place of `uni`/`bi`. */
  private[graft] def lmScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val b = docs
      .selectExpr(idCol, s"split($textCol, ' ') AS _toks")
      // sequence(1, 0) would DESCEND, not empty — guard the 1-token doc
      .filter(expr("size(_toks) >= 2"))
      .selectExpr(idCol,
        "explode(transform(sequence(1, size(_toks) - 1), i -> struct(_toks[i-1] AS w1, _toks[i] AS w2))) AS _bg")
      .selectExpr(idCol, "_bg.w1 AS w1", "_bg.w2 AS w2")
    val uni = b.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val bi = b.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val v = docs.selectExpr(s"explode(split($textCol, ' ')) AS _w")
      .agg(countDistinct(col("_w")).as("v"))
    b.join(bi, Seq("w1", "w2"))
      .join(uni, Seq("w1"))
      .crossJoin(broadcast(v))
      .withColumn("_lp",
        expr("cast(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS bigint)"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_lp")).as("_slp"))
      .withColumn("avg_nll", expr("round(-_slp / n_bigrams / 1000000.0, 6)"))
      .select(col(idCol), col("n_bigrams"), col("avg_nll"))
  }

  private def qLmScore(s: SparkSession, d: String): DataFrame =
    lmScore(Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** N-gram-heuristic language ID: count marker-token hits per language
    * profile, argmax with a fixed tiebreak, reported as a confusion matrix
    * against the labeled `lang` column. */
  private def qLangId(s: SparkSession, d: String): DataFrame = {
    val profiles = Seq(
      "en" -> Seq("the", "a", "of", "and", "to", "in"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "es" -> Seq("el", "los", "las", "y", "es"),
      "fr" -> Seq("le", "la", "les", "et", "est"),
      "zh" -> Seq("shi", "bu", "wo"))
    val scoreCols = profiles.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString(", ")
      s"size(filter(toks, t -> array_contains(array($arr), t))) AS s_$l"
    }
    val all = profiles.map { case (l, _) => s"s_$l" }.mkString(", ")
    val caseChain = profiles.map { case (l, _) =>
      s"WHEN s_$l >= greatest($all) THEN '$l'"
    }.mkString(" ")
    Tables.spread(s, Tables.documents(s, d))
      .selectExpr(Seq("doc_id", "lang", "split(text, ' ') AS toks") : _*)
      .selectExpr(Seq("doc_id", "lang") ++ scoreCols: _*)
      .withColumn("predicted",
        expr(s"CASE WHEN greatest($all) = 0 THEN 'und' $caseChain ELSE 'und' END"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Document fingerprinting: minimum 60-bit rolling hash over word
    * 4-gram shingles (MinHash with one permutation — a winnowing-style
    * content fingerprint), plus the count of documents sharing it.
    *
    * Deliberately NOT on the fused shingle_h60 kernel: `n_shingles` is
    * the count of distinct shingle STRINGS (the oracle's semantic), and
    * size(shingle_h60(...)) would count distinct HASHES — equal only
    * assuming no h60 collision. The string shingles must exist here
    * anyway for that count, so fusing would buy nothing. */
  private def qDocFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.spread(s, Tables.documents(s, d))
      .selectExpr("doc_id", "split(text, ' ') AS toks")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(1, greatest(size(toks) - 3, 1)), i -> array_join(slice(toks, i, 4), ' '))) AS shingles")
      .selectExpr("doc_id", "size(shingles) AS n_shingles",
        "array_min(h60_array(shingles)) AS fingerprint")
      .withColumn("n_same_fp",
        count(lit(1)).over(Window.partitionBy(col("fingerprint"))))
      .orderBy(col("doc_id"))

  /** N-gram Jaccard near-dedup: candidate pairs are generated by an
    * inverted-index style equi-join on the min-shingle fingerprint (two
    * docs sharing their rarest 4-gram hash — the single-permutation MinHash
    * block), then verified with EXACT Jaccard over the full 4-gram hash
    * sets. Complements MinHash banding: one cheap blocking key instead of
    * 16 signatures, higher recall bar (J >= 0.8). Never all-pairs — the
    * join key bounds each block. */
  private[graft] val MaxBlock = 100
  private def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.spread(s, Tables.documents(s, d))
      .selectExpr("doc_id", "shingle_h60(text, 4) AS hs")
      .selectExpr("doc_id", "hs", "array_min(hs) AS fp")
      // Blocks larger than MaxBlock are boilerplate markers: pairing inside
      // them is quadratic work for near-zero dedup signal (standard
      // blocking-cap trade — at the test SFs the largest block is 5, so
      // this changes nothing while bounding worst-case cost at scale).
      // The window shuffles on fp, the same key the join needs.
      .withColumn("block_sz", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("block_sz") <= MaxBlock)
      .drop("block_sz")
    val a = sh.selectExpr("doc_id AS doc_a", "hs AS hs_a", "fp")
    val b = sh.selectExpr("doc_id AS doc_b", "hs AS hs_b", "fp")
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .selectExpr("doc_a", "doc_b",
        // |∪| = |A| + |B| − |∩| (hs are distinct sets) — one array pass
        "size(array_intersect(hs_a, hs_b)) AS _li",
        "size(hs_a) + size(hs_b) AS _ls")
      .selectExpr("doc_a", "doc_b",
        "round(_li / (_ls - _li), 6) AS jaccard")
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** N-gram CONTAINMENT near-dup (r11): pairs scored by
    * `|A ∩ B| / min(|A|, |B|)` over the 4-gram shingle-hash sets — the
    * ASYMMETRIC twin of [[qNgramJaccard]]. Symmetric Jaccard divides by
    * the union, so a short document fully embedded in a long one scores
    * LOW (a 100-gram doc inside a 1000-gram doc has J ≈ 0.1) and
    * whole-document near-dedup never sees it; containment normalizes by
    * the smaller set, which is exactly the "quoted post inside a thread",
    * "article inside its syndicated wrapper" duplication shape.
    *
    * 100 TB shape: the candidate generator is the inverted index on the
    * gram hash — and the load-bearing prune is `df >= 2`: a gram seen in
    * ONE document can't witness any intersection, and on a web corpus
    * the unique-gram tail IS most of the index, so the self-join's input
    * drops by that whole tail before any pairing. The `df <= 100`
    * boilerplate cap bounds per-gram fan-out (the q_ngram_jaccard
    * MaxBlock trade — replicated by the oracle, so it is part of the
    * declared semantics, not an approximation). The (doc, sz, h) explode
    * materializes ONCE ([[Materialize]]) and feeds the df aggregation
    * and both self-join sides; shuffles carry (hash, id, size) rows,
    * never text. The intersection count arrives as a count-per-(a,b)
    * hash aggregation — no array_intersect over wide sets rides the
    * join. The score is integer micro-division — engine-exact. */
  private[graft] val ContainmentCap = 100
  private[graft] val ContainmentMicro = 600000L

  /** The parameterized containment core ([[qContainment]]'s engine, and
    * `Graft.containmentPairs`): pairs over `docs` with
    * `|A∩B| / min(|A|,|B|) ≥ minMicro/10⁶` on `n`-gram shingle hashes,
    * grams in more than `cap` docs dropped as boilerplate. */
  private[graft] def containmentPairs(docs: DataFrame, idCol: String,
      textCol: String, n: Int, minMicro: Long, cap: Int): DataFrame = {
    graft.functions.TextHash.ensureRegistered(docs.sparkSession)
    val ex = Materialize(docs
      .selectExpr(s"$idCol AS doc_id", s"shingle_h60($textCol, $n) AS hs")
      .selectExpr("doc_id", "cast(size(hs) AS bigint) AS sz",
        "explode(hs) AS h"))
    val shared = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= cap)
      .select(col("h"))
    val hot = ex.join(shared, Seq("h"))
    val a = hot.selectExpr("h", "doc_id AS doc_a", "sz AS sz_a")
    val b = hot.selectExpr("h", "doc_id AS doc_b", "sz AS sz_b")
    a.join(b, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment_micro",
        expr("n_common * 1000000 div least(sz_a, sz_b)"))
      .filter(col("containment_micro") >= minMicro)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        col("n_common"), col("containment_micro"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def qContainment(s: SparkSession, d: String): DataFrame =
    containmentPairs(Tables.spread(s, Tables.documents(s, d)),
      "doc_id", "text", 4, ContainmentMicro, ContainmentCap)

  /** LSH recall audit (r11): the `q_ann_recall` discipline applied to
    * the MinHash dedup family — per Jaccard decile, how many TRUE
    * near-dup pairs the 16-perm/4-band LSH candidate generator actually
    * surfaces. Banding is probabilistic (P[candidate] = 1-(1-J^4)^4 ≈
    * 0.66 at J=0.7, ≈ 0.98 at J=0.9), so the production dedup pipeline
    * is trading recall for never-all-pairs — this query is the number
    * that trade is judged by, and the alert that fires if the band/perm
    * geometry drifts below spec.
    *
    * Ground truth needs exact Jaccard, and all-pairs truth is quadratic
    * BY DEFINITION — so the audit is anchored on a fixed COUNT of docs
    * (r13; r12's `doc_id % 5` FRACTION anchor made the truth arm
    * `0.2·n²` — still quadratic): the [[RecallAnchors]] docs whose
    * multiplicative-hash key `(doc_id mod P)·48271 mod P` sorts lowest
    * (ties by doc_id — a total order, so selection is deterministic in
    * both engines) are the audit queries, each verified exhaustively
    * against the WHOLE corpus. Truth costs `K × corpus` with K constant
    * — genuinely linear in corpus size, the audit a 100 TB pipeline can
    * afford — and anchor selection itself is a TakeOrdered (one linear
    * scan, constant driver memory), with the K-row anchor set
    * broadcast back for the sample/restrict joins.
    * Buckets and the truth threshold are
    * exact integer arithmetic (`10·|∩| div |∪|`, `10·|∩| ≥ 7·|∪|`) — no
    * double ever decides membership. The LSH arm is the PRODUCTION pair
    * pipeline ([[minhashPairsUnordered]]) over the full corpus,
    * restricted to anchored pairs; hits join on pair identity alone. */
  private def qLshRecall(s: SparkSession, d: String): DataFrame = {
    val hsx = Materialize(shingleHashSets(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text")
      .selectExpr("doc_id", "hs", "cast(size(hs) AS bigint) AS sz"))
    val anchors = recallAnchors(hsx, "doc_id")
    val samp = hsx
      .join(broadcast(anchors), col("doc_id") === col("a_id"))
      .selectExpr("doc_id AS doc_s", "hs AS hs_s", "sz AS sz_s")
    val truth = samp
      .crossJoin(hsx.selectExpr("doc_id AS doc_o", "hs AS hs_o", "sz AS sz_o"))
      .filter(col("doc_s") =!= col("doc_o"))
      // size-ratio prune BEFORE any array work: J = |∩|/|∪| ≤ min/max of
      // the set sizes, so min·10 < max·7 already caps J below 0.7 — on a
      // real corpus this integer compare kills almost every
      // sample × corpus pair without touching the arrays
      .filter(expr("sz_s * 10 >= sz_o * 7 AND sz_o * 10 >= sz_s * 7"))
      // |∪| = |A| + |B| − |∩| (hs are distinct sets): one array pass, not two
      .selectExpr(
        "least(doc_s, doc_o) AS doc_a", "greatest(doc_s, doc_o) AS doc_b",
        "cast(size(array_intersect(hs_s, hs_o)) AS bigint) AS li",
        "sz_s", "sz_o")
      .selectExpr("doc_a", "doc_b", "li", "sz_s + sz_o - li AS lu")
      .filter(expr("li * 10 >= lu * 7"))
      .selectExpr("doc_a", "doc_b", "cast(li * 10 div lu AS int) AS bucket")
      .distinct()
    val lshAll = minhashPairsUnordered(
        Tables.spread(s, Tables.documents(s, d)), "doc_id", "text",
        JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    // restrict the production pair set to anchored pairs via two broadcast
    // HASH semi-joins (one per endpoint) + distinct — never a nested-loop
    // OR-predicate scan of every pair against the anchor list
    val lsh = lshAll
      .join(broadcast(anchors), col("doc_a") === col("a_id"), "left_semi")
      .unionByName(lshAll
        .join(broadcast(anchors), col("doc_b") === col("a_id"), "left_semi"))
      .distinct()
      .select(col("doc_a"), col("doc_b"), lit(1L).as("hit"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .orderBy(col("bucket"))
  }

  /** SEMANTIC eval decontamination (r11): drop training vectors whose
    * embedding sits within cosine 0.5 of ANY eval vector — the
    * embedding-space leg of the decontamination family.
    * `q_decontaminate` catches verbatim eval copies and
    * `q_decontaminate_ngram` catches near-verbatim variants, but a
    * PARAPHRASED eval item (reworded question, translated passage)
    * shares no n-grams at all — it only shows up in embedding space,
    * which is exactly the leakage mode rephrase-style contamination
    * studies document. Output is per-train-vector (hit count, max
    * similarity, keep), so the drop is auditable, not silent.
    *
    * 100 TB shape: both sides sketch with ONE shared plane set (the
    * persisted-index discipline — per-side planes would bucket
    * incompatibly and zero the probe's recall); candidates are the
    * sketch equi-join (train × eval per bucket, never train × eval
    * all-pairs), the cosine verify is map-side on candidates, and the
    * flag join back to the train side carries (id, count, sim) only. */
  private def qDecontaminateEmb(s: SparkSession, d: String): DataFrame = {
    val all = Tables.spread(s, Tables.embeddings(s, d))
    val sk = Materialize(signSketch(all, "vec_id", "embedding",
      derivePlanes(all, "vec_id", "embedding", 4)))
    val train = sk.filter(expr("vec_id % 10 <> 7"))
    val evalS = sk.filter(expr("vec_id % 10 = 7"))
    val hits = train
      .selectExpr("vec_id AS t_id", "sketch", "embedding AS vt",
        "norm AS norm_t")
      .join(evalS.selectExpr("vec_id AS e_id", "sketch", "embedding AS ve",
        "norm AS norm_e"), Seq("sketch"))
      .withColumn("sim",
        expr(s"round(${dotSpark("vt", "ve")} / (norm_t * norm_e), 6)"))
      .filter(col("sim") >= 0.5)
      .groupBy(col("t_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("max_sim"))
    train.select(col("vec_id"))
      .join(hits, col("vec_id") === col("t_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_sim"),
        col("t_id").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Sign-sketch recall audit (r11): [[qLshRecall]]'s discipline applied
    * to the EMBEDDING near-dup family — per cosine decile, how many true
    * near-dup pairs the 4-plane sign-sketch bucket join surfaces. The
    * three approximate similarity engines (MinHash LSH for text, sign
    * sketches for embeddings, IVF/PQ for serving) now each carry their
    * own recall audit; together they are the drift alarm for every
    * "never all-pairs" claim in the dedup story.
    *
    * Anchored exactly like `q_lsh_recall`: a fixed COUNT of
    * [[RecallAnchors]] vectors (lowest [[anchorKeySql]] key, ties by
    * vec_id) audited against the whole corpus — truth costs K × corpus
    * with K constant, linear in corpus size (r13; was the quadratic
    * `% 5` fraction anchor); truth
    * similarity is the SAME rounded-cosine convention every embedding
    * query uses, and the bucket floors the rounded double identically in
    * both engines. The measured arm is the PRODUCTION
    * [[embNearDupPairsCore]] pipeline restricted to anchored pairs. */
  private def qEmbRecall(s: SparkSession, d: String): DataFrame = {
    val e = Materialize(Tables.spread(s, Tables.embeddings(s, d))
      .selectExpr("vec_id", "embedding",
        s"sqrt(${dotSpark("embedding", "embedding")}) AS norm"))
    val anchors = recallAnchors(e, "vec_id")
    val samp = e.join(broadcast(anchors), col("vec_id") === col("a_id"))
      .selectExpr("vec_id AS vec_s", "embedding AS vs", "norm AS norm_s")
    val truth = samp
      .crossJoin(e.selectExpr("vec_id AS vec_o", "embedding AS vo",
        "norm AS norm_o"))
      .filter(col("vec_s") =!= col("vec_o"))
      .selectExpr(
        "least(vec_s, vec_o) AS vec_a", "greatest(vec_s, vec_o) AS vec_b",
        s"round(${dotSpark("vs", "vo")} / (norm_s * norm_o), 6) AS sim")
      .filter(col("sim") >= 0.35)
      .selectExpr("vec_a", "vec_b", "cast(floor(sim * 10) AS int) AS bucket")
      .distinct()
    val lshAll = embNearDupPairsCore(Tables.spread(s, Tables.embeddings(s, d)),
        "vec_id", "embedding", 4, 0.35)
      .select(col("vec_a"), col("vec_b"))
    val lsh = lshAll
      .join(broadcast(anchors), col("vec_a") === col("a_id"), "left_semi")
      .unionByName(lshAll
        .join(broadcast(anchors), col("vec_b") === col("a_id"), "left_semi"))
      .distinct()
      .select(col("vec_a"), col("vec_b"), lit(1L).as("hit"))
    truth.join(lsh, Seq("vec_a", "vec_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .orderBy(col("bucket"))
  }

  // ------------------------------------------------------------- multimodal

  /** Multimodal binary-column plumbing: documents as opaque `binary`
    * payloads with typed metadata (byte length, content hash, base64
    * prefix). Real media decode is environment-dependent (see
    * graft.multimodal.MultimodalOps for the stubbed decode pipeline); the
    * schema/projection path here is the part that must scale. */
  private def qMultimodalMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .selectExpr(
        "doc_id",
        "cast(text AS binary) AS payload",
        "source")
      .selectExpr(
        "doc_id",
        "octet_length(payload) AS n_bytes",
        "md5(payload) AS content_hash",
        "base64(cast(substring(cast(payload AS string), 1, 8) AS binary)) AS b64_prefix",
        "source")
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_exact_dedup" -> qExactDedup _,
    "q_near_dedup_minhash" -> qNearDedupMinhash _,
    "q_dedup_increment" -> qDedupIncrement _,
    "q_sig_index" -> qSigIndex _,
    "q_minhash_est" -> qMinhashEst _,
    "q_char_stats" -> qCharStats _,
    "q_simhash" -> qSimhash _,
    "q_simhash_pairs" -> qSimhashPairs _,
    "q_simhash_wide" -> qSimhashWide _,
    "q_emb_near_dup" -> qEmbNearDup _,
    "q_cosine_topk" -> qCosineTopk _,
    "q_crossmodal_filter" -> qCrossmodalFilter _,
    "q_quantized_topk" -> qQuantizedTopk _,
    "q_pq_topk" -> qPqTopk _,
    "q_ann_ivf" -> qAnnIvf _,
    "q_ann_batch" -> qAnnBatch _,
    "q_ann_persisted" -> qAnnPersisted _,
    "q_ivf_pq" -> (VectorIndexQueries.qIvfPq _),
    "q_ivf_pq_multiprobe" -> (VectorIndexQueries.qIvfPqMultiprobe _),
    "q_ann_retract" -> (VectorIndexQueries.qAnnRetract _),
    "q_ann_rebuild" -> (VectorIndexQueries.qAnnRebuild _),
    "q_ann_rebuild_recall" -> (VectorIndexQueries.qAnnRebuildRecall _),
    "q_ann_recall" -> (VectorIndexQueries.qAnnRecall _),
    "q_ann_multiprobe" -> qAnnMultiprobe _,
    "q_hard_negatives" -> qHardNegatives _,
    "q_ivf_kmeans" -> qIvfKmeans _,
    "q_cluster_quality" -> qClusterQuality _,
    "q_ann_trained" -> qAnnTrained _,
    "q_emb_outliers" -> qEmbOutliers _,
    "q_knn_join" -> qKnnJoin _,
    "q_text_stats" -> qTextStats _,
    "q_tfidf_terms" -> qTfidfTerms _,
    "q_bm25_topk" -> qBm25Topk _,
    "q_rrf_fusion" -> qRrfFusion _,
    "q_token_count" -> qTokenCount _,
    "q_quality_score" -> qQualityScore _,
    "q_lm_score" -> qLmScore _,
    "q_lang_id" -> qLangId _,
    "q_doc_fingerprint" -> qDocFingerprint _,
    "q_ngram_jaccard" -> qNgramJaccard _,
    "q_containment" -> qContainment _,
    "q_lsh_recall" -> qLshRecall _,
    "q_emb_recall" -> qEmbRecall _,
    "q_decontaminate_emb" -> qDecontaminateEmb _,
    "q_multimodal_meta" -> qMultimodalMeta _
  )

  // --------------------------------------------------------------- oracles

  /** Shared CTE chain (no leading WITH): the ⌈√N⌉-seeded IVF assignment +
    * bucketed KNN self-join, ending in `knnq(vec_id, rk, nbr_id, cluster,
    * sim)` — each vector's top-3 max-cosine in-bucket neighbors. Shared
    * verbatim between the `q_knn_join` oracle and the `q_graph_pagerank`
    * oracle in [[GraphOps]], so the edge graph the two queries see can
    * never drift. */
  private[graft] lazy val knnGraphCte: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM e),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e, kc WHERE vec_id < kv),
       |scored AS (
       |  SELECT e.vec_id, e.v, cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS rn
       |  FROM e, cents),
       |assigned AS (SELECT vec_id, v, cid AS cluster FROM scored WHERE rn = 1),
       |knn AS (
       |  SELECT a.vec_id, b.vec_id AS nbr_id, a.cluster,
       |         ${cosDuck("a.v", "b.v")} AS sim
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id),
       |knnq AS (
       |  SELECT vec_id,
       |         cast(row_number() OVER (PARTITION BY vec_id
       |                                 ORDER BY sim DESC, nbr_id) AS int) AS rk,
       |         nbr_id, cluster, sim
       |  FROM knn QUALIFY rk <= 3)""".stripMargin

  /** Shared CTE chain (no leading WITH) extending [[ivfKmeansCte]] to
    * the TRAINED centroid table `c2n(cid, cv, cnorm)` and trained
    * assignment `a3(vec_id, label, v, cluster)` — shared by the
    * `q_ann_trained`, `q_ann_persisted`, and IVF × PQ oracles so the
    * training every trained-index consumer replays can never drift. */
  private[graft] lazy val ivfTrainedAssignCte: String =
    ivfTrainedAssignCteFrom("embeddings")

  private[graft] def ivfTrainedAssignCteFrom(rel: String): String =
    s"""${ivfKmeansCteFrom(rel)},
       |c2 AS (SELECT cid,
       |              list(CAST(CAST(m AS real) AS double) ORDER BY pos) AS cv
       |       FROM u2 GROUP BY cid),
       |c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM c2),
       |s3 AS (SELECT en.vec_id, en.label, en.v, cid,
       |              row_number() OVER (PARTITION BY en.vec_id
       |                ORDER BY round(list_dot_product(en.v, cv) / (nrm * cnorm), 6) DESC,
       |                         cid) AS rn
       |       FROM en, c2n),
       |a3 AS (SELECT vec_id, label, v, cid AS cluster FROM s3 WHERE rn = 1)""".stripMargin

  /** One per-subspace Lloyd's iteration of the residual-codebook
    * training in DuckDB: slices `sl(vec_id, s, vs)` assigned to their
    * argmin codeword of `cb$prev` (L2² over micro-ints, ties on code
    * id), element-wise truncating-division means, empty codes keeping
    * the previous codeword — the [[PersistedVectorIndex.trainCodebook]]
    * arithmetic, iteration by iteration. `trunc(sum / count)` is the
    * engine-portable spelling of Spark's `div` (both truncate toward
    * zero; the double division is exact far past oracle scale). */
  private def pqCbIterCte(x: Int): String = {
    val prev = s"cb${x - 1}"
    s"""cd$x AS (SELECT sl.vec_id, sl.s, cb.c,
       |              CAST(list_sum(list_transform(range(1, 17),
       |                i -> (sl.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]) *
       |                     (sl.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]))) AS bigint) AS dd
       |       FROM sl JOIN $prev cb ON sl.s = cb.s),
       |ca$x AS (SELECT vec_id, s, c,
       |               row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
       |        FROM cd$x QUALIFY rn = 1),
       |cm$x AS (SELECT a.s, a.c, u.i AS pos,
       |               CAST(trunc(CAST(sum(sl.vs[CAST(u.i AS int)]) AS double) / count(*)) AS bigint) AS mv
       |        FROM ca$x a JOIN sl ON sl.vec_id = a.vec_id AND sl.s = a.s,
       |             range(1, 17) u(i)
       |        GROUP BY a.s, a.c, u.i),
       |cw$x AS (SELECT s, c, list(mv ORDER BY pos) AS w FROM cm$x GROUP BY s, c),
       |cb$x AS (SELECT cb.s, cb.c, coalesce(cw$x.w, cb.w) AS w
       |        FROM $prev cb LEFT JOIN cw$x ON cw$x.s = cb.s AND cw$x.c = cb.c)""".stripMargin
  }

  /** Shared CTE chain (no leading WITH) for the IVF × residual-PQ
    * oracles, up to `assigned(vec_id, label, v, q, cluster, r)`, the
    * trained centroid table `cents(cid, cv, cq)`, and the TRAINED
    * residual codebook `cb(s, c, w)` — shared verbatim between the
    * `q_ivf_pq` and `q_ivf_pq_multiprobe` oracles so the index the two
    * probes see can never drift. Replays the full r10 fixture build:
    * two Lloyd's IVF iterations ([[ivfTrainedAssignCte]]), residuals
    * against the trained centroids, then two per-subspace codebook
    * iterations from the lowest-id residual slices ([[pqCbIterCte]]). */
  private[graft] lazy val ivfPqBaseCte: String = ivfPqBaseCteFrom("embeddings")

  private[graft] def ivfPqBaseCteFrom(rel: String): String =
    s"""${ivfTrainedAssignCteFrom(rel)},
       |cq2 AS (SELECT cid,
       |               list_transform(cv, x -> CAST(round(x * 1000000.0) AS bigint)) AS cq
       |        FROM c2n),
       |cents AS (SELECT c2n.cid, c2n.cv, cq2.cq FROM c2n JOIN cq2 USING (cid)),
       |assigned AS (
       |  SELECT a3.vec_id, a3.label, a3.v,
       |         list_transform(a3.v, x -> CAST(round(x * 1000000.0) AS bigint)) AS q,
       |         a3.cluster,
       |         list_transform(range(1, 65),
       |           i -> q[CAST(i AS int)] - c.cq[CAST(i AS int)]) AS r
       |  FROM a3 JOIN cq2 c ON a3.cluster = c.cid),
       |cb0 AS (SELECT t.s, CAST(vec_id AS int) AS c,
       |               r[CAST(t.s*16+1 AS int) : CAST(t.s*16+16 AS int)] AS w
       |        FROM assigned, range(4) t(s) WHERE vec_id < 16),
       |sl AS (SELECT vec_id, t.s,
       |              r[CAST(t.s*16+1 AS int) : CAST(t.s*16+16 AS int)] AS vs
       |       FROM assigned, range(4) t(s)),
       |${pqCbIterCte(1)},
       |${pqCbIterCte(2)},
       |cb AS (SELECT s, c, w FROM cb2)""".stripMargin

  /** The multi-probe IVF × PQ funnel oracle over [[ivfPqBaseCte]],
    * parameterized by a POSTINGS filter (SQL `WHERE ...` tail, or "" for
    * the full index) — ONE builder shared by `q_ivf_pq_multiprobe` (full
    * postings) and `q_ann_retract` (survivors only), so the funnel the
    * takedown is judged against can never drift from the production
    * funnel. The vocabularies (trained centroids + residual codebook)
    * always come from the FULL corpus: vocabulary identity is index
    * identity, and a takedown never retrains. */
  private[graft] def ivfPqMultiprobeOracle(postingsFilter: String): String =
    ivfPqFunnelSql("embeddings", postingsFilter, nQueries = 3, topK = 3) +
      "\nORDER BY qid, rk"

  /** The funnel oracle body, fully parameterized (r18 — the rebuild
    * oracles need it over the survivor relation and at the recall
    * arms' nQueries = 5 / topK = 10): vocabularies trained over `rel`,
    * postings = the trained assignment filtered by `postingsFilter`,
    * first `nQueries` posting rows as the query batch, 2-probe / ADC
    * shortlist 32 / exact re-rank to `topK`. A complete
    * WITH…SELECT(qid, rk, vec_id, label, cluster, sim) with NO final
    * ORDER BY, so it can stand alone (callers append one) or nest as a
    * derived-table subquery. */
  private[graft] def ivfPqFunnelSql(rel: String, postingsFilter: String,
      nQueries: Int, topK: Int): String =
    s"""WITH ${ivfPqBaseCteFrom(rel)},
       |post AS (SELECT * FROM assigned$postingsFilter),
       |qb AS (SELECT vec_id AS qid, v AS qv, q AS qq FROM post
       |       WHERE vec_id < $nQueries),
       |pr AS (
       |  SELECT qid, qv, qq, cid AS qcluster, cq AS qcq,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY ${cosDuck("qv", "cv")} DESC, cid) AS prn
       |  FROM qb, cents
       |  QUALIFY prn <= 2),
       |cand AS (SELECT DISTINCT a.vec_id, a.r
       |         FROM pr JOIN post a ON a.cluster = pr.qcluster),
       |bs AS (SELECT c2.vec_id, t.s,
       |              c2.r[CAST(t.s*16+1 AS int) : CAST(t.s*16+16 AS int)] AS vs
       |       FROM cand c2, range(4) t(s)),
       |dist AS (
       |  SELECT bs.vec_id, bs.s, cb.c, cb.w,
       |         CAST(list_sum(list_transform(range(1, 17),
       |           i -> (bs.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]) *
       |                (bs.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]))) AS bigint) AS dd
       |  FROM bs JOIN cb ON bs.s = cb.s),
       |vcodes AS (
       |  SELECT vec_id, s, w,
       |         row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
       |  FROM dist QUALIFY rn = 1),
       |pc AS (
       |  SELECT pr.qid, pr.qq, pr.qv, a.vec_id, a.label, a.cluster, a.v,
       |         CAST(list_sum(list_transform(range(1, 65),
       |           i -> pr.qq[CAST(i AS int)] * pr.qcq[CAST(i AS int)])) AS bigint) AS qc
       |  FROM pr JOIN post a ON a.cluster = pr.qcluster),
       |lk AS (
       |  SELECT pc.qid, pc.vec_id,
       |         CAST(list_sum(list_transform(range(1, 17),
       |           i -> pc.qq[CAST(v.s*16+i AS int)] * v.w[CAST(i AS int)])) AS bigint) AS pp
       |  FROM pc JOIN vcodes v ON v.vec_id = pc.vec_id),
       |lks AS (SELECT qid, vec_id, CAST(sum(pp) AS bigint) AS lksum
       |        FROM lk GROUP BY qid, vec_id),
       |sc AS (
       |  SELECT pc.qid, pc.vec_id, pc.label, pc.cluster, pc.v, pc.qv,
       |         row_number() OVER (PARTITION BY pc.qid
       |           ORDER BY (pc.qc + lks.lksum) DESC, pc.vec_id) AS arn
       |  FROM pc JOIN lks ON lks.qid = pc.qid AND lks.vec_id = pc.vec_id
       |  QUALIFY arn <= 32)
       |SELECT qid,
       |       cast(row_number() OVER (PARTITION BY qid
       |         ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS int) AS rk,
       |       vec_id, label, CAST(cluster AS bigint) AS cluster,
       |       ${cosDuck("v", "qv")} AS sim
       |FROM sc QUALIFY rk <= $topK""".stripMargin

  private[graft] val duckShingles3 =
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1), i -> array_to_string(toks[i:i+2], ' ')))"
  private[graft] val duckShingles4 =
    "list_distinct(list_transform(range(1, greatest(len(toks) - 3, 1) + 1), i -> array_to_string(toks[i:i+3], ' ')))"

  /** The CTE chain (no leading WITH, no final SELECT) replicating the
    * MinHash+LSH pipeline in DuckDB up to `j(doc_a, doc_b, jaccard)` —
    * shared between the pair oracle here and the cluster oracle in
    * [[DedupClusters]]. */
  private[graft] def minhashPairsCte: String = minhashPairsCteFrom("documents")

  /** The same chain over any source relation exposing (doc_id, text) —
    * the `q_lsh_recall` oracle runs it over the audit sample. */
  private[graft] def minhashPairsCteFrom(rel: String): String = {
    val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, x -> ($a * x + $b) % $P)) AS m$i"
    }.mkString(",\n       ")
    val bandSelects = (0 until Bands).map { j =>
      val ms = (0 until RowsPerBand)
        .map(r => s"m${j * RowsPerBand + r}::VARCHAR").mkString(", ")
      s"SELECT doc_id, $j AS band, md5(concat_ws(',', $ms)) AS bkey FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
       |sh AS (SELECT doc_id, $duckShingles3 AS shingles FROM t),
       |hsx AS (SELECT doc_id, list_distinct(list_transform(shingles, s -> ${h60Duck("s")} % $P)) AS hs FROM sh),
       |sig AS (SELECT doc_id, hs,
       |       $sigCols
       |FROM hsx),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT doc_a, doc_b,
       |         len(list_intersect(x.hs, y.hs)) / len(list_distinct(list_concat(x.hs, y.hs))) AS jaccard
       |  FROM pairs JOIN hsx x ON x.doc_id = doc_a JOIN hsx y ON y.doc_id = doc_b)""".stripMargin
  }

  private def minhashOracle: String =
    s"""WITH ${minhashPairsCte}
       |SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** The per-doc `bits`-wide fingerprint vote tally, shared by the
    * fingerprint oracle and both pairs oracles so they can never drift. */
  private def simhashBitsDuckN(bits: Int): String = (0 until bits).map { j =>
    s"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END)"
  }.mkString(" + ")
  private[graft] def simhashBitsDuck: String = simhashBitsDuckN(32)

  private def simhashOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, len(toks) AS n_tokens,
       |             list_transform(toks, t -> ${h60Duck("t")}) AS hs
       |      FROM t)
       |SELECT doc_id, cast(n_tokens AS bigint) AS n_tokens,
       |       cast($simhashBitsDuck AS bigint) AS simhash
       |FROM h ORDER BY doc_id""".stripMargin

  private def simhashPairsOracle: String = simhashPairsOracleN(32, 8)

  private def simhashPairsOracleN(bits: Int, bandBits: Int): String = {
    val mask = (1 << bandBits) - 1
    val bandSelects = (0 until 4).map { j =>
      s"SELECT doc_id, simhash, $j AS band, cast((simhash >> ${bandBits * j}) & $mask AS int) AS bkey FROM f"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, t -> ${h60Duck("t")}) AS hs
       |      FROM t),
       |f AS (SELECT doc_id, cast(${simhashBitsDuckN(bits)} AS bigint) AS simhash FROM h),
       |bands AS (
       |  $bandSelects),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |       cast(bit_count(xor(sh_a, sh_b)) AS bigint) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sh_a, sh_b)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The BM25 scoring CTE chain in DuckDB (no leading WITH, no final
    * SELECT) up to `bm(doc_id, n_hit, score_micro)` — shared by the
    * top-k oracle and the RRF fusion oracle so the scoring arithmetic
    * can never drift between them. Mirrors [[bm25Rank]] literally
    * (k1 = 1.2, b = 0.75, micro-unit quantization before the per-doc
    * sum). */
  private def bm25Cte: String = bm25CteFrom("documents")

  /** The same chain over any relation exposing (doc_id, text) — the
    * `q_bm25_retract` oracle runs it over the survivor corpus. */
  private[graft] def bm25CteFrom(rel: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM $rel),
      |base AS (SELECT doc_id, toks, cast(len(toks) AS bigint) AS dl FROM t),
      |q AS (SELECT * FROM (VALUES ('table'), ('window'), ('agg')) v(token)),
      |tok AS (SELECT doc_id, unnest(toks) AS token FROM base),
      |qtok AS (SELECT tok.doc_id, tok.token FROM tok JOIN q ON tok.token = q.token),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM qtok GROUP BY 1, 2),
      |df AS (SELECT token, count(DISTINCT doc_id) AS df FROM qtok GROUP BY 1),
      |stats AS (SELECT count(*) AS n_docs, cast(sum(dl) AS bigint) AS total_dl
      |          FROM base),
      |scored AS (
      |  SELECT tf.doc_id,
      |         cast(round(cast(tf AS double) * 2.2 /
      |           (cast(tf AS double) + 1.2 * (1 - 0.75 + 0.75 * cast(dl AS double) /
      |           (cast(total_dl AS double) / n_docs))) *
      |           ((cast(n_docs AS double) - cast(df AS double) + 0.5) /
      |           (cast(df AS double) + 0.5)) * 1000000) AS bigint) AS micro
      |  FROM tf JOIN df USING (token)
      |  JOIN base USING (doc_id)
      |  CROSS JOIN stats),
      |bm AS (SELECT doc_id, count(*) AS n_hit,
      |              cast(sum(micro) AS bigint) AS score_micro
      |       FROM scored GROUP BY doc_id)""".stripMargin

  /** The two unrolled Lloyd's iterations in DuckDB (no leading WITH, no
    * final SELECT): up to `u2` (second-iteration per-element means) and
    * `a2` (second-iteration assignment) — shared by the kmeans oracle and
    * the trained-probe oracle so the training arithmetic can never
    * drift between them. `en` carries `label` for the probe tail. */
  private def ivfKmeansCte: String = ivfKmeansCteFrom("embeddings")

  /** The same two unrolled Lloyd's iterations over ANY source relation
    * exposing (vec_id, label, embedding) — the rebuild oracles replay
    * the training over the survivor corpus (r18): `rel` may be a table
    * name or a parenthesized subquery. */
  private def ivfKmeansCteFrom(rel: String): String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM $rel),
      |en AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM en),
      |c0 AS (SELECT CAST(vec_id AS integer) AS cid, v AS cv, nrm AS cnorm
      |       FROM en, kc WHERE vec_id < kv),
      |s1 AS (SELECT en.vec_id, en.v, cid,
      |              row_number() OVER (PARTITION BY en.vec_id
      |                ORDER BY round(list_dot_product(en.v, cv) / (nrm * cnorm), 6) DESC,
      |                         cid) AS rn
      |       FROM en, c0),
      |a1 AS (SELECT vec_id, v, cid FROM s1 WHERE rn = 1),
      |x1 AS (SELECT cid, unnest(generate_series(1, len(v))) AS i,
      |              unnest(v) AS val FROM a1),
      |u1 AS (SELECT cid, i - 1 AS pos,
      |              CAST(sum(CAST(round(val * 1000000.0) AS bigint)) AS double)
      |                / (count(*) * 1000000.0) AS m
      |       FROM x1 GROUP BY cid, i),
      |c1 AS (SELECT cid,
      |              list(CAST(CAST(m AS real) AS double) ORDER BY pos) AS cv
      |       FROM u1 GROUP BY cid),
      |c1n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM c1),
      |s2 AS (SELECT en.vec_id, en.v, cid,
      |              row_number() OVER (PARTITION BY en.vec_id
      |                ORDER BY round(list_dot_product(en.v, cv) / (nrm * cnorm), 6) DESC,
      |                         cid) AS rn
      |       FROM en, c1n),
      |a2 AS (SELECT vec_id, v, cid FROM s2 WHERE rn = 1),
      |x2 AS (SELECT cid, unnest(generate_series(1, len(v))) AS i,
      |              unnest(v) AS val FROM a2),
      |u2 AS (SELECT cid, i - 1 AS pos,
      |              CAST(sum(CAST(round(val * 1000000.0) AS bigint)) AS double)
      |                / (count(*) * 1000000.0) AS m
      |       FROM x2 GROUP BY cid, i)""".stripMargin

  /** One funnel arm of the `q_ann_recall` oracle (no leading WITH):
    * probe selection over the trained `cents`, ADC scoring from the
    * shared `vcodes` stored-code table (centroid term + codeword
    * lookups, exact integer micro²), per-query shortlist, exact cosine
    * re-rank to `re$tag(qid, vec_id, rk)` — the
    * [[VectorIndexQueries.funnelTopK]] arithmetic, arm by arm. */
  private def annRecallArmCte(tag: String, nprobe: Int, shortList: Int,
      topK: Int): String =
    s"""pr$tag AS (
       |  SELECT qid, qv, qq, cid AS qcluster, cq AS qcq,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY ${cosDuck("qv", "cv")} DESC, cid) AS prn
       |  FROM qb, cents QUALIFY prn <= $nprobe),
       |pc$tag AS (
       |  SELECT pr.qid, pr.qq, pr.qv, a.vec_id, a.v,
       |         CAST(list_sum(list_transform(range(1, 65),
       |           i -> pr.qq[CAST(i AS int)] * pr.qcq[CAST(i AS int)])) AS bigint) AS qc
       |  FROM pr$tag pr JOIN assigned a ON a.cluster = pr.qcluster),
       |lk$tag AS (
       |  SELECT pc.qid, pc.vec_id,
       |         CAST(list_sum(list_transform(range(1, 17),
       |           i -> pc.qq[CAST(v.s*16+i AS int)] * v.w[CAST(i AS int)])) AS bigint) AS pp
       |  FROM pc$tag pc JOIN vcodes v ON v.vec_id = pc.vec_id),
       |lks$tag AS (SELECT qid, vec_id, CAST(sum(pp) AS bigint) AS lksum
       |        FROM lk$tag GROUP BY qid, vec_id),
       |sc$tag AS (
       |  SELECT pc.qid, pc.vec_id, pc.v, pc.qv,
       |         row_number() OVER (PARTITION BY pc.qid
       |           ORDER BY (pc.qc + lks.lksum) DESC, pc.vec_id) AS arn
       |  FROM pc$tag pc JOIN lks$tag lks
       |    ON lks.qid = pc.qid AND lks.vec_id = pc.vec_id
       |  QUALIFY arn <= $shortList),
       |re$tag AS (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS rk
       |  FROM sc$tag QUALIFY rk <= $topK)""".stripMargin

  /** The `q_ann_recall` oracle: exact top-10, the trained-cell exact
    * probe, and the two funnel arms, intersected per query — one row per
    * query × method even at zero hits (the method grid LEFT-joins the
    * counts). */
  private def annRecallOracle: String =
    s"""WITH $ivfPqBaseCte,
       |vd AS (SELECT sl.vec_id, sl.s, cb.c, cb.w,
       |       CAST(list_sum(list_transform(range(1, 17),
       |         i -> (sl.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]) *
       |              (sl.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]))) AS bigint) AS dd
       |       FROM sl JOIN cb ON sl.s = cb.s),
       |vcodes AS (SELECT vec_id, s, w,
       |           row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
       |           FROM vd QUALIFY rn = 1),
       |qb AS (SELECT vec_id AS qid, v AS qv, q AS qq, cluster AS qcluster
       |       FROM assigned WHERE vec_id < 5),
       |ex AS (SELECT qb.qid, a.vec_id,
       |         row_number() OVER (PARTITION BY qb.qid
       |           ORDER BY ${cosDuck("a.v", "qb.qv")} DESC, a.vec_id) AS rk
       |       FROM assigned a, qb QUALIFY rk <= 10),
       |iv AS (SELECT qb.qid, a.vec_id,
       |         row_number() OVER (PARTITION BY qb.qid
       |           ORDER BY ${cosDuck("a.v", "qb.qv")} DESC, a.vec_id) AS rk
       |       FROM assigned a JOIN qb ON a.cluster = qb.qcluster
       |       QUALIFY rk <= 10),
       |${annRecallArmCte("1", nprobe = 1, shortList = 32, topK = 10)},
       |${annRecallArmCte("2", nprobe = 2, shortList = 32, topK = 10)},
       |methods AS (SELECT unnest(['ivf','pq','multiprobe']) AS method),
       |hm AS (
       |  SELECT qid, 'ivf' AS method, count(*) AS n
       |  FROM iv JOIN ex USING (qid, vec_id) GROUP BY qid
       |  UNION ALL
       |  SELECT qid, 'pq' AS method, count(*) AS n
       |  FROM re1 JOIN ex USING (qid, vec_id) GROUP BY qid
       |  UNION ALL
       |  SELECT qid, 'multiprobe' AS method, count(*) AS n
       |  FROM re2 JOIN ex USING (qid, vec_id) GROUP BY qid)
       |SELECT qb.qid, m.method, coalesce(hm.n, 0) AS hits
       |FROM qb CROSS JOIN methods m
       |LEFT JOIN hm ON hm.qid = qb.qid AND hm.method = m.method
       |ORDER BY qb.qid, m.method""".stripMargin

  /** The `q_ann_retract` survivor corpus AS A SOURCE RELATION — the
    * rebuild oracles train over it (takedown filter applied at the
    * source), where the retract oracle filters only the postings. */
  private[graft] val survivorRel =
    "(SELECT * FROM embeddings WHERE NOT (vec_id % 7 = 1))"

  /** The `q_ann_rebuild_recall` oracle: multiprobe funnel recall@10
    * BEFORE the rebuild (survivor postings, full-corpus vocabularies —
    * the `q_ann_retract` state) vs AFTER (vocabularies retrained on
    * survivors), both against the exact cosine top-10 over the
    * survivor corpus. Each funnel replay is a complete
    * [[ivfPqFunnelSql]] nested as a derived-table subquery with its
    * own WITH chain — two independent trainings in one statement, no
    * CTE collisions. Output mirrors `q_ann_recall`: one row per
    * query × arm, integer hit counts, zero rows grid-filled. */
  private def annRebuildRecallOracle: String =
    s"""WITH en AS (SELECT vec_id, embedding::DOUBLE[] AS v
       |           FROM $survivorRel),
       |qb AS (SELECT vec_id AS qid, v AS qv FROM en WHERE vec_id < 5),
       |ex AS (SELECT qb.qid, a.vec_id,
       |         row_number() OVER (PARTITION BY qb.qid
       |           ORDER BY ${cosDuck("a.v", "qb.qv")} DESC, a.vec_id) AS rk
       |       FROM en a, qb QUALIFY rk <= 10),
       |bf AS (SELECT qid, vec_id FROM (
       |${ivfPqFunnelSql("embeddings", " WHERE NOT (vec_id % 7 = 1)",
            nQueries = 5, topK = 10)})),
       |af AS (SELECT qid, vec_id FROM (
       |${ivfPqFunnelSql(survivorRel, "", nQueries = 5, topK = 10)})),
       |methods AS (SELECT unnest(['before','after']) AS method),
       |hm AS (
       |  SELECT qid, 'before' AS method, count(*) AS n
       |  FROM bf JOIN ex USING (qid, vec_id) GROUP BY qid
       |  UNION ALL
       |  SELECT qid, 'after' AS method, count(*) AS n
       |  FROM af JOIN ex USING (qid, vec_id) GROUP BY qid)
       |SELECT qb.qid, m.method, coalesce(hm.n, 0) AS hits
       |FROM qb CROSS JOIN methods m
       |LEFT JOIN hm ON hm.qid = qb.qid AND hm.method = m.method
       |ORDER BY qb.qid, m.method""".stripMargin

  /** The batched SEED-centroid bucket-probe oracle (`q_ann_batch`).
    * Until r10 `q_ann_persisted` shared it; the persisted index is now
    * trained, so that oracle replays [[ivfTrainedAssignCte]] instead. */
  private def annBatchOracle: String =
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM e),
       |cents AS (SELECT vec_id AS cid, v AS cv FROM e, kc WHERE vec_id < kv),
       |scored AS (
       |  SELECT e.vec_id, e.label, e.v, cid,
       |         row_number() OVER (PARTITION BY e.vec_id
       |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS rn
       |  FROM e, cents),
       |assigned AS (SELECT vec_id, label, v, cid AS cluster FROM scored WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, cluster AS qcluster, v AS qv
       |      FROM assigned WHERE vec_id < 5)
       |SELECT qid,
       |       cast(row_number() OVER (PARTITION BY qid
       |                               ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS int) AS rk,
       |       vec_id, label, cluster, ${cosDuck("v", "qv")} AS sim
       |FROM assigned, q WHERE cluster = qcluster
       |QUALIFY rk <= 3
       |ORDER BY qid, rk""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q_near_dedup_minhash" -> minhashOracle,
    // The incremental form must agree with the FULL pair set restricted to
    // pairs touching the batch — asserting the probe-side restriction loses
    // no pair the all-pairs join would have found.
    "q_dedup_increment" ->
      s"""WITH ${minhashPairsCte}
         |SELECT doc_a, doc_b, jaccard FROM j
         |WHERE jaccard >= $JaccardThreshold
         |  AND (doc_a % 5 = 4 OR doc_b % 5 = 4)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_sig_index" ->
      s"""WITH ${minhashPairsCte}
         |SELECT doc_id, band, bkey FROM bands
         |ORDER BY doc_id, band""".stripMargin,
    "q_minhash_est" -> {
      val matches = (0 until NumPerms)
        .map(i => s"CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH ${minhashPairsCte},
         |est AS (
         |  SELECT p.doc_a, p.doc_b,
         |         round(($matches) / $NumPerms, 6) AS est_jaccard
         |  FROM pairs p JOIN sig sa ON sa.doc_id = p.doc_a
         |               JOIN sig sb ON sb.doc_id = p.doc_b)
         |SELECT e.doc_a, e.doc_b, e.est_jaccard, j.jaccard
         |FROM est e JOIN j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin
    },
    "q_char_stats" ->
      """SELECT doc_id,
        |       length(text) AS n_chars,
        |       cast(len(string_split(text, ' ')) AS bigint) AS n_tokens,
        |       round((length(text) - (len(string_split(text, ' ')) - 1)) / len(string_split(text, ' ')), 6) AS avg_token_len,
        |       round((length(text) - length(translate(text, 'aeiou', ''))) / length(text), 6) AS vowel_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_ngram_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles4 AS shingles FROM t),
         |h AS (SELECT doc_id,
         |             list_distinct(list_transform(shingles, s -> ${h60Duck("s")})) AS hs
         |      FROM sh),
         |f0 AS (SELECT doc_id, hs, list_min(hs) AS fp FROM h),
         |f AS (SELECT doc_id, hs, fp FROM f0
         |      QUALIFY count(*) OVER (PARTITION BY fp) <= 100),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.hs AS hs_a, b.hs AS hs_b
         |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |       round(len(list_intersect(hs_a, hs_b)) /
         |             len(list_distinct(list_concat(hs_a, hs_b))), 6) AS jaccard
         |FROM pairs
         |WHERE round(len(list_intersect(hs_a, hs_b)) /
         |            len(list_distinct(list_concat(hs_a, hs_b))), 6) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_containment" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles4 AS shingles FROM t),
         |h AS (SELECT doc_id,
         |             list_distinct(list_transform(shingles, s -> ${h60Duck("s")})) AS hs
         |      FROM sh),
         |ex AS (SELECT doc_id, cast(len(hs) AS bigint) AS sz, unnest(hs) AS h FROM h),
         |shared AS (SELECT h FROM ex GROUP BY h
         |           HAVING count(*) >= 2 AND count(*) <= $ContainmentCap),
         |hot AS (SELECT ex.doc_id, ex.sz, ex.h FROM ex JOIN shared USING (h)),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         a.sz AS sz_a, b.sz AS sz_b, count(*) AS n_common
         |  FROM hot a JOIN hot b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2, 3, 4)
         |SELECT doc_a, doc_b, sz_a, sz_b, n_common,
         |       n_common * 1000000 // least(sz_a, sz_b) AS containment_micro
         |FROM p
         |WHERE n_common * 1000000 // least(sz_a, sz_b) >= $ContainmentMicro
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q_lsh_recall" ->
      s"""WITH ${minhashPairsCte},
         |ak AS (SELECT doc_id FROM hsx
         |       ORDER BY ${anchorKeySql("doc_id")}, doc_id
         |       LIMIT $RecallAnchors),
         |smp AS (SELECT h.doc_id AS doc_s, hs AS hs_s
         |        FROM hsx h JOIN ak USING (doc_id)),
         |truth AS (
         |  SELECT least(doc_s, o.doc_id) AS doc_a,
         |         greatest(doc_s, o.doc_id) AS doc_b,
         |         len(list_intersect(hs_s, o.hs)) AS li,
         |         len(list_distinct(list_concat(hs_s, o.hs))) AS lu
         |  FROM smp, hsx o WHERE doc_s <> o.doc_id),
         |tb AS (SELECT DISTINCT doc_a, doc_b, cast(li * 10 // lu AS int) AS bucket
         |       FROM truth WHERE li * 10 >= lu * 7),
         |lsh AS (SELECT doc_a, doc_b FROM j
         |        WHERE jaccard >= $JaccardThreshold
         |          AND (doc_a IN (SELECT doc_id FROM ak)
         |               OR doc_b IN (SELECT doc_id FROM ak)))
         |SELECT bucket, cast(count(*) AS bigint) AS n_true,
         |       cast(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit
         |FROM tb LEFT JOIN lsh l ON tb.doc_a = l.doc_a AND tb.doc_b = l.doc_b
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_decontaminate_emb" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 4),
         |sk AS (
         |  SELECT e.vec_id, e.v,
         |         cast(sum(CASE WHEN list_dot_product(e.v, pv) > 0
         |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
         |  FROM e, planes GROUP BY e.vec_id, e.v),
         |tr AS (SELECT * FROM sk WHERE vec_id % 10 <> 7),
         |ev AS (SELECT * FROM sk WHERE vec_id % 10 = 7),
         |hits AS (
         |  SELECT t.vec_id AS t_id, count(*) AS n_hits,
         |         max(${cosDuck("t.v", "ev.v")}) AS max_sim
         |  FROM tr t JOIN ev ON t.sketch = ev.sketch
         |  WHERE ${cosDuck("t.v", "ev.v")} >= 0.5
         |  GROUP BY t.vec_id)
         |SELECT tr.vec_id, coalesce(h.n_hits, 0) AS n_hits, h.max_sim,
         |       h.t_id IS NULL AS keep
         |FROM tr LEFT JOIN hits h ON tr.vec_id = h.t_id
         |ORDER BY tr.vec_id""".stripMargin,
    "q_emb_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ak AS (SELECT vec_id FROM e
         |       ORDER BY ${anchorKeySql("vec_id")}, vec_id
         |       LIMIT $RecallAnchors),
         |smp AS (SELECT ee.vec_id AS vec_s, v AS vs
         |        FROM e ee JOIN ak USING (vec_id)),
         |tr AS (SELECT least(vec_s, o.vec_id) AS vec_a,
         |              greatest(vec_s, o.vec_id) AS vec_b,
         |              ${cosDuck("vs", "o.v")} AS sim
         |       FROM smp, e o WHERE vec_s <> o.vec_id),
         |tb AS (SELECT DISTINCT vec_a, vec_b,
         |              cast(floor(sim * 10) AS int) AS bucket
         |       FROM tr WHERE sim >= 0.35),
         |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 4),
         |sk AS (
         |  SELECT e.vec_id, e.v,
         |         cast(sum(CASE WHEN list_dot_product(e.v, pv) > 0
         |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
         |  FROM e, planes GROUP BY e.vec_id, e.v),
         |lsh AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
         |  WHERE ${cosDuck("a.v", "b.v")} >= 0.35
         |    AND (a.vec_id IN (SELECT vec_id FROM ak)
         |         OR b.vec_id IN (SELECT vec_id FROM ak)))
         |SELECT bucket, cast(count(*) AS bigint) AS n_true,
         |       cast(sum(CASE WHEN l.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS bigint) AS n_hit
         |FROM tb LEFT JOIN lsh l ON tb.vec_a = l.vec_a AND tb.vec_b = l.vec_b
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_simhash" -> simhashOracle,
    "q_simhash_pairs" -> simhashPairsOracle,
    "q_simhash_wide" -> simhashPairsOracleN(60, 15),
    "q_bm25_topk" ->
      s"""WITH $bm25Cte
         |SELECT doc_id, n_hit, score_micro FROM bm
         |ORDER BY score_micro DESC, doc_id LIMIT 15""".stripMargin,
    "q_rrf_fusion" ->
      s"""WITH $bm25Cte,
         |lex AS (
         |  SELECT doc_id,
         |         cast(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS int) AS lex_rk
         |  FROM (SELECT doc_id, score_micro FROM bm
         |        ORDER BY score_micro DESC, doc_id LIMIT 20)),
         |ev AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qv AS (SELECT v AS qq FROM ev WHERE vec_id = 0),
         |semtop AS (
         |  SELECT vec_id, ${cosDuck("v", "qq")} AS sim
         |  FROM ev, qv ORDER BY sim DESC, vec_id LIMIT 20),
         |sem AS (
         |  SELECT vec_id AS doc_id,
         |         cast(row_number() OVER (ORDER BY sim DESC, vec_id) AS int) AS sem_rk
         |  FROM semtop)
         |SELECT doc_id, lex_rk, sem_rk,
         |       coalesce(cast(round(1000000.0 / (60 + lex_rk)) AS bigint), 0) +
         |       coalesce(cast(round(1000000.0 / (60 + sem_rk)) AS bigint), 0) AS rrf_micro
         |FROM lex FULL JOIN sem USING (doc_id)
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,
    "q_tfidf_terms" ->
      """WITH t AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
        |           FROM documents),
        |tf AS (SELECT lang, token, count(*) AS tf,
        |              count(DISTINCT doc_id) AS df
        |       FROM t GROUP BY lang, token),
        |ln_ AS (SELECT lang, count(DISTINCT doc_id) AS n_docs
        |        FROM documents GROUP BY lang)
        |SELECT tf.lang,
        |       cast(row_number() OVER (PARTITION BY tf.lang
        |                               ORDER BY round(cast(tf AS double) * n_docs / df, 6) DESC,
        |                                        token) AS int) AS rk,
        |       token, tf, df, round(cast(tf AS double) * n_docs / df, 6) AS score
        |FROM tf JOIN ln_ ON tf.lang = ln_.lang
        |QUALIFY rk <= 10
        |ORDER BY tf.lang, rk""".stripMargin,
    "q_emb_near_dup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 4),
         |sk AS (
         |  SELECT e.vec_id, e.v,
         |         cast(sum(CASE WHEN list_dot_product(e.v, pv) > 0
         |                       THEN cast(pow(2, pid) AS bigint) ELSE 0 END) AS bigint) AS sketch
         |  FROM e, planes GROUP BY e.vec_id, e.v)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       ${cosDuck("a.v", "b.v")} AS sim
         |FROM sk a JOIN sk b ON a.sketch = b.sketch AND a.vec_id < b.vec_id
         |WHERE ${cosDuck("a.v", "b.v")} >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin,
    "q_cosine_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, label, ${cosDuck("v", "qv")} AS sim
         |FROM e, q
         |ORDER BY sim DESC, vec_id LIMIT 100""".stripMargin,
    // Cross-modal pairing is vec_id div 2 = item / vec_id % 2 = modality;
    // the inner join mirrors the engine's missing-modality drop.
    "q_crossmodal_filter" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |img AS (SELECT vec_id // 2 AS item_id, v AS iv, label AS img_label
         |        FROM e WHERE vec_id % 2 = 0),
         |txt AS (SELECT vec_id // 2 AS item_id, v AS tv, label AS txt_label
         |        FROM e WHERE vec_id % 2 = 1),
         |scored AS (SELECT item_id, img_label, txt_label,
         |                  ${cosDuck("iv", "tv")} AS clip_score
         |           FROM img JOIN txt USING (item_id))
         |SELECT item_id, img_label, txt_label, clip_score
         |FROM scored WHERE clip_score >= 0.1
         |ORDER BY item_id""".stripMargin,
    "q_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |sc AS (SELECT vec_id, label, v,
         |              list_max(list_transform(v, x -> abs(x))) AS scale FROM e),
         |qz AS (SELECT vec_id, label, v,
         |              CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
         |                   ELSE list_transform(v, x -> round(x * 127 / scale)) END AS qv
         |       FROM sc),
         |q AS (SELECT qv AS qqv, v AS qev FROM qz WHERE vec_id = 0)
         |SELECT vec_id, label,
         |       ${cosDuck("qv", "qqv")} AS approx_sim,
         |       ${cosDuck("v", "qev")} AS sim
         |FROM qz, q
         |ORDER BY approx_sim DESC, vec_id LIMIT 100""".stripMargin,
    "q_pq_topk" ->
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding::DOUBLE[],
        |    x -> CAST(round(x * 1000000.0) AS bigint)) AS q FROM embeddings),
        |es AS (SELECT vec_id, label, q, s,
        |              q[CAST(s*16+1 AS int) : CAST(s*16+16 AS int)] AS vs
        |       FROM e, range(4) t(s)),
        |cb AS (SELECT s, vec_id AS c,
        |              q[CAST(s*16+1 AS int) : CAST(s*16+16 AS int)] AS w
        |       FROM e, range(4) t(s) WHERE vec_id < 16),
        |qr AS (SELECT q AS qfull FROM e WHERE vec_id = 0),
        |qs AS (SELECT s, qfull[CAST(s*16+1 AS int) : CAST(s*16+16 AS int)] AS qv
        |       FROM qr, range(4) t(s)),
        |dist AS (
        |  SELECT es.vec_id, es.s, cb.c,
        |         CAST(list_sum(list_transform(range(1, 17),
        |           i -> (es.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]) *
        |                (es.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]))) AS bigint) AS dd,
        |         CAST(list_sum(list_transform(range(1, 17),
        |           i -> qs.qv[CAST(i AS int)] * cb.w[CAST(i AS int)])) AS bigint) AS pp
        |  FROM es JOIN cb ON es.s = cb.s JOIN qs ON qs.s = es.s),
        |codes AS (
        |  SELECT vec_id, s, c, pp,
        |         row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
        |  FROM dist QUALIFY rn = 1),
        |score AS (
        |  SELECT vec_id,
        |         max(CASE WHEN s = 0 THEN c END) AS code0,
        |         max(CASE WHEN s = 1 THEN c END) AS code1,
        |         max(CASE WHEN s = 2 THEN c END) AS code2,
        |         max(CASE WHEN s = 3 THEN c END) AS code3,
        |         CAST(sum(pp) AS bigint) AS score_micro2
        |  FROM codes GROUP BY vec_id),
        |exact AS (
        |  SELECT e.vec_id, e.label,
        |         CAST(list_sum(list_transform(range(1, 65),
        |           i -> e.q[CAST(i AS int)] * qr.qfull[CAST(i AS int)])) AS bigint) AS exact_micro2
        |  FROM e, qr)
        |SELECT sc.vec_id, x.label, code0, code1, code2, code3,
        |       score_micro2, exact_micro2
        |FROM score sc JOIN exact x ON sc.vec_id = x.vec_id
        |ORDER BY score_micro2 DESC, sc.vec_id LIMIT 10""".stripMargin,
    "q_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM e),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e, kc WHERE vec_id < kv),
         |scored AS (
         |  SELECT e.vec_id, e.label, e.v, cid, ${cosDuck("e.v", "cv")} AS csim,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS rn
         |  FROM e, cents),
         |assigned AS (SELECT vec_id, label, v, cid AS cluster FROM scored WHERE rn = 1),
         |q AS (SELECT cluster AS qcluster, v AS qv FROM assigned WHERE vec_id = 0)
         |SELECT vec_id, label, cluster, ${cosDuck("v", "qv")} AS sim
         |FROM assigned, q WHERE cluster = qcluster
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_ann_batch" -> annBatchOracle,
    // Hard negatives: the annBatch CTE chain with a label-exclusion
    // predicate on the bucket probe — anchors vec_id < 3, top-5 each.
    "q_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM e),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e, kc WHERE vec_id < kv),
         |scored AS (
         |  SELECT e.vec_id, e.label, e.v, cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS rn
         |  FROM e, cents),
         |assigned AS (SELECT vec_id, label, v, cid AS cluster FROM scored WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, label AS qlabel, cluster AS qcluster, v AS qv
         |      FROM assigned WHERE vec_id < 3)
         |SELECT qid,
         |       cast(row_number() OVER (PARTITION BY qid
         |                               ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS int) AS rank,
         |       vec_id, label, ${cosDuck("v", "qv")} AS sim
         |FROM assigned, q WHERE cluster = qcluster AND label <> qlabel
         |QUALIFY rank <= 5
         |ORDER BY qid, rank""".stripMargin,
    // The persisted-index probe returns EXACTLY the in-memory batch
    // The persisted index is TRAINED (r10): the oracle replays the two
    // Lloyd's iterations and probes the trained assignment — q_ann_batch's
    // seed-centroid oracle no longer applies.
    "q_ann_persisted" ->
      s"""WITH $ivfTrainedAssignCte,
         |q AS (SELECT vec_id AS qid, cluster AS qcluster, v AS qv
         |      FROM a3 WHERE vec_id < 5)
         |SELECT qid,
         |       cast(row_number() OVER (PARTITION BY qid
         |                               ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS int) AS rk,
         |       vec_id, label, CAST(cluster AS bigint) AS cluster,
         |       ${cosDuck("v", "qv")} AS sim
         |FROM a3, q WHERE cluster = qcluster
         |QUALIFY rk <= 3
         |ORDER BY qid, rk""".stripMargin,
    // IVF × residual-PQ serving funnel: same assignment CTEs as the ann
    // family, same integer-quantization discipline as q_pq_topk, composed —
    // bucket restriction, stored-code ADC, exact re-rank of the top-32.
    "q_ivf_pq" ->
      s"""WITH $ivfPqBaseCte,
         |qrow AS (SELECT cluster AS qcluster, v AS qv, q AS qq
         |         FROM assigned WHERE vec_id = 0),
         |bs AS (SELECT a.vec_id, t.s,
         |              a.r[CAST(t.s*16+1 AS int) : CAST(t.s*16+16 AS int)] AS vs
         |       FROM assigned a, qrow, range(4) t(s)
         |       WHERE a.cluster = qrow.qcluster),
         |dist AS (
         |  SELECT bs.vec_id, bs.s, cb.c,
         |         CAST(list_sum(list_transform(range(1, 17),
         |           i -> (bs.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]) *
         |                (bs.vs[CAST(i AS int)] - cb.w[CAST(i AS int)]))) AS bigint) AS dd,
         |         CAST(list_sum(list_transform(range(1, 17),
         |           i -> qrow.qq[CAST(bs.s*16+i AS int)] * cb.w[CAST(i AS int)])) AS bigint) AS pp
         |  FROM bs JOIN cb ON bs.s = cb.s, qrow),
         |codes AS (
         |  SELECT vec_id, s, pp,
         |         row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, c) AS rn
         |  FROM dist QUALIFY rn = 1),
         |adc AS (SELECT vec_id, CAST(sum(pp) AS bigint) AS adc_micro2
         |        FROM codes GROUP BY vec_id),
         |cand AS (
         |  SELECT a.vec_id, a.label, a.cluster, adc.adc_micro2, a.v
         |  FROM adc JOIN assigned a USING (vec_id)
         |  ORDER BY adc.adc_micro2 DESC, a.vec_id LIMIT 32)
         |SELECT c.vec_id, c.label, CAST(c.cluster AS bigint) AS cluster,
         |       c.adc_micro2, ${cosDuck("c.v", "qrow.qv")} AS sim
         |FROM cand c, qrow
         |ORDER BY sim DESC, c.vec_id LIMIT 10""".stripMargin,
    // Multi-probe IVF × PQ: the same persisted-index arithmetic, but each
    // of the 3 batch queries probes its TWO nearest cells, and every
    // candidate's ADC carries its own cell's q·c centroid term so scores
    // compare across cells. Per-query top-32 shortlist, exact top-3.
    "q_ivf_pq_multiprobe" -> ivfPqMultiprobeOracle(postingsFilter = ""),
    // Serving after a takedown: the SAME multiprobe funnel (one shared
    // builder — zero drift) over postings filtered to survivors, with
    // the vocabularies still trained on the FULL corpus (vocabulary
    // identity is index identity; retraction never retrains).
    "q_ann_retract" -> ivfPqMultiprobeOracle(
      postingsFilter = " WHERE NOT (vec_id % 7 = 1)"),
    // REBUILD ≡ from-scratch build on the survivor corpus: the funnel
    // with BOTH vocabularies retrained over the filtered relation (the
    // takedown filter applied at the source, not at the postings).
    "q_ann_rebuild" -> (ivfPqFunnelSql(survivorRel, "",
      nQueries = 3, topK = 3) + "\nORDER BY qid, rk"),
    // The rebuild's before/after recall@10: survivor postings under the
    // full corpus's vocabularies (before) vs retrained vocabularies
    // (after), both against the exact top-10 over survivors. The two
    // funnel replays nest as derived-table subqueries — each carries
    // its own WITH chain, so the two trainings can never collide.
    "q_ann_rebuild_recall" -> annRebuildRecallOracle,
    // Recall@10 audit of the trained serving funnel — exact vs cell-only
    // vs single-probe PQ vs 2-probe PQ, as integer hit counts.
    "q_ann_recall" -> annRecallOracle,
    "q_ann_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |kc AS (SELECT CAST(ceil(sqrt(count(*))) AS bigint) AS kv FROM e),
         |cents AS (SELECT vec_id AS cid, v AS cv FROM e, kc WHERE vec_id < kv),
         |scored AS (
         |  SELECT e.vec_id, e.label, e.v, cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS rn
         |  FROM e, cents),
         |assigned AS (SELECT vec_id, label, v, cid AS cluster FROM scored WHERE rn = 1),
         |probes AS (
         |  SELECT e.vec_id AS qid, cid AS qcluster, e.v AS qv,
         |         row_number() OVER (PARTITION BY e.vec_id
         |                            ORDER BY ${cosDuck("e.v", "cv")} DESC, cid) AS prn
         |  FROM e, cents WHERE e.vec_id < 5
         |  QUALIFY prn <= 2)
         |SELECT qid,
         |       cast(row_number() OVER (PARTITION BY qid
         |                               ORDER BY ${cosDuck("v", "qv")} DESC, vec_id) AS int) AS rk,
         |       vec_id, label, cluster, ${cosDuck("v", "qv")} AS sim
         |FROM assigned, probes WHERE cluster = qcluster
         |QUALIFY rk <= 3
         |ORDER BY qid, rk""".stripMargin,
    "q_emb_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |x AS (SELECT label, unnest(generate_series(1, len(v))) AS i,
        |             unnest(v) AS val FROM e),
        |u AS (SELECT label, i - 1 AS pos,
        |             CAST(sum(CAST(round(val * 1000000.0) AS bigint)) AS double)
        |               / (count(*) * 1000000.0) AS m
        |      FROM x GROUP BY label, i),
        |c AS (SELECT label, list(CAST(CAST(m AS real) AS double) ORDER BY pos) AS cv
        |      FROM u GROUP BY label),
        |s AS (SELECT e.vec_id, e.label,
        |             round(list_dot_product(e.v, cv) /
        |               (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cv, cv))), 6) AS csim
        |      FROM e JOIN c USING (label))
        |SELECT label, cast(row_number() OVER (PARTITION BY label
        |                                      ORDER BY csim ASC, vec_id) AS int) AS rk,
        |       vec_id, csim
        |FROM s QUALIFY rk <= 5
        |ORDER BY label, rk""".stripMargin,
    "q_knn_join" ->
      s"""WITH $knnGraphCte
         |SELECT vec_id, rk, nbr_id, cluster, sim FROM knnq
         |ORDER BY vec_id, rk""".stripMargin,
    "q_cluster_quality" ->
      s"""WITH $ivfKmeansCte,
         |c2 AS (SELECT cid,
         |              list(CAST(CAST(m AS real) AS double) ORDER BY pos) AS cv
         |       FROM u2 GROUP BY cid),
         |c2n AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |        FROM c2),
         |s3 AS (SELECT en.vec_id, cid,
         |              round(list_dot_product(en.v, cv) / (nrm * cnorm), 6) AS csim,
         |              row_number() OVER (PARTITION BY en.vec_id
         |                ORDER BY round(list_dot_product(en.v, cv) / (nrm * cnorm), 6) DESC,
         |                         cid) AS rn
         |       FROM en, c2n),
         |own AS (SELECT vec_id, cid,
         |               cast(round(csim * 1000000) AS bigint) AS om
         |        FROM s3 WHERE rn = 1),
         |nxt AS (SELECT vec_id,
         |               cast(round(csim * 1000000) AS bigint) AS nm
         |        FROM s3 WHERE rn = 2)
         |SELECT own.cid, count(*) AS n,
         |       cast(sum(om) // count(*) AS bigint) AS avg_own_micro,
         |       cast(sum(nm) // count(*) AS bigint) AS avg_next_micro,
         |       cast(sum(om) // count(*) AS bigint)
         |         - cast(sum(nm) // count(*) AS bigint) AS sep_micro
         |FROM own JOIN nxt USING (vec_id)
         |GROUP BY own.cid ORDER BY cid""".stripMargin,
    "q_ivf_kmeans" ->
      s"""WITH $ivfKmeansCte,
         |f AS (SELECT cid, pos,
         |             CAST(round(CAST(CAST(m AS real) AS double) * 1000000.0) AS bigint) AS c_q
         |      FROM u2),
         |n2 AS (SELECT cid, count(*) AS n_assigned FROM a2 GROUP BY cid)
         |SELECT f.cid, f.pos, c_q, n_assigned
         |FROM f JOIN n2 ON f.cid = n2.cid
         |ORDER BY f.cid, f.pos""".stripMargin,
    "q_ann_trained" ->
      s"""WITH $ivfTrainedAssignCte,
         |q AS (SELECT cluster AS qcluster, v AS qv FROM a3 WHERE vec_id = 0)
         |SELECT vec_id, label, cluster, ${cosDuck("v", "qv")} AS sim
         |FROM a3, q WHERE cluster = qcluster
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_text_stats" ->
      """WITH t AS (SELECT lang, n_chars, string_split(text, ' ') AS toks FROM documents),
        |stats AS (
        |  SELECT lang, count(*) AS n_docs,
        |         cast(sum(len(toks)) AS bigint) AS n_tokens,
        |         cast(sum(n_chars) AS bigint) AS sum_chars
        |  FROM t GROUP BY lang),
        |uniq AS (
        |  SELECT lang, count(DISTINCT tok) AS n_uniq_tokens
        |  FROM (SELECT lang, unnest(list_distinct(toks)) AS tok FROM t)
        |  GROUP BY lang)
        |SELECT s.lang, n_docs, n_tokens, n_tokens / n_docs AS avg_tokens,
        |       sum_chars, sum_chars / n_docs AS avg_chars, n_uniq_tokens
        |FROM stats s JOIN uniq u ON s.lang = u.lang
        |ORDER BY s.lang""".stripMargin,
    "q_token_count" ->
      s"""WITH t AS (SELECT doc_id, n_chars, text, string_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id, n_chars,
         |       cast(len(toks) AS integer) AS n_ws_tokens,
         |       cast(len(list_distinct(toks)) AS integer) AS n_uniq_tokens,
         |       cast(len(regexp_extract_all(text, '[a-z]+')) AS bigint) AS n_re_tokens,
         |       cast(${graft.functions.BpeCount.duckExpr("text")} AS bigint) AS n_bpe_tokens,
         |       list_sum(list_transform(toks, t2 -> length(t2))) / len(toks) AS avg_token_len
         |FROM t ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |r AS (
        |  SELECT doc_id, cast(len(toks) AS integer) AS n_tokens,
        |         len(list_filter(toks, t2 -> list_contains(['the','a','of','and','to','in'], t2))) / len(toks) AS stop_ratio,
        |         len(list_filter(toks, t2 -> length(t2) <= 2)) / len(toks) AS short_ratio
        |  FROM t)
        |SELECT doc_id, n_tokens, stop_ratio, short_ratio,
        |       round(0.5 * (1.0 - stop_ratio) + 0.3 * (1.0 - short_ratio) + 0.2 * least(n_tokens / 200.0, 1.0), 6) AS score
        |FROM r ORDER BY doc_id""".stripMargin,
    "q_lm_score" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |             unnest(list_transform(range(1, len(toks)), i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS bg
        |      FROM t),
        |b2 AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM b),
        |uni AS (SELECT w1, count(*) AS c1 FROM b2 GROUP BY 1),
        |bi AS (SELECT w1, w2, count(*) AS c12 FROM b2 GROUP BY 1, 2),
        |vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM t)),
        |sc AS (SELECT b2.doc_id,
        |              cast(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS bigint) AS lp
        |       FROM b2 JOIN bi USING (w1, w2) JOIN uni USING (w1) CROSS JOIN vv)
        |SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
        |       round(-sum(lp) / count(*) / 1000000.0, 6) AS avg_nll
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |sc AS (
        |  SELECT doc_id, lang,
        |         cast(len(list_filter(toks, t2 -> list_contains(['the','a','of','and','to','in'], t2))) AS integer) AS s_en,
        |         cast(len(list_filter(toks, t2 -> list_contains(['der','die','das','und','ist'], t2))) AS integer) AS s_de,
        |         cast(len(list_filter(toks, t2 -> list_contains(['el','los','las','y','es'], t2))) AS integer) AS s_es,
        |         cast(len(list_filter(toks, t2 -> list_contains(['le','la','les','et','est'], t2))) AS integer) AS s_fr,
        |         cast(len(list_filter(toks, t2 -> list_contains(['shi','bu','wo'], t2))) AS integer) AS s_zh
        |  FROM t),
        |p AS (
        |  SELECT lang,
        |         CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'und'
        |              WHEN s_en >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        |              WHEN s_de >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        |              WHEN s_es >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        |              WHEN s_fr >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        |              WHEN s_zh >= greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'zh'
        |              ELSE 'und' END AS predicted
        |  FROM sc)
        |SELECT lang, predicted, count(*) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "q_doc_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, $duckShingles4 AS shingles FROM t),
         |fp AS (
         |  SELECT doc_id, cast(len(shingles) AS integer) AS n_shingles,
         |         list_min(list_transform(shingles, s -> ${h60Duck("s")})) AS fingerprint
         |  FROM sh)
         |SELECT doc_id, n_shingles, fingerprint,
         |       count(*) OVER (PARTITION BY fingerprint) AS n_same_fp
         |FROM fp ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       cast(octet_length(text::BLOB) AS integer) AS n_bytes,
        |       md5(text) AS content_hash,
        |       to_base64(substring(text, 1, 8)::BLOB) AS b64_prefix,
        |       source
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
