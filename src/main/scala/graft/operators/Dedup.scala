package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard near-dup detection.
 *
 * Scale design (100 TB):
 *  - exact dedup is one hash-shuffle on the fingerprint — the canonical
 *    map-side-combinable groupBy;
 *  - MinHash and SimHash signatures are computed by EXPLODE + groupBy with
 *    k independent min/sum aggregate columns. This is deliberate: Spark's
 *    higher-order array lambdas (transform/aggregate) are CodegenFallback
 *    — interpreted, and projection collapse re-inlines the shingle
 *    expression into every hash — measured 1000× slower. A hash aggregate
 *    over exploded shingles is whole-stage-codegen'd, combines map-side,
 *    and parallelizes across input splits regardless of file layout;
 *  - near-dup candidates come from an equi-join on LSH band keys — cost is
 *    O(candidates), never O(n²); banding trades recall vs candidates;
 *  - all hashing is xxhash64 + fixed odd-multiplier mixing → deterministic
 *    across runs and cluster layouts, no executor RNG state.
 */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Intermediates persisted by the pair-enumeration entry points below
    * (signature/shingle frames feed 3 consumers each and Spark can't
    * reuse the exchange across them — one lands in a BroadcastExchange —
    * so the operators cache). A long-lived session running many queries
    * must not accumulate those blocks in executor storage, and the
    * operator can't unpersist itself (the caller owns the action that
    * materializes the lazy result). So every internal persist is
    * registered here; call [[releasePersisted]] once the returned pairs
    * are materialized — the same caller-owned lifecycle as
    * [[VariantLoader.LoadResult.unpersist]]. Releasing early only costs
    * recomputation, never correctness. */
  private def trackPersist(df: DataFrame): DataFrame =
    PersistTracker.trackPersist(df)

  /** Unpersist every intermediate cached by dedup (and text-analysis)
    * calls since the last release — delegates to the shared
    * [[PersistTracker]] (idempotent; safe while queries on other threads
    * run — they just recompute). */
  def releasePersisted(): Unit = PersistTracker.releaseAll()

  /** A small corpus arrives as 1-2 parquet splits, which would run the
    * whole shingle/token hashing pass on 1-2 cores (the same pathology
    * VcfSource guards against for single .gz inputs). Re-spread on the
    * id — the signature groupBy key — so the downstream aggregation
    * reuses the partitioning (no second exchange). Big corpora already
    * have enough splits and skip the shuffle. */
  private def spreadSmallInput(df: DataFrame, idCol: String): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < parallelism / 2)
      df.repartition(parallelism, col(idCol))
    else df
  }

  // -------------------------------------------------------------------
  // Exact
  // -------------------------------------------------------------------

  /** Exact dedup: keep the smallest `idCol` per fingerprint group. One
    * shuffle on the fingerprint; survivors flagged, not dropped, so the
    * caller chooses filter vs audit. */
  def exactDedup(df: DataFrame, fingerprint: Column, idCol: Column): DataFrame = {
    val w = Window.partitionBy("__fp").orderBy(idCol)
    df.withColumn("__fp", fingerprint)
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
      .drop("__fp", "dup_rank")
  }

  // -------------------------------------------------------------------
  // MinHash + LSH
  // -------------------------------------------------------------------

  /**
   * MinHash signatures as a DataFrame: `(idCol, sig: array<bigint>)`.
   *
   * Plan: explode shingles → one xxhash64 per shingle → groupBy(id) with
   * `numHashes` min-aggregate columns over per-family re-hashes
   * (`xxhash64(h, i)` — hash-of-hash rather than affine mixing, which
   * would overflow under ANSI arithmetic). Fully codegen'd, map-side
   * combinable, one shuffle on id.
   */
  def minhashSignatures(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int): DataFrame =
    signaturesFromHashes(
      spreadSmallInput(df, idCol)
        .select(col(idCol), explode(shingles).as("__s"))
        .withColumn("__h", xxhash64(col("__s"))),
      idCol, numHashes)

  /**
   * MinHash signatures straight from a text column — ONE fused kernel
   * row per doc ([[graft.functions.SigExpressions.MinhashSigFromText]],
   * r21): the previous explode-over-offsets + `xxhash64(substr)` +
   * typed-aggregate chain paid O(len²) `UTF8String.substring` byte
   * walks per document (no ASCII fast path in Spark 4.1) plus explode
   * and per-row aggregate machinery; the kernel computes bit-identical
   * signatures in one O(len) pass (spec-pinned). The componentwise-min
   * combine keeps exact equivalence when one id spans several rows
   * (per-row minima pool to the multiset minimum). Null-text rows drop,
   * as the exploded form dropped them.
   */
  def minhashSignaturesFromText(df: DataFrame, idCol: String, text: Column,
      n: Int, numHashes: Int): DataFrame = {
    val norm = regexp_replace(trim(lower(text)), "\\s+", " ")
    spreadSmallInput(df, idCol)
      .select(col(idCol), norm.as("__t"))
      .filter(col("__t").isNotNull)
      .select(col(idCol), graft.functions.SigExpressions
        .minhashSigFromText(col("__t"), n, numHashes).as("__rowsig"))
      .groupBy(idCol)
      .agg(graft.functions.MinHashSig.longArrayMin(col("__rowsig"))
        .as("sig"))
  }

  private def signaturesFromHashes(exploded: DataFrame, idCol: String,
      numHashes: Int): DataFrame =
    // ONE typed min-aggregate with a long[k] buffer + double hashing
    // (graft.functions.MinHashSig) — the previous k separate
    // min(xxhash64(h, i)) columns re-hashed every exploded shingle row
    // k times and carried a k-column aggregation buffer
    exploded.groupBy(idCol)
      .agg(graft.functions.MinHashSig.minhashSig(numHashes)(col("__h"))
        .as("sig"))

  /** Estimated Jaccard from two MinHash signatures: the fraction of equal
    * components (native codegen count — the HOF form is interpreted and
    * dominated the candidate-verify stage). */
  def estimatedJaccard(sigA: Column, sigB: Column): Column =
    graft.functions.VectorExpressions.equalComponentCount(sigA, sigB)
      .cast("double") / size(sigA)

  /** LSH band keys from a signature column: hash of each
    * `rowsPerBand`-sized slice. Two documents sharing any band key are
    * candidates. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand), lit(b))): _*)

  /**
   * Hot-bucket guard shared by every LSH-style candidate join: a bucket
   * (band/piece/table key) of size c generates Θ(c²) candidate pairs, so
   * one template family thousands deep — near-identical boilerplate
   * pages, a mirrored site — turns the band join into a full quadratic
   * shuffle on one skewed key: the classic at-scale dedup killer. The
   * guard counts bucket sizes with ONE small aggregate over the (already
   * persisted) key frame and, only when some bucket exceeds `cap`,
   * anti-joins those buckets out of pair enumeration (broadcast — the
   * overflow list is at most |rows|/cap buckets) and WARN-logs exactly
   * what was dropped. When nothing overflows — every well-behaved corpus
   * — the returned plan is the input, untouched: the guard costs one
   * bounded count and zero plan change.
   *
   * Dropping a bucket only suppresses pairs whose EVERY shared bucket
   * overflows — true near-dups usually still meet in a colder band. For
   * the cluster/dedup decision, [[nearDupStarEdgesFromSignatures]] is
   * the lossless linear form; the cap is for consumers where the pair
   * LIST itself is the product and an overflowing bucket means the
   * pair list is quadratically large by construction.
   */
  private def cappedBuckets(keyed: DataFrame, keyCols: Seq[String],
      cap: Int, what: String): DataFrame = {
    if (cap <= 0) return keyed // explicit opt-out
    val over = keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > cap)
      .agg(count(lit(1)).as("nb"), sum("__bsz").as("nr")).head()
    if (over.isNullAt(1) || over.getLong(0) == 0L) keyed
    else {
      log.warn(s"$what: ${over.getLong(0)} bucket(s) over maxBucketSize=" +
        s"$cap (${over.getLong(1)} rows) EXCLUDED from pair enumeration " +
        "— pairs meeting only in overflowed buckets are not emitted; use " +
        "nearDupStarEdgesFromSignatures for the lossless linear form")
      val overKeys = keyed.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz")).filter(col("__bsz") > cap)
        .select(keyCols.map(col): _*)
      keyed.join(broadcast(overKeys), keyCols, "left_anti")
    }
  }

  /**
   * MinHash/LSH near-duplicate pairs `(id_a, id_b, jaccard)` with
   * id_a < id_b and MinHash-estimated Jaccard ≥ `threshold`.
   *
   * Plan shape: signature aggregation (one shuffle) → explode band keys
   * (×bands) → self-equi-join on (band_idx, band_hash) → distinct pairs →
   * signature-estimate filter. Signatures ride through the join; shingle
   * sets are never re-materialized. At scale the join is a hash join on a
   * well-distributed 64-bit key and everything upstream is codegen'd.
   */
  def minhashNearDupPairs(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    nearDupPairsFromSignatures(
      minhashSignatures(df, idCol, shingles, numHashes),
      idCol, numHashes, bands, threshold)

  /** [[minhashNearDupPairs]] over the codegen text-shingling path. */
  def minhashNearDupPairsText(df: DataFrame, idCol: String, text: Column,
      n: Int = 5, numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.7): DataFrame =
    nearDupPairsFromSignatures(
      minhashSignaturesFromText(df, idCol, text, n, numHashes),
      idCol, numHashes, bands, threshold)

  /** Pair enumeration from a precomputed `(idCol, sig: array<bigint>)`
    * frame — public so the oracle battery can feed PORTABLE signatures
    * (the md5/mod-2^60 family DuckDB replays) through the exact same
    * banding join the production xxhash64 path uses.
    *
    * `portableBandKeys = false` (production): band key =
    * `xxhash64(slice, band)` — a narrow 64-bit shuffle key.
    * `portableBandKeys = true` (oracle): band key = the band SLICE
    * itself (array<bigint>) — engine-agnostic, identical semantics
    * modulo xxhash collisions (~2⁻⁶⁴), replayed in DuckDB as
    * `list(mh ORDER BY i)` per band. The key is `rowsPerBand` longs wide
    * instead of one, so production keeps the hashed form.
    *
    * `maxBucketSize` is the hot-bucket guard ([[cappedBuckets]]): band
    * buckets larger than the cap are excluded from pair enumeration
    * with a WARN log (a bucket of size c costs Θ(c²) pairs — at the
    * default cap that is already 10⁸ candidate rows from ONE key). Set
    * 0 to disable. Consumers that need clusters, not the pair list,
    * should use [[nearDupStarEdgesFromSignatures]] instead — linear in
    * bucket size with no exclusions. */
  def nearDupPairsFromSignatures(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      portableBandKeys: Boolean = false,
      maxBucketSize: Int = 10000): DataFrame = {
    // persist: the signature aggregation feeds three consumers (band
    // explode + both sides of the estimate join); released via
    // releasePersisted() once the caller materializes
    val s = trackPersist(sigs)
    val banded = cappedBuckets(
      bandedKeys(s, idCol, numHashes, bands, portableBandKeys),
      Seq("band_idx", "band_hash"), maxBucketSize, "minhash band join")
    val a = banded.select(col("__id").as("id_a"), col("band_idx"),
      col("band_hash"))
    val b = banded.select(col("__id").as("id_b"), col("band_idx"),
      col("band_hash"))
    // candidate pairs carry bare ids: hash-aggregate dedup, no array
    // columns through the self-join (arrays force SortAggregate)
    val pairs = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    pairs
      .join(s.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("jaccard",
        round(estimatedJaccard(col("sig_a"), col("sig_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** `(__id, band_idx, band_hash)` rows for a signature frame — the
    * shared front end of the pair and star-edge enumerators. */
  private def bandedKeys(s: DataFrame, idCol: String, numHashes: Int,
      bands: Int, portableBandKeys: Boolean): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandKeyArr =
      if (portableBandKeys)
        array((0 until bands).map(b =>
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)): _*)
      else lshBandKeys(col("sig"), bands, rowsPerBand)
    s.select(col(idCol).as("__id"),
      posexplode(bandKeyArr).as(Seq("band_idx", "band_hash")))
  }

  /**
   * STAR-EDGE candidate enumeration — the linear-in-bucket-size form of
   * [[nearDupPairsFromSignatures]] for consumers that feed
   * [[connectedComponents]] (cluster-then-drop dedup, leakage-free
   * splits): per (band_idx, band_hash) bucket, every member is edged to
   * the bucket's MINIMUM id (its anchor) instead of to every other
   * member — c−1 edges where the all-pairs form emits c(c−1)/2, so a
   * 5000-deep template family costs 5·10³ edge rows per band instead of
   * 1.25·10⁷, and NO bucket is ever excluded: the guard the pair form
   * needs ([[cappedBuckets]]) is unnecessary here because the work is
   * linear by construction.
   *
   * Semantics: each star edge is verified against `threshold` exactly
   * like a pair edge (estimated Jaccard, 4dp-rounded). On the candidate
   * graph (no verification) star edges connect exactly the same
   * components as all-pairs edges — every bucket member reaches every
   * other through the anchor. WITH verification the two forms can
   * differ on mixed buckets (a, b verify against each other but not
   * against the anchor); on template families — the case the guard
   * exists for — members are near-identical, every anchor edge
   * verifies, and the components are identical (spec-checked on a
   * planted family). This anchored-verification semantic is the
   * deterministic, engine-replayable contract; production MinHash dedup
   * at scale (CCNet/RefinedWeb-style) typically skips verification
   * entirely, which star edges also express: set `threshold` ≤ 0.
   *
   * Plan shape: band explode → per-bucket min (map-side-combinable
   * hash aggregate, |buckets| rows) → one equi-join of the tiny anchor
   * frame back onto the banded rows (same key, same partitioning — the
   * exchange is reused) → distinct (anchor, member) edges → signature
   * verify joins bounded by edge count.
   *
   * @return `(id_a, id_b, jaccard)` — id_a the anchor (min id), so
   *         id_a < id_b; one row per verified star edge
   */
  def nearDupStarEdgesFromSignatures(sigs: DataFrame, idCol: String,
      numHashes: Int, bands: Int, threshold: Double,
      portableBandKeys: Boolean = false): DataFrame = {
    val s = trackPersist(sigs)
    val banded = bandedKeys(s, idCol, numHashes, bands, portableBandKeys)
    val anchors = banded.groupBy("band_idx", "band_hash")
      .agg(min("__id").as("__anchor"))
    val edges = banded.join(anchors, Seq("band_idx", "band_hash"))
      .filter(col("__id") =!= col("__anchor"))
      .select(col("__anchor").as("id_a"), col("__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    edges
      .join(s.select(col(idCol).as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(s.select(col(idCol).as("id_b"), col("sig").as("sig_b")), "id_b")
      .withColumn("jaccard",
        round(estimatedJaccard(col("sig_a"), col("sig_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * Exact-verified variant: LSH candidates re-checked with true Jaccard
   * over the shingle sets (joined back by id — candidates only, so the
   * array work is bounded by candidate count, not corpus size).
   */
  def minhashNearDupPairsExact(df: DataFrame, idCol: String, shingles: Column,
      numHashes: Int = 128, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val candidates = minhashNearDupPairs(df, idCol, shingles, numHashes,
      bands, threshold * 0.5) // loose estimate gate, exact verify below
    val sh = df.select(col(idCol).as("__sid"), shingles.as("__sh"))
    candidates
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  /**
   * 64-bit SimHash as a DataFrame: `(idCol, simhash: bigint)`. Bit b is
   * set when the sum over tokens of ±1 (bit b of xxhash64(token)) is
   * positive. Explode + ONE typed vote aggregate
   * ([[graft.functions.SimhashVotes]], a `long[64]` buffer updated
   * imperatively) — the previous 64 `sum(when(...))` columns evaluated 64
   * expressions per exploded token and carried a 64-column aggregation
   * buffer, which dominated q25. Same explode rationale as
   * [[minhashSignatures]]: higher-order array lambdas don't codegen.
   */
  def simhashes(df: DataFrame, idCol: String, tokensCol: Column): DataFrame =
    spreadSmallInput(df, idCol)
      .select(col(idCol), explode(tokensCol).as("__t"))
      .groupBy(idCol)
      .agg(graft.functions.SimhashVotes.simhashBits(xxhash64(col("__t")))
        .as("simhash"))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash near-dup pairs: the 64-bit hash is cut into `maxHamming + 1`
   * contiguous pieces; by pigeonhole, any pair within Hamming distance
   * `maxHamming` agrees EXACTLY on ≥1 piece, so sharing a (piece_idx,
   * piece) key is a complete candidate filter — recall 1.0 by
   * construction at any `maxHamming` ≤ 20ish. Candidates are verified by
   * exact Hamming distance. Note the cost trade: more pieces means
   * narrower keys (64/(h+1) bits), so precision — and candidate count —
   * degrades as `maxHamming` grows; past ~20 the keys are so short the
   * join approaches all-pairs.
   */
  def simhashNearDupPairs(df: DataFrame, idCol: String, tokensCol: Column,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromHashes(simhashes(df, idCol, tokensCol), idCol,
      numBits = 64, maxHamming)

  /** Pair enumeration from a precomputed `(idCol, simhash)` frame —
    * public so the oracle battery can feed a PORTABLE simhash (votes
    * over md5-prefix token hashes, 60 bits, which DuckDB replays in
    * plain SQL) through the same pigeonhole-piece blocking join the
    * production 64-bit xxhash path uses. */
  def simhashPairsFromHashes(simhashFrame: DataFrame, idCol: String,
      numBits: Int, maxHamming: Int,
      maxBucketSize: Int = 10000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32), got $maxHamming")
    require(numBits > 0 && numBits <= 64,
      s"numBits must be in (0, 64], got $numBits")
    val pieces = maxHamming + 1
    // piece widths as even as possible: numBits = sum(widths)
    val widths = (0 until pieces).map(i =>
      numBits / pieces + (if (i < numBits % pieces) 1 else 0))
    val pieceOffsets = widths.scanLeft(0)(_ + _)
    def mask(width: Int): Long = if (width >= 64) -1L else (1L << width) - 1
    // persist + bare-id candidate join, same rationale as the minhash
    // path: the signature aggregation feeds three consumers and the
    // candidate dedup should hash, not sort
    val sh = trackPersist(simhashFrame)
    val keyed = cappedBuckets(sh.select(col(idCol).as("__id"),
      posexplode(array((0 until pieces).map(k =>
        shiftright(col("simhash"), pieceOffsets(k))
          .bitwiseAND(mask(widths(k)))): _*))
        .as(Seq("piece_idx", "piece"))),
      Seq("piece_idx", "piece"), maxBucketSize, "simhash piece join")
    val a = keyed.select(col("__id").as("id_a"), col("piece_idx"), col("piece"))
    val b = keyed.select(col("__id").as("id_b"), col("piece_idx"), col("piece"))
    a.join(b, Seq("piece_idx", "piece"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .join(sh.select(col(idCol).as("id_a"), col("simhash").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("simhash").as("sh_b")), "id_b")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup
  // -------------------------------------------------------------------

  /**
   * Exact embedding near-dup pairs `(id_a, id_b, cosine)` with
   * cosine ≥ threshold, id_a < id_b — BLOCK-PARTITIONED all-pairs.
   *
   * An exact cosine θ-join at a low threshold is Ω(n²) by its OUTPUT:
   * on near-random corpora the qualifying pairs are themselves a fixed
   * fraction of all pairs (≈0.8% of n²/2 on the test embeddings at 0.30),
   * so no algorithm — LSH included — avoids quadratic work; LSH pruning
   * only pays above ~0.7 where angles are small (see
   * [[embeddingNearDupPairs]]). What CAN be engineered is the SHAPE of
   * the quadratic work. Deterministic hash blocks + triangle enumeration
   * of block pairs give:
   *  - bounded task memory: one (block_i × block_j) product per task,
   *    never a whole side resident (the old crossJoin broadcast the
   *    entire corpus to every task);
   *  - even parallelism: B(B+1)/2 independent tasks regardless of file
   *    layout (a small parquet corpus otherwise runs a cross join on its
   *    1-2 input splits — measured 2-core utilization at sf0.1);
   *  - shuffle volume ≈ n·B vector rows, tunable: B ≈ 2× cores on one
   *    machine, ≈ n / rows-per-task on a cluster.
   */
  def embeddingNearDupPairsExact(df: DataFrame, idCol: String,
      vecCol: Column, threshold: Double, numBlocks: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val tasks = (for (i <- 0 until numBlocks; j <- i until numBlocks)
      yield (i, j)).toDF("__bi", "__bj")
    val v = df.select(col(idCol).as("__id"), vecCol.as("__v"),
      pmod(xxhash64(col(idCol)), lit(numBlocks)).cast("int").as("__blk"))
    val a = v.join(broadcast(tasks), col("__blk") === col("__bi"))
      .select(col("__bi"), col("__bj"),
        col("__id").as("id_a"), col("__v").as("__va"))
    val b = v.join(broadcast(tasks), col("__blk") === col("__bj"))
      .select(col("__bi").as("__bi_r"), col("__bj").as("__bj_r"),
        col("__id").as("id_b"), col("__v").as("__vb"))
    a.join(b, col("__bi") === col("__bi_r") && col("__bj") === col("__bj_r"))
      // a same-block pair meets twice (both orders): keep one. A
      // cross-block pair meets exactly once, in block — not id — order:
      // keep it and canonicalize the id order in the projection.
      .filter(col("__bi") =!= col("__bj") || col("id_a") < col("id_b"))
      .withColumn("cosine", round(
        graft.functions.VectorExpressions.cosineSim(col("__va"), col("__vb")), 4))
      .filter(col("cosine") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cosine"))
  }

  /**
   * Approximate embedding near-dup pairs via multi-table sign-bit LSH:
   * candidates share a bucket in some table (one narrow key pass,
   * equi-join on (table, key)), then exact-cosine verification. Linear in
   * candidates — the 100 TB path for true near-duplicates (threshold
   * ≳ 0.7; below that the candidate set degenerates toward all pairs and
   * [[embeddingNearDupPairsExact]] is the honest tool). Recall is tuned
   * by (numPlanes, numTables): more planes → fewer false candidates,
   * more tables → higher recall. The defaults (8, 24) hold recall 1.0
   * for pair cosine ≥ 0.8 on the test corpora at BOTH verification
   * scales — deterministic, seeded hyperplanes, so this is a measured
   * guarantee for this data, not a probability (verified in Battery q41
   * against a DuckDB all-pairs oracle; the plane/table sweep, last in
   * 53a609c and recorded in NOTES: at sf0.1 the candidate pass scores 10.5% of all pairs,
   * and misses appear only at ≤16 tables or ≥10 planes).
   *
   * Plan shape: keys in ONE native-expression pass (posexplode to
   * (table, key) rows) → bare-id self-equi-join → hash-aggregate pair
   * dedup → vectors joined back ONLY for surviving candidates (wide
   * array columns never ride the candidate join — they forced
   * SortAggregate dedup and quadratic row width before).
   */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: Column,
      dim: Int, threshold: Double, numPlanes: Int = 8,
      numTables: Int = 24, maxBucketSize: Int = 10000): DataFrame = {
    val tables = (0 until numTables)
      .map(t => Similarity.hyperplanes(dim, numPlanes, seed = 911L + t))
    // persist: feeds the key pass and both vector-fetch joins. Spread
    // first (r21): a small embedding corpus arrives as 1 parquet split
    // and the whole key/verify pipeline ran on 1-2 cores (r21 job
    // count, 53a609c: q41 ran 11 stages over 21 total tasks)
    val v = trackPersist(spreadSmallInput(df, idCol)
      .select(col(idCol).as("__id"), vecCol.as("__v")))
    val keyed = cappedBuckets(v.select(col("__id"),
      posexplode(Similarity.lshKeysAllTables(col("__v"), tables))
        .as(Seq("table", "key"))),
      Seq("table", "key"), maxBucketSize, "embedding LSH table join")
    val a = keyed.select(col("__id").as("id_a"), col("table"), col("key"))
    val b = keyed.select(col("__id").as("id_b"), col("table"), col("key"))
    val pairs = a.join(b, Seq("table", "key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
    pairs
      .join(v.select(col("__id").as("id_a"), col("__v").as("__va")), "id_a")
      .join(v.select(col("__id").as("id_b"), col("__v").as("__vb")), "id_b")
      .withColumn("cosine", round(
        graft.functions.VectorExpressions.cosineSim(col("__va"), col("__vb")), 4))
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  // -------------------------------------------------------------------
  // n-gram Jaccard (exact, bounded)
  // -------------------------------------------------------------------

  /**
   * EXACT n-gram Jaccard similarity join with positional prefix
   * filtering (the all-pairs similarity search pruning of Bayardo,
   * Ma & Srikant, WWW'07 — public knowledge): order every document's
   * shingles by GLOBAL RARITY (ascending document frequency), index only
   * each document's first `m - ⌈t·m⌉ + 1` shingles, and generate
   * candidates from the inverted index over those prefixes.
   *
   * Why this is still exact: jaccard(a,b) ≥ t ⟹ |a∩b| ≥ t·|a∪b| ≥
   * t·max(|a|,|b|), and two sets whose overlap is that large MUST share
   * an element inside both rarity-ordered prefixes (pigeonhole on the
   * suffix sizes). Why it's fast: prefixes hold the RAREST shingles, so
   * inverted-index postings — and candidate pairs, which grow with the
   * square of posting length — collapse; on the tiny-vocabulary test
   * corpus this took the sf0.1 candidate verify from ~6M to ~10⁴ pairs.
   * Every candidate is verified with the true Jaccard over full shingle
   * sets, so output is threshold-exact either way.
   */
  def ngramJaccardPairs(df: DataFrame, idCol: String, shingles: Column,
      threshold: Double): DataFrame = {
    // Shingle STRINGS are hashed to longs once per document (xxhash64 —
    // deterministic; a collision would need ~2^64 shingles) and never
    // touched again: the inverted index joins on a long key and the
    // per-candidate verify merge-walks sorted long arrays — set sizes,
    // and hence Jaccard, are unchanged. This generic entry pays ONE
    // interpreted HOF pass (transform+distinct per document) to accept
    // an arbitrary shingle column; [[ngramJaccardPairsText]] is the
    // all-codegen path for the common shingle-the-text case.
    val sh = trackPersist(df.select(col(idCol).as("__sid"),
      sort_array(array_distinct(transform(shingles, s => xxhash64(s))))
        .as("__sh")))
    pairsFromHashedShingles(sh, threshold)
  }

  /**
   * [[ngramJaccardPairs]] straight from a text column: word `n`-gram
   * shingles are generated, hashed, and set-aggregated in codegen
   * explode/aggregate stages. The generic Column path evaluates an
   * interpreted HOF chain per shingle — measured 7.5 s of a 22 s q40 at
   * sf0.1 just to produce the shingle arrays; this path does the same
   * work inside WholeStageCodegen spans and one hash aggregation.
   * Documents with fewer than `n` tokens contribute one whole-text
   * shingle, matching [[TextAnalysis.wordShingles]].
   */
  def ngramJaccardPairsText(df: DataFrame, idCol: String, text: Column,
      n: Int, threshold: Double): DataFrame =
    pairsFromHashedShingles(hashedShingleSetsText(df, idCol, text, n),
      threshold)

  /** Per-document SORTED distinct word-`n`-gram hash sets (`(__sid,
    * __sh)`, persisted): the shared front end of the Jaccard and
    * containment joins. All stages are codegen explode/aggregate — see
    * [[ngramJaccardPairsText]]'s scaladoc for why this beats the
    * interpreted HOF chain. Documents with fewer than `n` tokens
    * contribute one whole-text shingle. */
  private def hashedShingleSetsText(df: DataFrame, idCol: String,
      text: Column, n: Int): DataFrame = {
    // tokens materialized behind an exchange so projection collapse
    // can't re-inline the regex split into the kernel call; the
    // per-doc shingle SET is row-local (r21, guide §2.4): one
    // WordGramHashSet kernel pass replaces explode → per-gram
    // concat_ws/xxhash64 → groupBy(__sid) collect_set — the
    // corpus-scale regroup exchange and the ObjectHashAggregate are
    // gone, output bit-identical (spec-pinned; the coalesce preserves
    // the old form's hash-of-empty gram for null token arrays)
    val toks = df.select(col(idCol).as("__sid"),
      coalesce(graft.operators.TextAnalysis.tokens(lower(text)),
        array().cast("array<string>")).as("__t"))
      .repartition(col("__sid"))
    trackPersist(toks.select(col("__sid"),
      graft.functions.GramExpressions.wordGramHashSet(col("__t"), n)
        .as("__sh")))
  }

  /**
   * EXACT n-gram CONTAINMENT join (directional near-dup):
   * `containment(a→b) = |S_a ∩ S_b| / |S_a|` over distinct word
   * `n`-gram sets — flags a document whose grams sit mostly inside
   * another document (verbatim quotation, subset scrape, boilerplate
   * wrapping), the asymmetric class a symmetric Jaccard threshold
   * structurally misses when |b| ≫ |a| (the union in the denominator
   * dilutes it). Broder's containment measure — public knowledge.
   *
   * The threshold is a RATIONAL `num/den`, so the required-overlap
   * ceiling (`req_a = ⌈m_a·num/den⌉`) and the verify predicate
   * (`inter·den ≥ m_a·num`) are exact integer arithmetic — no
   * float-boundary loss between candidate generation and verification,
   * and the DuckDB oracle replays bit-for-bit.
   *
   * One-sided prefix filter: with grams ordered by global rarity,
   * containment ≥ num/den forces overlap ≥ req_a, so a's first
   * `m_a − req_a + 1` grams must share ≥ 1 element with b (pigeonhole
   * on a's suffix alone — lossless for ANY shared order, unlike the
   * symmetric Bayardo filter). Probe side = a's prefixes (its RAREST
   * grams → short postings); build side = full ranked postings, so the
   * same ppjoin positional upper bound `min(pa,pb) + min(ma−pa, mb−pb)`
   * prunes before the merge-walk verify. 100 TB shape: candidates are
   * bare id pairs; full gram arrays are joined back only for survivors.
   *
   * @return ordered pairs `(id_a, id_b, containment)` — id_a is the
   *         CONTAINED document; both directions surface when both pass
   */
  def containmentPairsText(df: DataFrame, idCol: String, text: Column,
      n: Int, num: Int, den: Int): DataFrame = {
    require(n >= 1 && num > 0 && den > 0 && num <= den,
      s"need n>=1 and a threshold num/den in (0,1]; got ($n, $num/$den)")
    val sh = hashedShingleSetsText(df, idCol, text, n)
    val inv = sh.select(col("__sid"), size(col("__sh")).as("__m"),
      explode(col("__sh")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("__df"))
    // both the probe prefixes and the full build postings scan this frame
    val ranked = trackPersist(inv.join(dfreq, Seq("shingle"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__sid").orderBy(col("__df"), col("shingle"))))
      .select(col("__sid"), col("shingle"), col("__rk"), col("__m")))
    def ceilDiv(c: Column): Column =
      floor((c * num + (den - 1)) / den).cast("int")
    val a = ranked
      .filter(col("__rk") <= col("__m") - ceilDiv(col("__m")) + 1)
      .select(col("__sid").as("id_a"), col("shingle"),
        col("__rk").as("__rka"), col("__m").as("__ma"))
    val b = ranked.select(col("__sid").as("id_b"), col("shingle"),
      col("__rk").as("__rkb"), col("__m").as("__mb"))
    val reqA = ceilDiv(col("__ma"))
    val ubound = least(col("__rka"), col("__rkb")) +
      least(col("__ma") - col("__rka"), col("__mb") - col("__rkb"))
    val inter = graft.functions.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("__mb") >= reqA)
      .filter(ubound >= reqA)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("__inter", inter)
      .filter(col("__inter") * den >= size(col("sh_a")) * num)
      .withColumn("containment",
        round(col("__inter").cast("double") / size(col("sh_a")), 4))
      .select("id_a", "id_b", "containment")
  }

  /** Shared tail of the exact Jaccard join: `sh` is `(__sid, __sh)` with
    * `__sh` a SORTED, duplicate-free array of shingle hashes (persisted
    * by the caller — it feeds the inverted index and both verify joins).
    * Prefix-filtered candidate generation, then a native merge-walk
    * intersection count per candidate (no per-row hash sets). */
  private def pairsFromHashedShingles(sh: DataFrame,
      threshold: Double): DataFrame = {
    val inv = sh.select(col("__sid"), size(col("__sh")).as("__m"),
      explode(col("__sh")).as("shingle"))
    val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("__df"))
    // persisted: both sides of the candidate self-join scan this frame, and
    // without the cache the whole dfreq-join + per-doc window subtree is
    // planned (and executed) twice — measured as two identical Window
    // stages in the q40 physical plan
    val prefix = trackPersist(inv.join(dfreq, Seq("shingle"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__sid").orderBy(col("__df"), col("shingle"))))
      .filter(col("__rk") <=
        col("__m") - ceil(lit(threshold) * col("__m")).cast("int") + 1)
      .select(col("__sid"), col("shingle"), col("__rk"), col("__m")))
    val a = prefix.select(col("__sid").as("id_a"), col("shingle"),
      col("__rk").as("__rka"), col("__m").as("__ma"))
    val b = prefix.select(col("__sid").as("id_b"), col("shingle"),
      col("__rk").as("__rkb"), col("__m").as("__mb"))
    val inter = graft.functions.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b"))
    // Positional pruning (the ppjoin refinement of the same Bayardo/Xiao
    // line of work — public knowledge): jaccard ≥ t needs overlap
    // i ≥ t/(1+t)·(ma+mb). For a shared token at rarity ranks (pa, pb),
    // overlap ≤ min(pa,pb)−1 (before it) + 1 (itself) + min(ma−pa, mb−pb)
    // (after it) — valid for EVERY shared token, so keeping a pair when
    // ANY of its shared prefix rows passes is exact. Also the size
    // filter: min(ma,mb) ≥ t·max(ma,mb). Both use a threshold relaxed by
    // 1e-4 so a pair whose verify-stage round(jaccard, 4) lands exactly
    // on t can never be pruned by unrounded bound arithmetic.
    val tEff = threshold - 1e-4
    val required = lit(tEff / (1 + tEff)) * (col("__ma") + col("__mb"))
    val ubound = least(col("__rka"), col("__rkb")) +
      least(col("__ma") - col("__rka"), col("__mb") - col("__rkb"))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__ma"), col("__mb")) >=
        lit(tEff) * greatest(col("__ma"), col("__mb")))
      .filter(ubound >= required)
      .select("id_a", "id_b").dropDuplicates("id_a", "id_b")
      .join(sh.select(col("__sid").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(sh.select(col("__sid").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("__inter", inter)
      .withColumn("jaccard", round(col("__inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("__inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------------
  // Clustering: pairs → components → canonical docs
  // -------------------------------------------------------------------

  /**
   * Connected components over a near-dup pair list — the step every
   * at-scale dedup pipeline needs between pair enumeration (LSH/SimHash/
   * Jaccard above, which emit EDGES) and the actual drop decision (which
   * needs CLUSTERS: near-duplication is transitive in intent, A~B and
   * B~C must collapse to one kept document even when A~C was never
   * enumerated).
   *
   * Algorithm: iterative min-label propagation. Every node starts
   * labeled with its own id; each round every node takes the min of its
   * own label and its neighbors' labels; fixpoint = every node carries
   * the minimum id of its component. Rounds needed = the graph diameter,
   * and near-dup graphs are dense little cliques-with-bridges (diameter
   * a handful), so this converges in 2-4 rounds in practice — the
   * O(log n) large-star/small-star variant (Kiveris et al., public
   * knowledge) only pays off on adversarial long-chain graphs that
   * near-dup edges do not produce.
   *
   * Scale shape per round: one shuffle join (labels into the
   * pre-partitioned symmetric edge list) + one min-aggregate — both
   * map-side combinable, state is exactly |V| (id, label) longs, and
   * convergence is detected from the aggregate's monotone label sum
   * (labels only ever decrease; an unchanged sum IS the fixpoint — no
   * extra old-vs-new join). Each round's labels are persisted and the
   * previous round released, so lineage stays one round deep.
   *
   * Strategy routing (the same honest small-side guard as the interval
   * join): near-dup pair lists are usually MINUSCULE next to the corpus
   * (the whole point of deduplication), so up to `maxDriverEdges` the
   * pairs are collected and solved with union-find on the driver — one
   * bounded ≤16 MB collect, zero fixpoint rounds — and the result
   * broadcast-joins back onto the corpus. Beyond the bound, the
   * distributed min-label loop runs. Both paths compute the identical
   * min-id labeling (spec-asserted).
   *
   * @param pairs edges `(idA, idB)` from any pair enumerator above
   * @param nodes one row per document id (ids absent from `pairs` come
   *              out as singleton components — callers want "every doc
   *              gets a cluster", not "every matched doc")
   * @param maxDriverEdges union-find routing bound; 0 forces the
   *                       distributed loop
   * @return `(id, component)` where component = min id reachable
   */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      idCol: String = "doc_id", idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25, maxDriverEdges: Int = 1000000): DataFrame = {
    val p = trackPersist(pairs.select(col(idA).cast("long").as("__pa"),
      col(idB).cast("long").as("__pb")))
    val take = p.head(maxDriverEdges + 1)
    if (take.length <= maxDriverEdges) {
      // driver union-find with path compression; parent map is ≤2·|E|
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x // compress
        while (parent.getOrDefault(c, c) != c) {
          val nxt = parent.get(c); parent.put(c, r); c = nxt
        }
        r
      }
      take.foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { // union under the SMALLER root = min-id labeling
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val labels = take.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .distinct.map(id => id -> find(id))
      val session = nodes.sparkSession
      import session.implicits._
      val labelDf = session.createDataset(labels.toSeq)
        .toDF(idCol, "__comp")
      return nodes.select(col(idCol))
        .join(broadcast(labelDf), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("__comp"), col(idCol)).as("component"))
    }
    val edges = trackPersist(
      p.select(col("__pa").as("__src"), col("__pb").as("__dst"))
        .union(p.select(col("__pb").as("__src"), col("__pa").as("__dst")))
        .repartition(col("__src")))
    // Only nodes INCIDENT TO AN EDGE iterate: a node in no pair is its
    // own component by definition. In a dedup corpus that is almost
    // every document, so the loop's per-round state is proportional to
    // the PAIR LIST, not the corpus — at 10^10 docs with 10^7 near-dup
    // pairs the fixpoint iteration touches 2×10^7 labels, and the
    // untouched 99.8% of the corpus never enters a round. Singletons are
    // folded back with one left join at the end.
    // convergence metric: labels only ever DECREASE, so an unchanged
    // label sum is exactly the fixpoint. Decimal(38,0) sum: exact, and
    // cannot overflow-throw under ANSI at any realistic id space (a long
    // sum would at ~10^10 ids)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)")))
        .head().getDecimal(0)) // null on an empty pair list
        .getOrElse(java.math.BigDecimal.ZERO)
    var labels = edges.select(col("__src").as("__id")).distinct()
      .select(col("__id"), col("__id").as("component"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val msgs = edges
        .join(labels.withColumnRenamed("__id", "__src"), "__src")
        .select(col("__dst").as("__id"), col("component"))
      val next = labels.union(msgs)
        .groupBy("__id").agg(min("component").as("component"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      it += 1
    }
    // already persisted by the loop; register for releasePersisted()
    PersistTracker.track(labels)
    nodes.select(col(idCol))
      .join(labels.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /**
   * Canonical-document selection over [[connectedComponents]] output:
   * keep the lowest id of every cluster (the component label itself),
   * flag the rest as duplicates to drop. Pure projection — no extra
   * shuffle beyond the CC rounds.
   */
  def canonicalByComponent(cc: DataFrame, idCol: String = "doc_id"): DataFrame =
    cc.withColumn("is_canonical",
      (col(idCol) === col("component")).cast("int"))

  /**
   * Canonical-document selection by QUALITY instead of id: per cluster,
   * keep the member with the highest `score` (ties to the lowest id, so
   * the choice is deterministic). What production dedup actually wants —
   * [[canonicalByComponent]]'s keep-lowest-id is the cheap default; this
   * keeps the longest/cleanest member. One window over the CC output.
   */
  def canonicalByScore(cc: DataFrame, score: Column,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("component").orderBy(score.desc, col(idCol))
    cc.withColumn("is_canonical",
      (row_number().over(w) === 1).cast("int"))
  }

  /**
   * Benchmark decontamination: flag training documents that share any
   * word `n`-gram with a benchmark/eval set — the standard contamination
   * check run before training so eval numbers stay meaningful. Returns
   * `(idCol, n_hits)` for contaminated training docs (n_hits = how many
   * DISTINCT benchmark n-grams the doc contains).
   *
   * Scale shape: the benchmark side is small by definition — its
   * distinct n-gram hashes BROADCAST, so the corpus pass is one narrow
   * explode + broadcast semi-join + per-doc count: no corpus shuffle
   * beyond the final count. Hashes are md5-based (portable, oracle-
   * replayable), grams are lowercase whitespace tokens joined by one
   * space — the same normalization on both sides.
   */
  def contaminationFlags(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, text: Column, n: Int = 8): DataFrame = {
    val benchGrams = wordGramHashes(benchmark, col(idCol), text, n)
      .select("__g").distinct()
    wordGramHashes(corpus, col(idCol), text, n)
      .join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col("__id").as(idCol))
      .agg(count_distinct(col("__g")).as("n_hits"))
  }

  /**
   * Semantic (embedding-space) decontamination — [[contaminationFlags]]'
   * sibling for paraphrased leakage that shares no word n-gram with the
   * benchmark: flag every corpus vector whose cosine against ANY
   * benchmark vector reaches `threshold`. This is the SemDeDup-style
   * complement to q54's lexical gate (public knowledge: embedding-based
   * contamination checks in LLM data work).
   *
   * Scale shape: the benchmark side is small by definition (an eval
   * suite) — it is collected once and the argmax runs as ONE
   * corpus-linear [[graft.functions.VectorExpressions.topCells]](n=1)
   * kernel pass (r21): the previous crossJoin form materialized
   * |corpus|×|bench| scored rows and its `max(struct)` fell to
   * SortAggregate (struct buffers are not hash-aggregable), sorting
   * that whole product per partition before the per-doc collapse. The
   * kernel keeps the cosine arithmetic verbatim (same element loop
   * order, Spark `round(·, 4)` via round4) and its (cos DESC, id ASC)
   * insertion order IS `max(struct(cos, −id))`; no shuffle remains at
   * all — the pass is a narrow projection.
   *
   * Determinism: cosine rounded 4 dp BEFORE the max, ties on the
   * rounded value broken toward the LOWEST benchmark id, and the flag
   * compares the rounded value — every decision is engine-replayable.
   *
   * @return (idCol, max_cos, nearest_bench, contaminated 0/1)
   */
  def semanticDecontam(corpus: DataFrame, idCol: String, vecCol: String,
      benchmark: DataFrame, benchIdCol: String, benchVecCol: String,
      threshold: Double): DataFrame = {
    val bench = benchmark
      .select(col(benchIdCol).cast("long").as("__bid"),
        col(benchVecCol).as("__bvec"))
      .collect()
    if (bench.isEmpty)
      // the crossJoin form emitted no rows against an empty benchmark
      return corpus.filter(lit(false))
        .select(col(idCol), lit(0.0).as("max_cos"),
          lit(0L).as("nearest_bench"), lit(0).as("contaminated"))
    val cents: Seq[(Long, Seq[Double])] = bench.toSeq.map { r =>
      r.getLong(0) ->
        r.getSeq[Number](1).map(_.doubleValue()).toSeq
    }
    val best = element_at(graft.functions.VectorExpressions
      .topCells(col(vecCol), cents, 1), 1)
    corpus.select(col(idCol), best.as("__m"))
      .select(col(idCol),
        col("__m.cos").as("max_cos"),
        col("__m.cell").as("nearest_bench"),
        (col("__m.cos") >= threshold).cast("int").as("contaminated"))
  }

  /** `(__id, __g)` — md5 hashes of lowercase word `n`-grams, the shared
    * kernel of [[contaminationFlags]] and [[dedupAgainstCorpus]]. */
  private def wordGramHashes(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    // kept as the exploded expression chain: a fused per-doc md5-gram
    // kernel (r21) measured strictly SLOWER here (q54 0.41→0.52 s) —
    // unlike the hash-SET kernel above there is no exchange to remove
    // (grams feed a join, not a per-doc regroup), so the kernel only
    // traded streaming Generate rows for materializing every gram's
    // 32-char hex in a per-doc array
    val toks = graft.operators.TextAnalysis.tokens(lower(text))
    df.select(id.as("__id"), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col("__id"), col("__t"),
        explode(sequence(lit(1), size(col("__t")) - (n - 1))).as("__i"))
      .select(col("__id"),
        md5(concat_ws(" ",
          (0 until n).map(j => element_at(col("__t"), col("__i") + j)): _*))
          .as("__g"))
  }

  /**
   * Incremental dedup: the rows of `incoming` that survive against an
   * EXISTING corpus — what every recurring crawl runs before appending
   * a new batch. Two gates, both engine-portable:
   *
   *  1. exact — drop incoming docs whose normalized-text fingerprint
   *     ([[graft.operators.TextAnalysis.fingerprint]]) already exists;
   *  2. near-dup — drop incoming docs sharing ≥ `minHits` distinct word
   *     `n`-gram hashes with any existing doc.
   *
   * Unlike [[contaminationFlags]] (benchmark side small by definition →
   * broadcast), the existing side here is the FULL corpus: its distinct
   * fingerprints and gram hashes flow through plain hash joins keyed on
   * the hash — at scale both are bucketed-store-friendly (the corpus
   * side can be written pre-bucketed on the hash so only the incoming
   * batch shuffles, the same pattern as the variant store's dedup join).
   * Only incoming-vs-existing is deduplicated; compose with
   * [[exactDedup]] for intra-batch duplicates.
   */
  def dedupAgainstCorpus(incoming: DataFrame, existing: DataFrame,
      idCol: String, text: Column, n: Int = 8, minHits: Int = 1): DataFrame =
    dedupAgainstIndex(incoming,
      corpusIndex(existing, idCol, text, n), idCol, text, n, minHits)

  /**
   * The corpus side of [[dedupAgainstIndex]], derived ONCE: distinct
   * normalized-text fingerprints and distinct word `n`-gram hashes.
   * This is the piece that must NOT be recomputed per batch — at 100 TB
   * the whole point of incremental dedup is that the corpus index is
   * built when the corpus is, then only probed. Build it here, persist
   * it (or write both frames bucketed on their hash via
   * [[graft.sources.BucketedTables]] so batch probes shuffle only the
   * batch), and reuse across every incoming crawl.
   */
  case class CorpusIndex(fingerprints: DataFrame, gramHashes: DataFrame,
      minhash: Option[MinHashBandIndex] = None)

  /**
   * The optional MinHash/LSH side of a [[CorpusIndex]] — incremental
   * parity with the batch near-dup ladder: the exact + word-gram gates
   * catch copies and substring overlap; this gate catches the Jaccard
   * near-dup class ([[minhashNearDupPairs]]) for batches arriving AFTER
   * the corpus was indexed, without ever re-scanning the corpus. (The
   * reference's own dedup is incremental against the already-loaded
   * store — HrdpVariants.java:410-450 — so the incremental surface
   * should cover the engine's WHOLE dedup ladder, not just two rungs.)
   *
   * Two persisted frames, the classic LSH index layout:
   *  - `bands` `(band_idx, band_key, __mid)` — candidate generation; at
   *    scale write it bucketed on `band_key` so only the batch shuffles;
   *  - `sigs` `(__mid, sig: array<bigint>)` — verification, probed only
   *    for candidate ids. `__mid` is the indexed doc id cast to string
   *    (it only ever joins bands↔sigs internally, so one static type
   *    keeps the at-rest schema independent of the caller's id type).
   *
   * `signatureOf(df, idCol, text)` must produce `(idCol, sig)` with the
   * SAME hash family the index was built with — production default is
   * [[minhashSignaturesFromText]]; the oracle battery feeds the
   * portable md5/mod-2^60 family. `portableBandKeys` mirrors
   * [[nearDupPairsFromSignatures]]: slice-array keys any engine
   * replays, or the narrow hashed production key.
   */
  case class MinHashBandIndex(
      sigs: DataFrame, bands: DataFrame,
      numHashes: Int, numBands: Int, threshold: Double,
      signatureOf: (DataFrame, String, Column) => DataFrame,
      portableBandKeys: Boolean = false) {
    require(numHashes % numBands == 0, "numBands must divide numHashes")
    /** Band-key array for one signature, matching the index's key form. */
    def bandKeysOf(sig: Column): Column = {
      val rowsPerBand = numHashes / numBands
      if (portableBandKeys)
        array((0 until numBands).map(b =>
          slice(sig, b * rowsPerBand + 1, rowsPerBand)): _*)
      else lshBandKeys(sig, numBands, rowsPerBand)
    }
  }

  /** Build a [[MinHashBandIndex]] over a corpus: one signature pass
    * (persisted — it feeds both frames), bands derived by explode. Both
    * frames registered for [[releasePersisted]]. */
  def minhashBandIndex(corpus: DataFrame, idCol: String, text: Column,
      numHashes: Int = 128, numBands: Int = 16, threshold: Double = 0.7,
      shingleN: Int = 5,
      signatureOf: (DataFrame, String, Column) => DataFrame = null,
      portableBandKeys: Boolean = false): MinHashBandIndex = {
    val sigFn = Option(signatureOf).getOrElse(
      (df: DataFrame, id: String, t: Column) =>
        minhashSignaturesFromText(df, id, t, shingleN, numHashes))
    val sigs = trackPersist(sigFn(corpus, idCol, text)
      .select(col(idCol).cast("string").as("__mid"), col("sig")))
    val idx = MinHashBandIndex(sigs, sigs, numHashes, numBands, threshold,
      sigFn, portableBandKeys)
    val bands = trackPersist(sigs
      .select(col("__mid"), posexplode(idx.bandKeysOf(col("sig")))
        .as(Seq("band_idx", "band_key")))
      .select("band_idx", "band_key", "__mid"))
    idx.copy(bands = bands)
  }

  /** The ids of `incoming` rows that near-duplicate an indexed doc:
    * band-key equi-join for candidates (bare ids through the join),
    * then signature-estimate verification at `threshold` (4dp-rounded —
    * the engine-portable arithmetic the whole ANN family uses). Only
    * candidate ids ever touch the signature frames.
    *
    * `maxProbePerBucket` guards the index side of the band join: a hot
    * index bucket (template family c deep) would hand EVERY colliding
    * incoming doc c candidates to verify. Buckets over the cap are
    * trimmed to their `maxProbePerBucket` LOWEST-`__mid` members
    * (deterministic), with a WARN log. A miss requires an incoming doc
    * whose only verifying matches all rank past the cap inside every
    * shared bucket — a bucket that deep and that internally dissimilar
    * is not a real corpus shape (bucket membership already implies a
    * shared band of the signature). When nothing overflows — one small
    * count against the bands frame — the plan is unchanged. Set 0 to
    * disable. */
  def minhashSuppressedIds(incoming: DataFrame, mh: MinHashBandIndex,
      idCol: String, text: Column,
      maxProbePerBucket: Int = 10000): DataFrame = {
    val incSigs = trackPersist(mh.signatureOf(incoming, idCol, text)
      .select(col(idCol).as("__iid"), col("sig").as("__isig")))
    val bands: DataFrame =
      if (maxProbePerBucket <= 0) mh.bands
      else {
        val over = mh.bands.groupBy("band_idx", "band_key")
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxProbePerBucket)
          .agg(count(lit(1)).as("nb"), sum("__bsz").as("nr")).head()
        if (over.isNullAt(1) || over.getLong(0) == 0L) mh.bands
        else {
          log.warn(s"minhash band index probe: ${over.getLong(0)} " +
            s"bucket(s) over maxProbePerBucket=$maxProbePerBucket " +
            s"(${over.getLong(1)} rows) trimmed to their lowest-id " +
            "members for verification")
          mh.bands.withColumn("__rk", row_number().over(
              Window.partitionBy("band_idx", "band_key").orderBy("__mid")))
            .filter(col("__rk") <= maxProbePerBucket).drop("__rk")
        }
      }
    val cand = incSigs
      .select(col("__iid"), posexplode(mh.bandKeysOf(col("__isig")))
        .as(Seq("band_idx", "band_key")))
      .join(bands, Seq("band_idx", "band_key"))
      .select("__iid", "__mid").distinct()
    cand
      .join(mh.sigs, "__mid")
      .join(incSigs, "__iid")
      .filter(round(estimatedJaccard(col("__isig"), col("sig")), 4)
        >= mh.threshold)
      .select(col("__iid").as(idCol)).distinct()
  }

  /** Derive a [[CorpusIndex]]; the shared `(id, text)` slice is
    * persisted so fingerprints and grams cost one corpus scan, and both
    * index frames are registered for [[releasePersisted]] (each is read
    * by the batch probe AND any caller reuse). */
  def corpusIndex(existing: DataFrame, idCol: String, text: Column,
      n: Int = 8): CorpusIndex = {
    val base = trackPersist(existing
      .select(col(idCol).as("__cid"), text.as("__ctext")))
    val (fps, grams) = indexEntries(base, "__cid", col("__ctext"), n)
    CorpusIndex(trackPersist(fps), trackPersist(grams))
  }

  /** The raw [[CorpusIndex]] rows for one document slice — `(__fp)` and
    * `(__g)` frames, each distinct. This is the unit an INCREMENTAL
    * index maintains: derive entries for each admitted batch and append
    * them to the persisted index ([[graft.streaming.DedupIngest]]). */
  def indexEntries(df: DataFrame, idCol: String, text: Column,
      n: Int = 8): (DataFrame, DataFrame) = (
    df.select(graft.operators.TextAnalysis.fingerprint(text).as("__fp"))
      .distinct(),
    wordGramHashes(df, col(idCol), text, n).select("__g").distinct())

  /** [[dedupAgainstCorpus]] against a prepared [[CorpusIndex]] — the
    * incremental form: only the incoming batch is scanned. Gates run
    * cheapest-first (exact fingerprint → word-gram overlap → optional
    * MinHash bands), each only over the previous gate's survivors. */
  def dedupAgainstIndex(incoming: DataFrame, index: CorpusIndex,
      idCol: String, text: Column, n: Int = 8, minHits: Int = 1): DataFrame = {
    require(minHits >= 1, "minHits must be >= 1")
    // persisted: the survivors feed the gram pass AND the final anti-join
    val exactSurvivors = trackPersist(incoming
      .withColumn("__fp", graft.operators.TextAnalysis.fingerprint(text))
      .join(index.fingerprints, Seq("__fp"), "left_anti")
      .drop("__fp"))
    val flagged = wordGramHashes(exactSurvivors, col(idCol), text, n)
      .join(index.gramHashes, Seq("__g"))
      .groupBy("__id")
      .agg(count_distinct(col("__g")).as("__hits"))
      .filter(col("__hits") >= minHits)
      .select(col("__id").as(idCol))
    val gated = exactSurvivors.join(flagged, Seq(idCol), "left_anti")
    index.minhash.fold(gated) { mh =>
      // persisted: feeds the signature pass and the final anti-join
      val g = trackPersist(gated)
      g.join(minhashSuppressedIds(g, mh, idCol, text), Seq(idCol),
        "left_anti")
    }
  }

  /**
   * Corpus snapshot diff — the version-audit companion of the
   * incremental surface: classify every doc id across two corpus
   * versions as `added` (new only), `removed` (old only), `changed`
   * (both, content fingerprint differs), or `unchanged`. The recurring-
   * crawl bookkeeping query: what did this refresh actually do, and is
   * the churn rate sane before the expensive downstream stages run?
   *
   * One id-keyed full-outer hash join over (id, md5) projections —
   * text never moves, only fingerprints. At 100 TB, store versions
   * bucketed on the id ([[graft.sources.BucketedTables]]) and the join
   * needs no shuffle at all.
   *
   * @return `(idCol, status)` — one row per id in either version
   */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame, idCol: String,
      text: Column): DataFrame = {
    val fp = graft.operators.TextAnalysis.fingerprint(text)
    val a = oldDocs.select(col(idCol), fp.as("__fa"))
    val b = newDocs.select(col(idCol), fp.as("__fb"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__fa").isNull, lit("added"))
          .when(col("__fb").isNull, lit("removed"))
          .when(col("__fa") === col("__fb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /**
   * Semantic deduplication over an embedding column (the SemDeDup shape
   * — Abbas et al. 2023, public knowledge): cluster the corpus with the
   * deterministic k-means ([[graft.operators.Clustering]]), enumerate
   * near-duplicate pairs ONLY within each cluster (quantized cosine ≥
   * `threshold`, 4dp-rounded — the same engine-portable arithmetic as
   * the ANN family), collapse pairs into components, and keep the
   * lowest-id member of each as canonical.
   *
   * The cluster blocking is what makes this O(Σ|cluster|²) instead of
   * O(n²), and WITHIN each cluster the quadratic stage runs as
   * [[embeddingNearDupPairsExact]]-style triangle tasks — the join key
   * is (cluster, block_i, block_j), so a skewed giant cluster spreads
   * over `numBlocks·(numBlocks+1)/2` bounded tasks instead of one
   * quadratic straggler. A pair whose endpoints fall in different
   * clusters is missed BY DESIGN (the SemDeDup trade — recall is
   * bounded by the clustering; raise `k`'s quality via `iters`, or run
   * [[embeddingNearDupPairsExact]] when exactness matters more than
   * the blocking).
   *
   * Deterministic end-to-end: k-means is integer-sum Lloyd from fixed
   * seeds, cosines are quantized + rounded, components are min-id
   * labels, canonical = lowest id. The oracle replays every stage.
   *
   * @return `(idCol, cluster, component, is_canonical)` — one row per
   *         corpus vector
   */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding", numBlocks: Int = 8): DataFrame = {
    import graft.functions.VectorExpressions.{cosineSim, quantizeInt8}
    val spark = corpus.sparkSession
    import spark.implicits._
    val sums = Clustering.kmeansCentroidSums(corpus, k, iters, idCol, vecCol)
    // one quantization pass joined to its cluster — persisted: both
    // sides of the pair join and the final labeling read it
    val assigned = trackPersist(
      Clustering.assignClusters(corpus, sums, idCol, vecCol)
        .select(col(idCol), col("cluster"))
        .join(corpus.select(col(idCol),
          quantizeInt8(col(vecCol)).cast("array<double>").as("__q")),
          Seq(idCol)))
    // triangle tasks WITHIN each cluster: join key (cluster, bi, bj)
    // bounds task size even when one cluster dominates the corpus
    val tasks = (for (i <- 0 until numBlocks; j <- i until numBlocks)
      yield (i, j)).toDF("__bi", "__bj")
    val v = assigned.withColumn("__blk",
      pmod(xxhash64(col(idCol)), lit(numBlocks)).cast("int"))
    val a = v.join(broadcast(tasks), col("__blk") === col("__bi"))
      .select(col("cluster"), col("__bi"), col("__bj"),
        col(idCol).as("id_a"), col("__q").as("__qa"))
    val b = v.join(broadcast(tasks), col("__blk") === col("__bj"))
      .select(col("cluster"), col("__bi"), col("__bj"),
        col(idCol).as("id_b"), col("__q").as("__qb"))
    val pairs = a.join(b, Seq("cluster", "__bi", "__bj"))
      // same-block pairs meet twice (both orders): keep one; cross-block
      // pairs meet once in block order — canonicalize ids on projection
      .filter(col("__bi") =!= col("__bj") || col("id_a") < col("id_b"))
      .filter(round(cosineSim(col("__qa"), col("__qb")), 4) >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    connectedComponents(pairs, corpus.select(col(idCol)), idCol)
      .join(assigned.select(col(idCol), col("cluster")), Seq(idCol))
      .select(col(idCol), col("cluster"), col("component"),
        (col(idCol) === col("component")).cast("int").as("is_canonical"))
  }

  /**
   * Corpus-overlap monitoring via per-group MinHash sketches: one
   * `k`-component signature per `key` (source, crawl snapshot, dataset
   * version) over its DISTINCT document fingerprints; pairwise
   * component-agreement fraction estimates the Jaccard of the groups'
   * document sets (the classic MinHash estimator, Broder — public
   * knowledge). The dataset-versioning / crawl-overlap dashboard query:
   * which sources re-crawl each other's documents, how much a new
   * snapshot overlaps the old one.
   *
   * Portable arithmetic end-to-end — md5-derived components,
   * min-aggregated per (key, component), so any engine replays the
   * estimate EXACTLY (no float hashing). Scale shape: one distinct over
   * (key, fingerprint), one k-way explode + min hash-agg (map-side
   * combinable), and a |keys|²·k sketch join — never |docs|².
   *
   * @return `(key_a, key_b, est_jaccard)` for every unordered key pair,
   *         estimate rounded 4dp
   */
  def groupMinHashSimilarity(df: DataFrame, key: Column, text: Column,
      k: Int = 16): DataFrame = {
    require(k >= 1 && k <= 256, s"k in [1,256], got $k")
    val fps = df.select(key.as("__k"),
      graft.operators.TextAnalysis.fingerprint(text).as("__fp")).distinct()
    val comps = fps
      .select(col("__k"), col("__fp"),
        explode(sequence(lit(0), lit(k - 1))).as("__i"))
      .select(col("__k"), col("__i"),
        graft.functions.SigExpressions.md5Prefix60(concat(col("__fp"),
          lit(":"), col("__i").cast("string"))).as("__h"))
      .groupBy("__k", "__i").agg(min(col("__h")).as("__m"))
    val a = comps.select(col("__k").as("key_a"), col("__i"),
      col("__m").as("__ma"))
    val b = comps.select(col("__k").as("key_b"), col("__i"),
      col("__m").as("__mb"))
    a.join(b, Seq("__i")).filter(col("key_a") < col("key_b"))
      .groupBy("key_a", "key_b")
      .agg(round(avg(when(col("__ma") === col("__mb"), 1.0)
        .otherwise(0.0)), 4).as("est_jaccard"))
  }

  /**
   * Per-key quota capping: keep at most `n` rows per `key`, preferring
   * the highest `order` (ties broken by lowest `idCol` for determinism).
   * The training-data use: bound any one domain/source's contribution to
   * the corpus so a crawl-heavy site can't dominate the mixture.
   *
   * One hash shuffle on `key` + an in-partition sort — no global sort.
   * Skewed keys (one domain with 10⁹ docs) sort within one partition;
   * for that regime pre-filter with an approximate per-key count and
   * salt, but at quota sizes worth training on the plain window is the
   * right default.
   */
  def capPerKey(df: DataFrame, key: Column, order: Column, idCol: Column,
      n: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.desc, idCol)
    df.withColumn("__qr", row_number().over(w))
      .filter(col("__qr") <= n)
      .drop("__qr")
  }
}
