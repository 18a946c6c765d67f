package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic sampling and dataset splitting for training-data
 * pipelines. Everything here is a pure hash of (id, salt) — no RNG, no
 * executor state — so the assignment is reproducible across runs,
 * cluster layouts, and engines:
 *
 *  - the same document lands in the same split on every run (a training
 *    pipeline re-run after adding data must not migrate old docs between
 *    train and test — that leaks test data into training);
 *  - downsampling a 100 TB corpus to x% is a narrow codegen'd filter —
 *    no shuffle, no sort, pushdown-friendly, trivially resumable;
 *  - the salt namespaces independent experiments: a new salt is a fresh
 *    independent assignment, same salt reproduces the old one.
 *
 * The hash is the md5-prefix → BIGINT device used across the battery's
 * oracle-checked queries (portable: any engine with md5 replays it
 * bit-for-bit), spread over a 1e6 bucket space so fractions down to
 * 0.0001% stay exact.
 */
object Sampling {

  /** Range-partition width for the two-pass partition-offset devices:
    * `0` (every caller's default) scales with the session's scheduler
    * width instead of a constant pinned to one box — the published
    * ranks/offsets are partitioning-invariant by construction (the
    * driver prefix-sum globalizes them), so this only sizes the
    * per-partition window tasks. Pass an explicit value to replay a
    * pinned layout. */
  private[operators] def autoParts(df: DataFrame, numParts: Int): Int =
    if (numParts > 0) numParts
    else math.max(df.sparkSession.sparkContext.defaultParallelism, 1)

  val Buckets = 1000000L

  /** Uniform bucket in `[0, Buckets)` from (id, salt) — the md5 prefix
    * is 60 bits, far beyond the 2^20 bucket space, so bucket skew from
    * the modulus is ~2^-40. */
  def hashBucket(id: Column, salt: String): Column =
    pmod(graft.functions.SigExpressions.md5Prefix60(
      concat(id.cast("string"), lit(":" + salt))), lit(Buckets))

  /**
   * Train/validation/test assignment: `fracs` are (name, weight) in
   * order; weights are normalized over their sum. A doc's split is the
   * first range its bucket falls into, so enlarging one split later only
   * moves docs INTO it from its right neighbor — never shuffles the
   * whole assignment.
   */
  def assignSplit(df: DataFrame, id: Column, salt: String,
      fracs: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
        "test" -> 0.1)): DataFrame = {
    require(fracs.nonEmpty && fracs.forall(_._2 > 0), "positive weights")
    val total = fracs.map(_._2).sum
    val cuts = fracs.scanLeft(0.0) { case (acc, (_, w)) => acc + w / total }
      .map(f => math.round(f * Buckets))
    val b = hashBucket(id, salt)
    val expr = fracs.zip(cuts.drop(1)).reverse
      .foldLeft(lit(fracs.last._1)) { case (els, ((name, _), hi)) =>
        when(b < hi, lit(name)).otherwise(els)
      }
    df.withColumn("split", expr)
  }

  /**
   * Near-dup-aware (leakage-free) split assignment: hash the dup-cluster
   * COMPONENT, not the document, so a near-duplicate pair can never
   * straddle train and test — the eval-leakage failure a doc-level
   * split cannot rule out (a test doc's near-copy sitting in train
   * inflates eval). `cc` is [[graft.operators.Dedup.connectedComponents]]
   * output (id, component); every member of a cluster inherits the
   * cluster's split, and singleton components degenerate to the
   * doc-level [[assignSplit]] they would have had under the component
   * id. Same determinism contract: adding new docs (new components)
   * never migrates old clusters between splits.
   */
  def componentSplit(cc: DataFrame, componentCol: String, salt: String,
      fracs: Seq[(String, Double)] = Seq("train" -> 0.8, "val" -> 0.1,
        "test" -> 0.1)): DataFrame =
    assignSplit(cc, col(componentCol), salt, fracs)

  /** Keep a deterministic `fraction` of rows: bucket < fraction·1e6.
    * Nested samples: a 1% sample is a strict subset of the 10% sample at
    * the same salt — exactly what staged scaling experiments want. */
  def deterministicSample(df: DataFrame, id: Column, fraction: Double,
      salt: String): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.filter(hashBucket(id, salt) < math.round(fraction * Buckets))
  }

  /**
   * Per-key percentile gate: keep rows whose `score` reaches their
   * key's interpolated `pct` percentile — DYNAMIC per-group quality
   * thresholds (per-language, per-source) instead of one global cutoff,
   * which over-filters low-resource keys whose score distributions sit
   * lower. Cutoffs are rounded 4dp so the comparison is engine-exact.
   *
   * One per-key exact-percentile aggregate (|keys| rows, broadcast
   * back) + a narrow filter: the corpus shuffles only for the
   * aggregation's partial merge.
   */
  def percentileGate(df: DataFrame, key: Column, score: Column,
      pct: Double): DataFrame = {
    require(pct > 0 && pct < 1, s"pct in (0,1), got $pct")
    val cuts = df.groupBy(key.as("__gk"))
      .agg(round(percentile(score, lit(pct)), 4).as("__cut"))
    df.join(broadcast(cuts), key === col("__gk"))
      .filter(score >= col("__cut"))
      .drop("__gk", "__cut")
  }

  /**
   * Deterministic training-order key for one epoch: the md5 bucket of
   * `(id, "salt:e<epoch>")`. Sorting by `(key, id)` is a reproducible
   * corpus-wide shuffle — the same permutation on every engine, run,
   * and cluster layout, and a fresh independent one each epoch (the
   * property data-order-reproducible training needs; an RNG shuffle
   * gives neither). Sorting rides Spark's range-partitioned total sort;
   * a bounded prefix (`orderBy(key, id).limit(k)`) plans as distributed
   * TakeOrdered — no single-partition window anywhere.
   */
  def epochKey(id: Column, epoch: Int, salt: String): Column =
    hashBucket(id, s"$salt:e$epoch")

  /**
   * Stratified deterministic sampling: each key (language, source,
   * quality band) keeps its own fraction — the `sampleBy` of this
   * engine, but hash-stable (re-runs keep the same rows; a fraction
   * raised later only ADDS rows, never swaps them — the nesting
   * property of [[deterministicSample]] per stratum). Keys absent from
   * `fractions` keep `defaultFraction`.
   *
   * A broadcast of |fractions| cutoffs + one narrow codegen filter: the
   * corpus never shuffles.
   */
  def stratifiedSample(df: DataFrame, key: Column, id: Column,
      fractions: Map[String, Double], salt: String,
      defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction))
      .forall(f => f >= 0 && f <= 1), "fractions in [0,1]")
    val cut = fractions.foldLeft(lit(math.round(defaultFraction * Buckets))) {
      case (els, (k, f)) =>
        when(key === lit(k), lit(math.round(f * Buckets))).otherwise(els)
    }
    df.filter(hashBucket(id, salt) < cut)
  }

  /**
   * Per-row weighted Bernoulli keep: a row survives with probability
   * `weight` (clamped to [0,1]) — quality-score-proportional
   * downsampling where every row carries its own keep probability.
   * Same determinism contract as the rest of the family: the kept set
   * is a pure function of (id, salt, weight), and raising a row's
   * weight can only keep it, never evict it.
   */
  def weightedSample(df: DataFrame, id: Column, weight: Column,
      salt: String): DataFrame =
    df.filter(hashBucket(id, salt) <
      round(least(greatest(weight, lit(0.0)), lit(1.0)) * Buckets))

  /**
   * Token-budget mixture sampling: hit a TOTAL token budget at a target
   * mixture over sources — "1M tokens at web:code:books = 5:3:2" — by
   * turning each source's desired share into a deterministic hash
   * cutoff. `weights` are INTEGER mixture weights, and every cutoff is
   * exact integer arithmetic (`Buckets·budget·w ÷ (W·avail)`, BigInt —
   * no doubles anywhere), so any engine replays the plan bit-for-bit. A
   * source whose available tokens fall short of its share is clamped to
   * fully-kept; with `waterFill = false` the unused share is reported by
   * the caller's accounting (kept tokens < budget), with
   * `waterFill = true` it is redistributed over the unsaturated sources
   * at their relative weights (the classic water-filling fixpoint, ≤
   * |keys| driver-side rounds over a |keys|-sized table). Keys absent
   * from `weights` are dropped.
   *
   * Scale shape: one per-key token-sum aggregate (|keys| rows collected
   * — the only driver state), then the [[stratifiedSample]] plan: a
   * broadcast-free narrow codegen filter; the corpus never shuffles.
   * Kept token counts are binomial around the target, like
   * [[balanceMixture]].
   */
  def budgetMixture(df: DataFrame, key: Column, id: Column, tokens: Column,
      weights: Map[String, Long], budget: Long, salt: String,
      waterFill: Boolean = false): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "positive integer mixture weights")
    require(budget >= 0, "non-negative token budget")
    val inMix = df.filter(key.isin(weights.keySet.toSeq: _*))
    // bounded driver state: one (key, available-tokens) row per source
    val avail: Map[String, Long] = inMix
      .groupBy(key.cast("string").as("__mk"))
      .agg(sum(tokens).cast("long").as("__tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def cutoff(rem: BigInt, wSum: BigInt)(k: String): Long =
      (BigInt(Buckets) * rem * weights(k) / (wSum * avail(k)))
        .min(BigInt(Buckets)).toLong
    val present = weights.keySet.filter(k => avail.getOrElse(k, 0L) > 0)
    val cutoffs: Map[String, Long] =
      if (!waterFill) {
        val wSum = BigInt(weights.values.sum) // full-share denominator
        present.iterator.map(k => k -> cutoff(BigInt(budget), wSum)(k)).toMap
      } else {
        // water-filling: saturate, remove, re-split the remainder —
        // each round removes ≥1 key, so ≤ |keys| rounds
        var active = present
        var rem = BigInt(budget)
        var full = Set.empty[String]
        var converged = false
        while (!converged && active.nonEmpty) {
          val wSum = BigInt(active.iterator.map(weights).sum)
          val sat = active.filter(k =>
            BigInt(avail(k)) * wSum <= rem * weights(k))
          if (sat.isEmpty) converged = true
          else {
            rem -= sat.iterator.map(k => BigInt(avail(k))).sum
            full ++= sat
            active --= sat
          }
        }
        val wSum = BigInt(active.iterator.map(weights).sum.max(1L))
        (full.iterator.map(_ -> Buckets) ++
          active.iterator.map(k => k -> cutoff(rem, wSum)(k))).toMap
      }
    val cut = cutoffs.foldLeft(lit(0L)) { case (els, (k, c)) =>
      when(key === lit(k), lit(c)).otherwise(els)
    }
    inMix.filter(hashBucket(id, salt) < cut)
  }

  /**
   * Mixture balancing: deterministically downsample every `key` group
   * (domain, language, source) toward the SMALLEST group's size, so no
   * domain dominates the training mixture. Each group keeps rows whose
   * hash bucket falls under `target·Buckets ÷ count(key)` — integer
   * arithmetic, so any engine computes the identical cutoff, and the
   * kept set is a hash-stable subset (re-runs keep the same rows;
   * growing a group only evicts, never reshuffles).
   *
   * One count aggregate + a broadcast of |keys| cutoffs + a narrow
   * filter: the corpus itself never shuffles. The result sizes are
   * binomial around the target (exact-k per group would need a
   * per-group sort — [[graft.operators.Dedup.capPerKey]] when
   * exactness matters more than a shuffle-free plan).
   */
  def balanceMixture(df: DataFrame, key: Column, id: Column,
      salt: String): DataFrame = {
    // persisted: the per-key counts feed BOTH the global-min aggregate
    // and the cutoff table — uncached, each consumer rescans the corpus
    val counts = PersistTracker.trackPersist(df.groupBy(key.as("__bk"))
      .agg(count(lit(1)).as("__cnt")))
    // global min via agg + broadcast (not an unpartitioned window, which
    // warns and single-partitions — irrelevant at |keys| rows but noisy)
    val target = counts.agg(min(col("__cnt")).as("__tgt"))
    val cutoffs = counts.crossJoin(broadcast(target))
      // integer division (`div`), not double `/`: any engine computes
      // the identical cutoff, which the oracle hash-check relies on
      .withColumn("__cut", expr(s"(__tgt * ${Buckets}L) div __cnt"))
      .select(col("__bk"), col("__cut"))
    df.join(broadcast(cutoffs), key === col("__bk"))
      .filter(hashBucket(id, salt) < col("__cut"))
      .drop("__bk", "__cut")
  }

  /**
   * Split-leakage audit — the measurement complement of
   * [[componentSplit]]: given near-duplicate pairs (any family:
   * MinHash, n-gram, embedding) and a per-doc split assignment, count
   * pairs per UNORDERED split combination. Rows with `is_leak = true`
   * (endpoints in different splits) are eval contamination: a test
   * doc's near-copy sitting in train inflates every benchmark number.
   * Run it against a doc-level split to quantify the damage
   * [[componentSplit]] prevents, or as a CI gate on the final corpus.
   *
   * Scale shape: two id-keyed hash joins of the (small) pair set
   * against the assignment projection, then a ≤|splits|² aggregate —
   * the corpus text never moves.
   *
   * @return `(split_a, split_b, n_pairs, is_leak)`, split_a ≤ split_b
   */
  def splitLeakageAudit(pairs: DataFrame, assign: DataFrame,
      idCol: String = "doc_id", splitCol: String = "split",
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame = {
    val sa = assign.select(col(idCol).as(idACol), col(splitCol).as("__sa"))
    val sb = assign.select(col(idCol).as(idBCol), col(splitCol).as("__sb"))
    pairs.select(col(idACol), col(idBCol))
      .join(sa, Seq(idACol)).join(sb, Seq(idBCol))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  /**
   * D4-style diversity selection (Tirumala et al. 2023 — public
   * knowledge): cluster the corpus embeddings with the deterministic
   * k-means ([[Clustering.kmeans]]), then keep at most `quota` members
   * PER CLUSTER, preferring the LEAST prototypical (lowest 4dp cosine
   * to the centroid, ties to the lowest id). Two effects in one pass:
   * no semantic region can dominate the training mix (the quota), and
   * within a region the most redundant near-prototype examples are the
   * first dropped (D4's anti-prototypicality pruning).
   *
   * Scale shape: clustering is [[Clustering.kmeans]]'s (narrow assign +
   * k-row integer-sum collects); the quota rank is one shuffle on
   * cluster id with a per-cluster sort. For clusters too large to sort,
   * swap the exact rank for a per-cluster cosine cutoff
   * ([[percentileGate]]'s aggregate-and-broadcast shape) — exactness of
   * the quota traded for a shuffle-free gate; this implementation keeps
   * the exact-quota semantics the oracle can replay.
   *
   * @return kept rows `(idCol, cluster, cos, rk)` — rk 1..quota within
   *         the cluster, 1 = least prototypical
   */
  def diversitySelect(corpus: DataFrame, k: Int, iters: Int, quota: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(quota > 0, s"quota > 0, got $quota")
    val assigned = Clustering.kmeans(corpus, k, iters, idCol, vecCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("cos"), col(idCol))
    assigned.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= quota)
  }

  /**
   * Training-shard planner: assign every document a contiguous shard id
   * under a per-shard token budget, in the deterministic [[epochKey]]
   * training order — the manifest a distributed trainer consumes
   * ("shard s = this exact document sequence, ~budget tokens").
   *
   * A document's `start_offset` is the total token count of everything
   * before it in (epoch key, id) order; `shard_id = start_offset div
   * budget`. Documents never split; a shard overflows its budget by at
   * most its last document (the fixed-boundary semantics an oracle can
   * replay with one window SUM — greedy no-overflow packing is
   * [[TextAnalysis.packGreedy]]'s job and is order-dependent).
   *
   * Scale shape: the global running sum uses the two-pass
   * partition-offset device ([[Bpe.tokenIds]] / the W2 id-mint trick) —
   * range-partition by the order key, ONE bounded collect of ≤ numParts
   * per-partition token sums, driver prefix-sum, then a WITHIN-partition
   * running-sum window. No single-partition exchange at any size; the
   * ranged frame is pinned so both passes see the same sampled range
   * boundaries.
   *
   * @param tokenCount token count column evaluated against `df`'s rows
   * @return `(idCol, n_tokens, start_offset, shard_id)`
   */
  def shardPlan(df: DataFrame, idCol: String, tokenCount: Column,
      budget: Long, epoch: Int = 1, salt: String = "shard",
      numParts: Int = 0): DataFrame = {
    require(budget > 0, s"budget > 0, got $budget")
    val keyed = df.select(col(idCol), tokenCount.cast("long").as("n_tokens"),
      epochKey(col(idCol), epoch, salt).as("__key"))
    val ranged = PersistTracker.trackPersist(
      keyed.repartitionByRange(autoParts(df, numParts), col("__key"),
        col(idCol))
        .withColumn("__pid", spark_partition_id()))
    val counts = ranged.groupBy("__pid")
      .agg(sum("n_tokens").as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1)
      .zip(counts.scanLeft(0L) { case (acc, (_, n)) => acc + n })
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (p, off)) =>
      when(col("__pid") === p, lit(off)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(col("__key"), col(idCol))
    ranged
      .withColumn("start_offset",
        offCol + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("shard_id", expr(s"start_offset div ${budget}L"))
      .select(idCol, "n_tokens", "start_offset", "shard_id")
  }

  /** Per-shard rollup of a [[shardPlan]]: the manifest row a trainer's
    * data loader reads (doc count, token count, offset range). One
    * |shards|-group aggregate. */
  def shardManifest(plan: DataFrame): DataFrame =
    plan.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("n_tokens"),
      min("start_offset").as("first_offset"),
      max(col("start_offset") + col("n_tokens")).as("end_offset"))

  /**
   * EXACT global quantiles of a numeric column by distributed selection
   * — what `percentile_approx` trades away, recovered at scale without a
   * global sort of the data:
   *
   *  1. value-count aggregate (shuffle = |distinct values|, with
   *     map-side combine — never |rows|);
   *  2. global cumulative counts over the sorted distinct values via the
   *     two-pass partition-offset device ([[shardPlan]]'s shape:
   *     range-partition, ONE bounded collect of per-partition count
   *     sums, driver prefix-sum, within-partition window);
   *  3. each quantile q resolves to target rank ceil(q·n) (1-based) and
   *     the answer is the unique value whose cumulative range covers
   *     that rank — a broadcast non-equi join of |qs| rows against the
   *     cumulative frame.
   *
   * `percentile_disc` semantics: the returned value is always an actual
   * element of the column (no interpolation — exact, and immune to
   * float-summation nondeterminism). Driver state: ≤ numParts partition
   * sums and the |qs| target ranks.
   *
   * @return `(q, target_rank, value)` — one row per requested quantile
   */
  def exactQuantiles(df: DataFrame, valueCol: Column, qs: Seq[Double],
      numParts: Int = 0): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1], got $qs")
    val spark = df.sparkSession
    val counts = df.select(valueCol.as("v"))
      .filter(col("v").isNotNull)
      .groupBy("v").agg(count(lit(1)).as("c"))
    val ranged = PersistTracker.trackPersist(
      counts.repartitionByRange(autoParts(df, numParts), col("v"))
        .withColumn("__pid", spark_partition_id()))
    val pcounts = ranged.groupBy("__pid").agg(sum("c").as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = pcounts.map(_._2).sum
    require(n > 0, "exactQuantiles: no non-null values")
    val offsets = pcounts.map(_._1)
      .zip(pcounts.scanLeft(0L) { case (acc, (_, c)) => acc + c })
    val offCol = offsets.foldLeft(lit(0L)) { case (acc, (p, off)) =>
      when(col("__pid") === p, lit(off)).otherwise(acc)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy("v")
    val cum = ranged.withColumn("cum", offCol + sum(col("c")).over(w))
    import spark.implicits._
    // ceil on the IEEE product q·n — the same double expression an
    // oracle evaluates, so boundary behaviour replays exactly
    val targets = qs.map(q => (q, math.ceil(q * n.toDouble).toLong))
      .toDF("q", "target_rank")
    cum.join(broadcast(targets),
        col("cum") - col("c") < col("target_rank") &&
          col("target_rank") <= col("cum"))
      .select(col("q"), col("target_rank"), col("v").as("value"))
  }

  /**
   * EXACT quantiles PER GROUP — [[exactQuantiles]]'s keyed sibling (the
   * per-language length profile a data card reports, exact):
   * value-count aggregate on (key, value), per-key cumulative counts
   * via a window PARTITIONED BY KEY (each partition holds one key's
   * distinct values — no global window, no single-partition exchange),
   * then every requested quantile resolves in the same pass by
   * exploding the quantile list against the cumulative frame and
   * keeping the covering row. percentile_disc semantics; rank targets
   * ceil(q·n_key) on the same IEEE product an oracle evaluates.
   *
   * Scale: shuffles are bounded by Σ|distinct values per key|; a
   * single key's distinct values must fit one task's window (the same
   * contract as any per-key window) — for unbounded-cardinality value
   * columns at extreme skew, bucket values first or use
   * [[exactQuantiles]] per key slice.
   *
   * @return `(key, q, target_rank, value)` — |keys|·|qs| rows
   */
  def groupQuantiles(df: DataFrame, keyCol: Column, valueCol: Column,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1], got $qs")
    val counts = df.select(keyCol.as("key"), valueCol.as("v"))
      .filter(col("v").isNotNull)
      .groupBy("key", "v").agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("v")
    val cum = counts.withColumn("cum", sum(col("c")).over(w))
    val nk = counts.groupBy("key").agg(sum("c").as("n"))
    cum.join(nk, "key")
      .select(col("key"), col("v"), col("c"), col("cum"), col("n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("target_rank",
        ceil(col("q") * col("n").cast("double")).cast("long"))
      .filter(col("cum") - col("c") < col("target_rank") &&
        col("target_rank") <= col("cum"))
      .select(col("key"), col("q"), col("target_rank"),
        col("v").as("value"))
  }

  /**
   * Temperature-based mixture sampling — the multilingual α-sampling of
   * public practice (mC4, Raffel et al. 2020; XLM-R, Conneau et al.
   * 2020): a group with share p keeps documents at a rate ∝ p^(α−1),
   * flattening the mixture toward uniform as α → 0 (α = 1 is a no-op
   * pass-through of the natural distribution, α = 0 full balance).
   * Normalized so the SMALLEST group keeps everything (the
   * [[balanceMixture]] convention):
   *
   *   f_k = (n_min / n_k)^(1−α),   keep ⇔ md5(id:salt) bucket <
   *                                        floor(f_k·10⁶ + 0.5)
   *
   * Deterministic (the [[deterministicSample]] hash device, no RNG) and
   * one |keys|-row broadcast onto a narrow filter — the corpus never
   * shuffles. α = 0.5 uses `sqrt` explicitly: IEEE sqrt is correctly
   * rounded in every engine, while general `pow` is only libm-accurate
   * — an oracle replaying a non-half α can disagree by one ulp AT the
   * cutoff boundary (documented caveat; the battery pins α = 0.5).
   */
  def temperatureMixture(df: DataFrame, key: Column, id: Column,
      alpha: Double, salt: String): DataFrame = {
    require(alpha >= 0 && alpha <= 1, s"alpha in [0,1], got $alpha")
    val nk = df.groupBy(key.as("__tk")).agg(count(lit(1)).as("__nk"))
    val nmin = nk.agg(min("__nk").as("__nmin"))
    val ratio = col("__nmin").cast("double") / col("__nk").cast("double")
    val frac = if (alpha == 0.5) sqrt(ratio)
      else if (alpha == 1.0) lit(1.0)
      else pow(ratio, lit(1.0 - alpha))
    val cuts = nk.crossJoin(broadcast(nmin))
      .select(col("__tk"),
        floor(frac * lit(Buckets) + lit(0.5)).cast("long").as("__cut"))
    df.join(broadcast(cuts), key === col("__tk"))
      .filter(hashBucket(id, salt) < col("__cut"))
      .drop("__tk", "__cut")
  }

  /**
   * FIXED-SIZE weighted sampling without replacement — the
   * Efraimidis–Spirakis exponential-key method (public algorithm,
   * IPL 2006): each row gets key `ln(u)/w` with `u` a deterministic
   * (0,1) hash of (id, salt), and the k LARGEST keys are exactly a
   * weighted sample without replacement. Complements
   * [[weightedSample]] (per-row Bernoulli, random SIZE): this is the
   * "exactly k docs, weight-proportional" selection a budgeted
   * curation step needs.
   *
   * Deterministic (no RNG): u = (bucket+1)/(Buckets+1) from the md5
   * device, so re-runs and engines agree. Keys are snapped to the
   * 1e-12 grid before ranking (ties → id): ln is libm-accurate, not
   * correctly rounded, so an unrounded cross-engine comparison could
   * flip a near-tie; unlike the PageRank case the key distribution is
   * unstructured, so grid-boundary coincidences are negligible rather
   * than systematic. The prefix is a distributed TakeOrdered — no
   * global window.
   *
   * A non-positive weight is a contract violation enforced at RUNTIME
   * (ln(u)/w would yield -Inf/NaN keys whose floor-snap differs across
   * engines — Spark's LongType floor vs an oracle's -inf double): the
   * key expression raises on the offending row instead of producing an
   * engine-dependent ordering.
   *
   * @param weight strictly positive weight column (enforced per row)
   * @return the k selected rows with their `__key`
   */
  def weightedTopK(df: DataFrame, id: Column, weight: Column, k: Int,
      salt: String): DataFrame = {
    require(k > 0, s"k > 0, got $k")
    val u = (hashBucket(id, salt).cast("double") + lit(1.0)) /
      lit((Buckets + 1).toDouble)
    val w = when(weight > lit(0.0), weight).otherwise(raise_error(concat(
      lit("weightedTopK: weight must be strictly positive, got "),
      weight.cast("string"))))
    val key = floor(log(u) / w * lit(1e12) + lit(0.5)) / lit(1e12)
    df.withColumn("__key", key)
      .orderBy(col("__key").desc, id)
      .limit(k)
  }
}
