package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.EditDistanceExpressions.deletionVariantHashes

/**
 * String similarity under EDIT distance — the record-linkage /
 * fuzzy-matching sibling of [[Dedup]]'s set-similarity family (near-dup
 * titles, OCR'd identifiers, typo'd entity names in a training corpus).
 *
 * Two candidate-generation strategies, routed by string length:
 *
 * '''Deletion neighborhood''' (short strings — the FastSS / SymSpell
 * family, public knowledge): two strings within edit distance `d` share
 * a variant reachable by deleting ≤ `d` characters from each, so
 * exploding [[graft.functions.EditDistanceExpressions.deletionVariantHashes]]
 * on BOTH sides and equi-joining on the variant hash finds every true
 * pair with one hash join — no inverted index, no sensitivity to gram
 * frequency skew (the failure mode of q-gram indexes on identifier
 * corpora where "0000" occurs in every string). Neighborhood size is
 * Θ(len^d), so this is the short-string weapon: at len ≤ 32, d ≤ 2 a
 * string emits ≤ 529 variant hashes and each join bucket is tiny. Hash
 * collisions only ADD candidates; the exact verify discards them.
 *
 * '''Positional q-gram prefix filter''' (long strings — the Ed-Join
 * line of work: Gravano et al. positional q-grams; Xiao et al. Ed-Join;
 * Bayardo et al. prefix ordering — public knowledge), with prefixes
 * indexed on BOTH sides:
 *
 *  1. positional q-gram occurrences `(gram, pos)` per string, grams
 *     hashed to longs. One edit operation rewrites at most `q`
 *     occurrences and shifts survivors by ≤ `d` positions, so strings
 *     within distance `d` admit a matching that pairs all but `q·d`
 *     occurrences of EACH side onto equal grams at positions differing
 *     by ≤ `d` (Gravano's positional count filter);
 *  2. occurrences are globally ordered by `(frequency, gram, pos)` and
 *     ranked per string; the join probes the `q·d + 1` rarest
 *     occurrences of one side against the `q·d + 2·d + 1` rarest of the
 *     other. Why the asymmetric `+2d`: pick the matched pair (ga, gb)
 *     whose a-endpoint is a's order-smallest matched occurrence — at
 *     most `q·d` (unmatched) occurrences precede ga, so ga sits in a's
 *     `q·d+1` prefix (pigeonhole). Occurrences preceding gb in b are
 *     either unmatched (≤ `q·d`) or matched to some ga' ≥ ga — which
 *     forces equal `(frequency, gram)` and squeezes pos(gb') into the
 *     `2d`-wide window `[pos(gb) − 2d, pos(gb) − 1]` (pos(ga') ≥ pos(ga)
 *     ≥ pos(gb) − d and pos(gb') ≥ pos(ga') − d), so ≤ `2d` of them —
 *     hence gb sits within rank `q·d + 2d + 1`. Both prefixes come from
 *     one ranked frame with two cutoffs; the full inverted index is
 *     never joined, so a ubiquitous gram costs `(qd+1)·(qd+2d+1)`
 *     per string pair sharing it, not `prefix × every occurrence in the
 *     corpus` — the round-5 scale-killer;
 *  3. position band `|pos_a − pos_b| ≤ d` and length band
 *     `|len_a − len_b| ≤ d` on the candidates;
 *  4. exact verify with Spark's codegen'd `levenshtein(l, r, threshold)`
 *     — the threshold form abandons a DP row once it exceeds `d`
 *     (O(d·len) per pair instead of O(len²)).
 *
 * The pigeonhole guarantee needs at least `q·d + 1` gram occurrences on
 * each side; a pair of strings BOTH shorter than `q·(d+1)` can share
 * zero grams at distance ≤ d ("ab"/"ac", q=2, d=1). Those shorts go
 * through a separate length-banded candidate pass (emit `len .. len+d`
 * keys on one side, equi-join on the band key) — no padding sentinels,
 * so no silent collision with sentinel characters in real data.
 *
 * 100 TB shape: the neighborhood path is one explode + one self
 * equi-join on 64-bit hashes; the q-gram path is one explode + one
 * hash-agg for frequencies, one window over per-string gram lists
 * (strings are short — the partition is tiny), and a prefix×prefix
 * equi-join whose fan-out is bounded per string by `(qd+1)·(qd+2d+1)`
 * occurrences rather than corpus-wide gram frequency. No O(n²) stage;
 * the oracle replays the full quadratic join at test SF to prove both
 * filter chains lossless. The `auto` route probes `max(length)` — one
 * column-pruned scan; callers at scale that know their data should pass
 * the strategy explicitly and skip the probe.
 */
object StringSimilarity {

  /** auto-route bounds: neighborhood size Θ(len^d) stays ≤ ~500 hashes
    * per string at len ≤ 32, d ≤ 2. */
  private val NbhMaxLen  = 32
  private val NbhMaxDist = 2

  /** A small identifier corpus arrives as 1-2 parquet splits, which runs
    * the variant/gram explode — and, because the downstream shuffles
    * carry FEW BYTES (hashes and short strings) that AQE coalesces to
    * 1-2 post-shuffle partitions, effectively the whole CPU-dense
    * candidate+levenshtein pipeline — on 1-2 cores (r21 job count,
    * 53a609c: q69 ran 10 stages over 16 TOTAL tasks). Re-spread on the id (the
    * [[Dedup.spreadSmallInput]] device); large corpora already have
    * enough splits and skip the shuffle. */
  private def spreadSmall(df: DataFrame, idCol: String): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < parallelism / 2)
      df.repartition(parallelism, col(idCol))
    else df
  }

  /** Positional hashed q-grams of `s` as `array<struct<g,p>>`; strings
    * shorter than `q` contribute themselves as their single gram. */
  private def posGramHashes(s: Column, q: Int): Column =
    transform(
      sequence(lit(1), greatest(length(s) - (q - 1), lit(1))),
      i => struct(xxhash64(s.substr(i, lit(q))).as("g"), i.as("p")))

  /**
   * All pairs within edit distance `maxDist`, as `(id_a, id_b, dist)`
   * with `id_a < id_b`.
   *
   * @param q q-gram width for the q-gram strategy (2-3 for short
   *          identifier-like strings; larger q sharpens rare-gram
   *          selectivity on longer text)
   * @param strategy `"auto"` (probe max length, route),
   *          `"neighborhood"` (deletion-variant equi-join — short
   *          strings), or `"qgram"` (two-sided positional prefix
   *          filter — long strings)
   */
  def editDistanceJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, q: Int = 2, strategy: String = "auto"): DataFrame = {
    require(maxDist >= 0 && q >= 1, s"need maxDist>=0, q>=1")
    val strategies = Set("auto", "neighborhood", "qgram")
    require(strategies(strategy), s"strategy must be one of $strategies")
    val base = PersistTracker.trackPersist(spreadSmall(df, idCol).select(
      col(idCol).as("__sid"), col(strCol).as("__s"),
      length(col(strCol)).as("__len")))
    // when the corpus arrived small, the candidate shuffles are also
    // byte-small and AQE coalesces the CPU-dense verify onto 1-2 cores;
    // pin the verify's pair dedup at machine parallelism in that regime
    // (large corpora keep AQE's byte-sized partitioning)
    val spreadTo =
      if (df.rdd.getNumPartitions <
        df.sparkSession.sparkContext.defaultParallelism / 2)
        df.sparkSession.sparkContext.defaultParallelism
      else 0
    val useNeighborhood = strategy match {
      case "neighborhood" => true
      case "qgram"        => false
      case _ =>
        // one column-pruned probe; null max (empty input) routes short
        val maxLen = Option(base.agg(max(col("__len"))).head.get(0))
          .fold(0)(_.asInstanceOf[Int])
        maxLen <= NbhMaxLen && maxDist <= NbhMaxDist
    }
    val cands =
      if (useNeighborhood) neighborhoodCandidates(base, maxDist)
      else qgramCandidates(base, maxDist, q)
    verifyAgainst(cands, base, base, maxDist, spreadTo)
  }

  /** Deletion-neighborhood candidates: explode ≤`d`-deletion variant
    * hashes on both sides, equi-join, length band. Frequency-skew-free:
    * bucket width is the count of strings sharing a specific variant,
    * not the count sharing a common substring. */
  private def neighborhoodCandidates(base: DataFrame, maxDist: Int): DataFrame = {
    val vh = base.select(col("__sid"), col("__len"),
      explode(deletionVariantHashes(col("__s"), maxDist)).as("__vh"))
    vh.select(col("__sid").as("__ida"), col("__len").as("__la"), col("__vh"))
      .join(vh.select(col("__sid").as("__idb"), col("__len").as("__lb"),
        col("__vh")), Seq("__vh"))
      .filter(col("__ida") < col("__idb"))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .select(col("__ida").as("id_a"), col("__idb").as("id_b"))
  }

  /** Two-sided positional q-gram prefix candidates (+ the short-string
    * length-banded pass). Prefix lengths `q·d+1` × `q·d+2d+1` — see the
    * object doc for the counting argument. */
  private def qgramCandidates(base: DataFrame, maxDist: Int, q: Int): DataFrame = {
    val prefixA = q * maxDist + 1
    val prefixB = q * maxDist + 2 * maxDist + 1
    val inv = base
      .select(col("__sid"), col("__len"),
        explode(posGramHashes(col("__s"), q)).as("__gp"))
      .select(col("__sid"), col("__len"),
        col("__gp.g").as("__g"), col("__gp.p").as("__p"))
    val dfreq = inv.groupBy("__g").agg(count(lit(1)).as("__df"))
    // one ranked frame, two cutoffs — persisted: both join sides read it
    val ranked = PersistTracker.trackPersist(inv.join(dfreq, Seq("__g"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy("__sid").orderBy(col("__df"), col("__g"), col("__p"))))
      .filter(col("__rk") <= prefixB)
      .select(col("__sid"), col("__len"), col("__g"), col("__p"), col("__rk")))
    val a = ranked.filter(col("__rk") <= prefixA)
      .select(col("__sid").as("__ida"), col("__len").as("__la"),
        col("__g"), col("__p").as("__pa"))
    val b = ranked.select(col("__sid").as("__idb"), col("__len").as("__lb"),
      col("__g"), col("__p").as("__pb"))
    val gramCands = a.join(b, Seq("__g"))
      .filter(col("__ida") =!= col("__idb"))
      .filter(abs(col("__pa") - col("__pb")) <= maxDist)
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
    // pairs where BOTH sides have ≤ q·d gram occurrences escape the
    // pigeonhole — length-banded equi-join over that (short) slice
    val shorts = base.filter(col("__len") <= q * (maxDist + 1) - 1)
    val shortCands = shorts
      .select(col("__sid").as("__ida"), col("__len").as("__key"))
      .join(shorts.select(col("__sid").as("__idb"),
          explode(sequence(col("__len"), col("__len") + maxDist))
            .as("__key")),
        Seq("__key"))
      .filter(col("__ida") =!= col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"))
    gramCands.unionByName(shortCands)
  }

  /** Dedup candidates, rejoin strings, exact threshold-DP verify.
    * `spreadTo > 0` pins the pair-dedup exchange at that partition
    * count (keyed on the pair, so dropDuplicates reuses it — no extra
    * exchange): in the small-corpus regime the candidate rows are so
    * few BYTES that AQE coalesces them to 1-2 partitions, serializing
    * the CPU-dense levenshtein stage (r21 job count, 53a609c:
    * 16 tasks total). Large corpora pass 0 and keep AQE's sizing. */
  private def verifyAgainst(cands: DataFrame, baseA: DataFrame,
      baseB: DataFrame, maxDist: Int, spreadTo: Int = 0): DataFrame = {
    val c = if (spreadTo > 0)
      cands.repartition(spreadTo, col("id_a"), col("id_b")) else cands
    c.dropDuplicates("id_a", "id_b")
      .join(baseA.select(col("__sid").as("id_a"), col("__s").as("__sa")), "id_a")
      .join(baseB.select(col("__sid").as("id_b"), col("__s").as("__sb")), "id_b")
      // threshold form: -1 once the DP exceeds maxDist — O(d·len)/pair
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /**
   * The R×S form — all (left, right) pairs within edit distance
   * `maxDist`, as `(id_a, id_b, dist)` with `id_a` from `left` and
   * `id_b` from `right` (no canonicalization: orientation is the join's
   * meaning). The record-linkage shape: match an incoming batch of
   * names against a reference registry.
   *
   * Same two strategies as [[editDistanceJoin]]. The q-gram path's
   * prefix lemma needs ONE consistent global occurrence order across
   * both sides, so gram frequencies are counted over the UNION of both
   * inputs; the left side then probes its `q·d+1` rarest occurrences
   * against the right side's `q·d+2d+1` rarest (the asymmetric pair the
   * self-join's counting argument already established — it never
   * needed the two strings to come from one table). The
   * short-string escape hatch expands the right side's length band in
   * BOTH directions (`len−d .. len+d`), since a fixed orientation can't
   * rely on the unordered-pair symmetry the self-join uses.
   */
  def editDistanceJoinBetween(left: DataFrame, right: DataFrame,
      leftId: String, leftStr: String, rightId: String, rightStr: String,
      maxDist: Int, q: Int = 2, strategy: String = "auto"): DataFrame = {
    require(maxDist >= 0 && q >= 1, s"need maxDist>=0, q>=1")
    val strategies = Set("auto", "neighborhood", "qgram")
    require(strategies(strategy), s"strategy must be one of $strategies")
    def slim(df: DataFrame, id: String, s: String): DataFrame =
      PersistTracker.trackPersist(spreadSmall(df, id).select(
        col(id).as("__sid"), col(s).as("__s"), length(col(s)).as("__len")))
    val baseL = slim(left, leftId, leftStr)
    val baseR = slim(right, rightId, rightStr)
    // same small-corpus verify spread as editDistanceJoin
    val spreadTo =
      if (Seq(left, right).forall(_.rdd.getNumPartitions <
        left.sparkSession.sparkContext.defaultParallelism / 2))
        left.sparkSession.sparkContext.defaultParallelism
      else 0
    val useNeighborhood = strategy match {
      case "neighborhood" => true
      case "qgram"        => false
      case _ =>
        val maxLen = Seq(baseL, baseR).flatMap(b =>
          Option(b.agg(max(col("__len"))).head.get(0))
            .map(_.asInstanceOf[Int])).foldLeft(0)(math.max)
        maxLen <= NbhMaxLen && maxDist <= NbhMaxDist
    }
    val cands =
      if (useNeighborhood) {
        def vh(b: DataFrame, idAs: String, lenAs: String) = b.select(
          col("__sid").as(idAs), col("__len").as(lenAs),
          explode(deletionVariantHashes(col("__s"), maxDist)).as("__vh"))
        vh(baseL, "id_a", "__la")
          .join(vh(baseR, "id_b", "__lb"), Seq("__vh"))
          .filter(abs(col("__la") - col("__lb")) <= maxDist)
          .select("id_a", "id_b")
      } else {
        val prefixA = q * maxDist + 1
        val prefixB = q * maxDist + 2 * maxDist + 1
        def inv(b: DataFrame, side: Int) = b
          .select(lit(side).as("__side"), col("__sid"), col("__len"),
            explode(posGramHashes(col("__s"), q)).as("__gp"))
          .select(col("__side"), col("__sid"), col("__len"),
            col("__gp.g").as("__g"), col("__gp.p").as("__p"))
        val union = inv(baseL, 0).unionByName(inv(baseR, 1))
        // ONE shared frequency order over both inputs — the lemma's
        // total order must rank a matched pair's occurrences equally
        val dfreq = union.groupBy("__g").agg(count(lit(1)).as("__df"))
        val ranked = PersistTracker.trackPersist(union.join(dfreq, Seq("__g"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy("__side", "__sid")
              .orderBy(col("__df"), col("__g"), col("__p"))))
          .filter(col("__rk") <= prefixB)
          .select(col("__side"), col("__sid"), col("__len"), col("__g"),
            col("__p"), col("__rk")))
        val a = ranked.filter(col("__side") === 0 && col("__rk") <= prefixA)
          .select(col("__sid").as("id_a"), col("__len").as("__la"),
            col("__g"), col("__p").as("__pa"))
        val b = ranked.filter(col("__side") === 1)
          .select(col("__sid").as("id_b"), col("__len").as("__lb"),
            col("__g"), col("__p").as("__pb"))
        val gramCands = a.join(b, Seq("__g"))
          .filter(abs(col("__pa") - col("__pb")) <= maxDist)
          .filter(abs(col("__la") - col("__lb")) <= maxDist)
          .select("id_a", "id_b")
        val shortsL = baseL.filter(col("__len") <= q * (maxDist + 1) - 1)
        val shortsR = baseR.filter(col("__len") <= q * (maxDist + 1) - 1)
        val shortCands = shortsL
          .select(col("__sid").as("id_a"), col("__len").as("__key"))
          .join(shortsR.select(col("__sid").as("id_b"),
              explode(sequence(greatest(col("__len") - maxDist, lit(0)),
                col("__len") + maxDist)).as("__key")),
            Seq("__key"))
          .select("id_a", "id_b")
        gramCands.unionByName(shortCands)
      }
    verifyAgainst(cands, baseL, baseR, maxDist, spreadTo)
  }
}
