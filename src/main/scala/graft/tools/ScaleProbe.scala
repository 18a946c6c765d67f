package graft.tools

import graft.GraftSession
import graft.queries.Battery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * One-off empirical scale probe (VERDICT r7 item 6): the 100 TB claims
 * rest on plan-shape arguments validated at sf0.1 — this runs the heavy
 * query family at `copies`× that (default 10×, ≈ sf1.0) to catch any
 * super-linear surprise (skewed band keys, window spill, candidate
 * blowup) that shape arguments can miss.
 *
 * Scaled inputs are derived, not synthesized: each copy `i` of sf0.1 is
 * the same table with ids offset into a disjoint range and its TEXT
 * Caesar-shifted by `i` over [a-z], [A-Z] and rotated over [0-9] — a
 * per-copy character bijection, so every copy's INTERNAL duplicate/
 * similarity structure is exactly sf0.1's (lengths, token counts, dup
 * clusters all preserved) while cross-copy n-gram overlap is ~zero and
 * cross-copy edit distances are ~word length. A naive ×10 row copy
 * would make every doc a 10-way exact duplicate and fabricate quadratic
 * candidate growth no real corpus has; this keeps the workload's
 * similarity density scale-invariant, which is the honest 10× test.
 * Embeddings get disjoint ids and a tiny per-copy perturbation (cell
 * populations grow 10×, no artificial exact-tie mass).
 *
 * Writes under tmp/ inside the repo (never touches /root/testdata);
 * reuses the scaled dir if it already exists.
 *
 * Env: SPARK_GRAFT_SCALE_BASE (default /root/testdata/sf0.1),
 * SPARK_GRAFT_SCALE_DIR (default /root/repo/tmp/sf1),
 * SPARK_GRAFT_SCALE_COPIES (default 10), SPARK_GRAFT_BENCH_REPS
 * (default 3). Args: query names (default the heavy family).
 */
object ScaleProbe {

  private val IdOff = 100000000L

  /** Per-copy character BIJECTION, generalized from a rotation to an
    * AFFINE map `x -> a·x + b` over each class ([a-z]/[A-Z] mod 26,
    * [0-9] mod 10): copies 0..25 (digits 0..9) use a = 1 — exactly the
    * original Caesar/rotation derivation, so previously-built scale
    * dirs stay byte-identical — and higher copies step the multiplier
    * through the units coprime to the modulus. Every copy's INTERNAL
    * structure is still exactly the base's (a bijection per class),
    * and two DISTINCT affine maps agree on at most 2 characters (the
    * fixed points of a linear congruence), so cross-copy n-gram
    * overlap stays ~zero past the 10-copy rotation cap — the honest
    * derivation now reaches 30×+ on the TEXT tables too (the r14
    * verdict's 30×-sweep ask for q83/q117). */
  private val LetterMults = Seq(1, 3, 5, 7, 9, 11) // units mod 26
  private val DigitMults = Seq(1, 3, 7, 9) // units mod 10

  /** Letters have 6 × 26 = 156 distinct affine maps; digits only
    * 4 × 10 = 40, so past copy 39 the DIGIT family cycles (`% 40`).
    * Two copies sharing a digit map can only collide on ALL-digit
    * tokens — any letter in a token keeps the cross-copy overlap at
    * ~zero (the letter maps stay distinct through copy 155), so the
    * bijection derivation stays honest for the shingle/n-gram probes
    * up to 156 copies, with a bounded all-digit-token exception the
    * corpus barely contains. */
  private def shifted(c: Char, i: Int): Char = c match {
    case l if l >= 'a' && l <= 'z' =>
      ((LetterMults(i / 26) * (l - 'a') + i % 26) % 26 + 'a').toChar
    case u if u >= 'A' && u <= 'Z' =>
      ((LetterMults(i / 26) * (u - 'A') + i % 26) % 26 + 'A').toChar
    case d if d >= '0' && d <= '9' =>
      ((DigitMults(i % 40 / 10) * (d - '0') + i % 10) % 10 + '0').toChar
    case other => other
  }

  private val alphabet =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString

  private def shift(c: org.apache.spark.sql.Column, i: Int)
      : org.apache.spark.sql.Column =
    if (i == 0) c
    else translate(c, alphabet, alphabet.map(shifted(_, i)))

  /** HEAPS'-LAW-RESPECTING text derivation (r15 verdict item 4): the
    * full per-copy bijection makes every copy's word types DISTINCT,
    * so the corpus's type count grows linearly with copies — a natural
    * corpus grows types ~√N (Heaps' law, β≈0.5), and the gap inflated
    * the word-TYPE-grain probes (q115 6.0× at 30× was the generator,
    * not the engine). Here copy i keeps the SHARED type pool verbatim
    * and bijects only the word types whose copy-salted hash falls in a
    * √-shrinking slice (|slice_i| = √(i+1)−√i), so k copies introduce
    * ≈ V·(√k − 1) new types on top of the shared V: total types ≈
    * V·√k, tokens k·N — exactly Heaps with β = ½. Shared types keep
    * their base frequency profile and accumulate k× counts (the
    * natural head-of-Zipf behavior); bijected types enter with their
    * base per-copy frequencies (the long tail). Selection is by word
    * TYPE (the hash of the word itself), so a remapped type is
    * remapped consistently within its copy — tokenizer statistics stay
    * coherent. Word-level, so the text is re-joined on single spaces
    * (token counts preserved; byte-exact whitespace is not, which the
    * tokenizer probes never read). NOT for the dedup/similarity
    * probes: shared verbatim tokens across copies create cross-copy
    * near-dup mass no deduplicated corpus has — q83 stays on the
    * full-bijection derivation, which IS the honest shape there. */
  private def heapsText(c: org.apache.spark.sql.Column, i: Int)
      : org.apache.spark.sql.Column =
    if (i == 0) c
    else {
      val frac = math.sqrt(i + 1.0) - math.sqrt(i.toDouble)
      val thresh = (frac * 1000000L).toLong
      array_join(
        transform(split(c, " "), w =>
          when(pmod(xxhash64(w, lit(i)), lit(1000000L)) < lit(thresh),
            translate(w, alphabet,
              alphabet.map(shifted(_, i)))).otherwise(w)),
        " ")
    }

  private def scaleUp(spark: SparkSession, base: String, out: String,
      copies: Int, eventsCopies: Int, textMode: String): Unit = {
    val deriveText: (org.apache.spark.sql.Column, Int) =>
        org.apache.spark.sql.Column =
      if (textMode == "heaps") heapsText else shift
    val docs = spark.read.parquet(s"$base/documents.parquet")
    (0 until copies).map { i =>
      docs.select((col("doc_id") + lit(i * IdOff)).as("doc_id"),
        deriveText(col("text"), i).as("text"), col("lang"),
        col("source"), col("n_chars"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val cust = spark.read.parquet(s"$base/customer.parquet")
    (0 until copies).map { i =>
      cust.select((col("c_custkey") + lit(i * IdOff)).as("c_custkey"),
        shift(col("c_name"), i).as("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/customer.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    (0 until copies).map { i =>
      emb.select((col("vec_id") + lit(i * IdOff)).as("vec_id"),
        transform(col("embedding"),
          x => (x + lit(i * 1e-4f)).cast("float")).as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // events: ids offset per copy — each copy is an independent user
    // population in the same time range (10× event density, the honest
    // shape for funnel/retention/session probes). Offsets are DENSE
    // (one base span per copy, not the 1e8 jump the other tables use):
    // the clustered-table probes (q162/q164/q166) derive mid-domain
    // slices from the table's OWN min/max with integer arithmetic, and
    // a sparse id space put the slice in the dead gap BETWEEN copies —
    // the delete/scan bodies matched nothing at sf1 (the r12 sweep
    // caveat). Dense offsets keep copies disjoint AND the domain
    // populated, so the sliced bodies are non-empty at every scale.
    // Text-free, so `eventsCopies` may exceed the letter-shift cap.
    val ev = spark.read.parquet(s"$base/events.parquet")
    val evb = ev.agg(min("user_id"), max("user_id"),
      min("event_id"), max("event_id")).head()
    val uOff = evb.getLong(1) - evb.getLong(0) + 1L
    val eOff = evb.getLong(3) - evb.getLong(2) + 1L
    (0 until eventsCopies).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * eOff))
        .withColumn("user_id", col("user_id") + lit(i * uOff))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // orders: ids offset per copy, a tiny per-copy price perturbation so
    // the distinct-value count grows with the data (a pure row copy
    // would leave |distinct| flat and understate the value-count
    // shuffle the quantile probe exists to measure)
    val ord = spark.read.parquet(s"$base/orders.parquet")
    (0 until copies).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * IdOff))
        .withColumn("o_custkey", col("o_custkey") + lit(i * IdOff))
        .withColumn("o_totalprice", col("o_totalprice") + lit(i * 1e-3))
    }.reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
  }

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASE",
      "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      "/root/repo/tmp/sf1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    // the LETTER affine family has 156 distinct bijections (6
    // multipliers × 26 shifts); the digit family cycles past 40 with
    // only an all-digit-token collision exception (see [[shifted]]) —
    // the 100× text-sweep lever (r16 verdict item 2)
    require(copies >= 1 && copies <= 155,
      s"copies in [1,155], got $copies")
    // the event log has no text, so IT may scale past the cap — the
    // lever for the 30x clustered-ingest probes (q163's Skilling
    // keying factor)
    val eventsCopies = sys.env.get("SPARK_GRAFT_SCALE_EVENTS_COPIES")
      .map(_.toInt).getOrElse(copies)
    require(eventsCopies >= 1 && eventsCopies <= 100,
      s"events copies in [1,100], got $eventsCopies")
    // "bijection" (default): per-copy character bijection — the honest
    // derivation for dedup/similarity probes. "heaps": shared-type-pool
    // √-growth derivation for the word-TYPE-grain tokenizer probes
    // (see heapsText). Use a DISTINCT SPARK_GRAFT_SCALE_DIR per mode.
    val textMode =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_TEXTMODE", "bijection")
    require(Set("bijection", "heaps")(textMode),
      s"textMode in {bijection, heaps}, got $textMode")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val queries = if (args.nonEmpty) args.toSeq
      else Seq("q40_ngram_jaccard", "q69_edit_join", "q83_banded_dedup",
        "q89_ann_rerank", "q99_containment", "q115_bpe_pack",
        "q126_bitext_mine", "q141_knn_join")
    val spark = GraftSession.battery()

    val (fsys, probe) = (new org.apache.hadoop.fs.Path(out))
      .getFileSystem(spark.sessionState.newHadoopConf()) ->
      new org.apache.hadoop.fs.Path(s"$out/embeddings.parquet")
    // mode stamp: the reuse probe must VALIDATE the derivation mode,
    // not just existence — a heaps-mode run silently measuring a
    // previously-built bijection corpus (or vice versa) would produce
    // exactly the generator-artifact ratios the mode distinction
    // exists to separate
    val stamp = new org.apache.hadoop.fs.Path(s"$out/textmode")
    def readStamp(): Option[String] =
      if (!fsys.exists(stamp)) None
      else {
        val in = fsys.open(stamp)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString.trim)
        finally in.close()
      }
    if (!fsys.exists(probe)) {
      println(s"[scale] building ${copies}x ($textMode) of $base " +
        s"under $out")
      // stamp BEFORE the build: a crash mid-scaleUp leaves stamp
      // without probe (next run rebuilds and re-stamps), never probe
      // without stamp (which would fall into the legacy default and
      // could mislabel a half-built heaps dir as bijection)
      val os = fsys.create(stamp, true)
      try os.write(textMode.getBytes("UTF-8")) finally os.close()
      scaleUp(spark, base, out, copies, eventsCopies, textMode)
    } else {
      // pre-stamp dirs (built before this check) default to the
      // default mode — exactly what they were built with
      val built = readStamp().getOrElse("bijection")
      require(built == textMode,
        s"[scale] $out was built with textMode=$built but this run " +
          s"asked for $textMode — use a distinct SPARK_GRAFT_SCALE_DIR " +
          "per mode (the derivations are not comparable)")
      println(s"[scale] reusing $out (textMode=$built)")
    }

    // both scales timed in THIS JVM so the ratio is box-consistent;
    // per QUERY the base reps run immediately before the scaled reps
    // (interleaved by query, not scale-batched) so JIT/codegen warm-up
    // from the whole base sweep cannot one-sidedly deflate the scaled
    // minima — the warm-up both scales see is the same query's
    val results = for (name <- queries; dir <- Seq(base, out)) yield {
      val fn = Battery.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Dedup.releasePersisted()
        (dt, n)
      }
      val tag = if (dir == base) "sf0.1" else s"x$copies"
      println(f"[scale] $tag $name rows=${times.head._2} " +
        times.map(t => f"${t._1}%.2f").mkString(" ") +
        f" min=${times.map(_._1).min}%.2f")
      (name, tag, times.map(_._1).min)
    }
    results.grouped(2).foreach { case Seq((n, _, b), (_, _, s)) =>
      println(f"[scale] factor $n ${s / b}%.1fx")
    case _ => ()
    }
    spark.stop()
  }
}
