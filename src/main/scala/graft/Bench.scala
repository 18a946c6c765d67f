package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.battery()
    // warm the session (scheduler, codegen, parquet footers) so the first
    // timed query isn't charged for one-time init
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    catch { case _: Throwable => () }
    // one UNTIMED warmup rep per query (whole-stage codegen compilation
    // and JIT are one-time per query shape — at production scale they
    // are noise, and charging them to rep 1 skewed the median), then the
    // MIN of 3 timed reps: timing noise on this box is one-sided (GC
    // hiccups, CPU contention from co-tenants only ever ADD time — the
    // r03 record caught q25 at 5.1 s for a whole multi-rep window vs its
    // reproducible 0.8-1.3 s), so the fastest rep is the best estimate
    // of the query's true cost and the only statistic stable enough for
    // round-over-round comparison
    // 5 timed reps (was 3): the simhash/vector family's JIT warm-up
    // slope runs ~5 executions deep (measured rep-for-rep identical at
    // two commits: ~1.1, 1.1, 0.78, 0.66, 0.62 after the untimed rep),
    // so a 3-rep min sits on the slope and moves with JVM state — the
    // r5→r6 "q25-q28 regression" was exactly this, not code
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
    // Reps are INTERLEAVED round-robin (all queries once per round; one
    // untimed warmup round, then `reps` timed rounds; min per query
    // across rounds), not run back-to-back per query: this box's noise
    // comes as multi-second stalls clustered in time (r8 JVM-state probe,
    // last in 53a609c: same-JVM reps of one query swing 3.8→16.5 s
    // inside one window while the same query minutes later is steady),
    // and 6 consecutive reps of a 0.15 s query all fit inside one
    // stall — the r7
    // "regressions" on untouched short queries (q21 0.85 vs 0.13 s
    // steady in-battery) were exactly that. Spreading each query's reps
    // across the full sweep makes the min robust to any stall shorter
    // than a whole round. Same executions, same statistic, reordered.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // a failed rep is reported and fails the run after the JSON line is
    // out; its time is still recorded so the line keeps its shape
    var failed = false
    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        failed = true
        System.err.println(s"[bench] $name failed: $e")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // each rep re-caches its own intermediates; release so reps (and
      // queries) are independent and storage never accumulates
      graft.operators.Dedup.releasePersisted()
      dt
    }
    val samples = (0 to reps).flatMap { round =>
      names.map { case (name, fn) => (name, round, timeOne(name, fn)) }
    }
    // EXTRA interleaved rounds for the SLOWEST queries only: at 5 reps
    // the >1 s queries still carried ±30% same-path cross-JVM spread
    // (the r14 NOTES box-variance table) — exactly the queries where a
    // regression matters most had the least statistical power. A
    // deeper min for the tail costs ~extraRounds × sum(slow mins),
    // bounded and small relative to the full sweep; the short queries'
    // 5-rep min was already stable (their noise is the multi-second
    // stall the round-robin already rides over).
    val slowN = sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_N", "12").toInt
    val extraRounds =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SLOW_ROUNDS", "5").toInt
    val prelimMin: Map[String, Double] = names.map { case (name, _) =>
      name -> samples.collect {
        case (n, round, dt) if n == name && round > 0 => dt }.min
    }.toMap
    val slow = names.sortBy { case (n, _) => -prelimMin(n) }.take(slowN)
    val extras = (1 to extraRounds).flatMap { round =>
      slow.map { case (name, fn) =>
        (name, reps + round, timeOne(name, fn)) }
    }
    val all = samples ++ extras
    val results = names.map { case (name, _) =>
      val times = all.collect {
        case (n, round, dt) if n == name && round > 0 => dt
      }.sorted
      (name, times.min, times(times.size / 2), times.size)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // both statistics recorded so cross-round comparisons are
    // apples-to-apples regardless of which one a prior round used:
    // "queries"/"value" = min of reps (official since r04; noise on this
    // box is one-sided), "queries_median"/"value_median" = median.
    val qsMed = results.map { case (k, _, m, _) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    // per-query rep count: the min-deepening protocol gives the slowest
    // SLOW_N queries extra rounds, so published mins come from different
    // sample sizes — tagged per query so a cross-window comparison can
    // never silently mix 5-rep and 10-rep protocols
    val qsReps = results.map { case (k, _, _, r) => s"\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val totalMed = results.map(_._3).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","stat":"min","value_median":$totalMed,"queries":$qs,"queries_median":$qsMed,"queries_reps":$qsReps,"sf":"$sfDir"}"""
    println(json)
    // also land the JSON in a file so round-over-round comparison doesn't
    // depend on scraping the sbt log tail
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(out)
      try w.println(json) finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
