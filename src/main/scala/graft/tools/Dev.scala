package graft.tools

import scala.jdk.CollectionConverters._

import graft.{GraftSession, Verify}
import graft.queries.Battery
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SortExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec,
  SortMergeJoinExec}

/**
 * The battery dev loop, one verb per question, on the bench's session
 * shape (`local[SPARK_GRAFT_CPUS]`, default 32):
 *
 *  - `time <query...>`: same-JVM reps of each query, every rep printed
 *    (the first carries codegen/JIT warm-up; read the later reps):
 *    `[timeq] <query> rows=<n> <s> <s> ...`
 *  - `jobs <query...>`: Spark jobs, stages, tasks and stage time per rep,
 *    then the 15 costliest stage shapes of the last rep — per-stage
 *    scheduling overhead against compute: `[jobs] <query> rep<r> ...`
 *  - `plan <query...>`: runs each query once, then an inventory line
 *    (shuffle exchanges, join strategies, codegen spans, sorts — counted
 *    by operator class over the final adaptive plan) and the formatted
 *    physical plan
 *  - `verify <sfDir> <outDir> <query...>`: [[graft.Verify]] for just the
 *    named queries, for `scripts/compare_oracle.py <sfDir> <outDir>`;
 *    exits 1 when any query failed
 *
 * With no query names, `time`, `jobs` and `plan` take every battery query.
 * Env: SPARK_GRAFT_SF_DIR (default sf0.1) for `time`/`jobs`/`plan`,
 * SPARK_GRAFT_BENCH_REPS (default 3) for `time`/`jobs`.
 *
 *   runMain graft.tools.Dev time q40_ngram_jaccard
 */
object Dev {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Dev time|jobs|plan <query...> | verify <sfDir> <outDir> <query...>"
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    def names(given: Seq[String]): Seq[String] =
      if (given.nonEmpty) given else Battery.queries.keys.toSeq.sorted
    val spark = GraftSession.battery()
    val failed = try args(0) match {
      case "time" => time(spark, sfDir, names(args.toSeq.tail), reps); Nil
      case "jobs" => jobs(spark, sfDir, names(args.toSeq.tail), reps); Nil
      case "plan" => names(args.toSeq.tail).foreach(plan(spark, sfDir, _)); Nil
      case "verify" if args.length >= 4 =>
        Verify.dump(spark, args(1), args(2), args.toSeq.drop(3))
      case _ => throw new IllegalArgumentException(usage)
    } finally spark.stop()
    Verify.exitOnFailure(failed)
  }

  private def run(spark: SparkSession, sfDir: String, name: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = Battery.queries(name)(spark, sfDir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    graft.operators.Dedup.releasePersisted()
    (n, dt)
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Unit = {
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).count()
    catch { case _: Throwable => () }
    names.foreach { name =>
      val times = (1 to reps).map(_ => run(spark, sfDir, name))
      println(f"[timeq] $name rows=${times.head._1} " +
        times.map(t => f"${t._2}%.2f").mkString(" "))
    }
  }

  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String],
      reps: Int): Unit = {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var stageMs = 0L
    val byShape = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        val ms = (for (a <- s.stageInfo.submissionTime;
          b <- s.stageInfo.completionTime) yield b - a).getOrElse(0L)
        stageMs += ms
        val key = s.stageInfo.name.takeWhile(_ != '(').trim + " @ " +
          s.stageInfo.name.dropWhile(_ != '(').replaceAll("[0-9]+", "N").take(60)
        byShape.merge(key, (1, ms), (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    })
    for (name <- names; r <- 1 to reps) {
      jobs = 0; stages = 0; tasks = 0; stageMs = 0; byShape.clear()
      val (n, dt) = run(spark, sfDir, name)
      Thread.sleep(300) // let the listener bus drain
      println(f"[jobs] $name rep$r rows=$n wall=$dt%.2f s " +
        f"jobs=$jobs stages=$stages tasks=$tasks stageTime=${stageMs / 1e3}%.2f s")
      if (r == reps) byShape.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
        case (k, (c, ms)) => println(f"[jobs]   ${ms / 1e3}%6.2f s x$c%-3d $k")
      }
    }
  }

  private def plan(spark: SparkSession, sfDir: String, name: String): Unit = {
    try {
      val df = Battery.queries(name)(spark, sfDir)
      // run once: under AQE the plan before execution is the initial
      // one, without the codegen spans and join choices it ends with
      df.queryExecution.toRdd.count()
      val ops = new AdaptiveSparkPlanHelper {}
        .collect(df.queryExecution.executedPlan) { case p => p }
      def n(f: SparkPlan => Boolean) = ops.count(f)
      println(s"[explain] $name exch=${n(_.isInstanceOf[ShuffleExchangeLike])} " +
        s"smj=${n(_.isInstanceOf[SortMergeJoinExec])} " +
        s"bhj=${n(_.isInstanceOf[BroadcastHashJoinExec])} " +
        s"shj=${n(_.isInstanceOf[ShuffledHashJoinExec])} " +
        s"bnl=${n(_.isInstanceOf[BroadcastNestedLoopJoinExec])} " +
        s"cart=${n(_.isInstanceOf[CartesianProductExec])} " +
        s"wscg=${n(_.isInstanceOf[WholeStageCodegenExec])} " +
        s"sort=${n(_.isInstanceOf[SortExec])}")
      println(df.queryExecution.explainString(FormattedMode))
    } catch { case e: Throwable =>
      println(s"[explain] $name FAILED: ${e.getMessage}")
    }
    graft.operators.Dedup.releasePersisted()
  }
}
