package graft.tools

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import graft.{Bench, Session, SparkEntry, StressBench}
import graft.sim.Ann
import graft.web.Flagship

/** Plan and job inspection of the SparkEntry queries and two named frames,
  * on `local[SPARK_GRAFT_CPUS]` (default 32). The named frames are
  * `flagship`, the parquet-scan Flagship.geocodePages plan, and `ivf50k`,
  * `Ann.ivfTopK` over the 50k-vector StressBench corpus (written under
  * java.io.tmpdir on first use). Both modes take either kind of name:
  *
  *   runMain graft.tools.Inspect plans <outDir> [suffix] [q…]
  *     writes `explain("formatted")` of each query to
  *     `<outDir>/<q>_<suffix>.txt` (suffix default "after"; names default
  *     to all queries plus `flagship`; `ivf50k` trains an index, so it
  *     runs only when named). Queries read SPARK_GRAFT_SF_DIR
  *     (default: the sf0.1 set Bench reads). Iterative operators
  *     (q36/q38/q44) run their rounds while the frame is built, so their
  *     plan is the final step over the rounds' truncated scans; the
  *     per-round plan story lives in the operator source and OPTIMIZATION
  *     notes.
  *   runMain graft.tools.Inspect profile <sfDir> [q…]
  *     runs each name twice (JIT warm) and prints the second run's
  *     build/plan/exec seconds and its jobs/stages with wall, task time, GC
  *     and shuffle-write bytes. Only the second run is counted, so `ivf50k`
  *     counts `ivfTopK`'s jobs without the corpus write.
  *
  * [[plans]] and [[profile]] leave the session running, so a spec can call
  * them on a shared session.
  */
object Inspect {

  /** Collects (jobId, description, wall seconds) for every completed job. */
  class JobTimer extends org.apache.spark.scheduler.SparkListener {
    case class J(id: Int, desc: String, start: Long)
    private val inflight = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double)]()
    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      val d = Option(js.properties.getProperty("spark.job.description")).getOrElse("")
      inflight.put(js.jobId, J(js.jobId, d, js.time))
    }
    override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val j = inflight.remove(je.jobId)
      if (j != null) done.add((j.id, j.desc, (je.time - j.start) / 1e3))
    }
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Double, Double, Double, Long, Long)]()
    override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val i = sc.stageInfo
      val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield (a - b) / 1e3).getOrElse(-1.0)
      val m = i.taskMetrics
      stages.add((i.stageId, i.name.take(80), wall, m.executorRunTime / 1e3,
        m.jvmGCTime / 1e3, i.numTasks.toLong, m.shuffleWriteMetrics.bytesWritten))
    }
    def reset(): Unit = { done.clear(); stages.clear() }
    def dump(label: String): Unit = {
      import scala.jdk.CollectionConverters._
      val js = done.asScala.toSeq.sortBy(_._1)
      println(f"[hier] --- jobs for $label: n=${js.size}, sum=${js.map(_._3).sum}%.2f s")
      js.foreach { case (id, d, s) => if (s > 0.2) println(f"[hier]   job $id%4d $s%6.2f s  $d") }
      val ss = stages.asScala.toSeq.sortBy(_._1)
      println(f"[hier] --- stages for $label: n=${ss.size}, wallSum=${ss.map(_._3).sum}%.2f s, " +
        f"taskTimeSum=${ss.map(_._4).sum}%.2f s, gcSum=${ss.map(_._5).sum}%.2f s, " +
        s"shuffleWrite=${ss.map(_._7).sum} B")
      ss.foreach { case (id, n, w, tt, gc, nt, _) =>
        if (w > 0.2) println(f"[hier]   stage $id%4d wall=$w%6.2f tt=$tt%7.2f gc=$gc%5.2f tasks=$nt%3d  $n") }
    }
  }

  /** The plan name for the flagship geocode over a materialized pages scan. */
  val FlagshipPlan = "flagship"

  private def frame(spark: SparkSession, sfDir: String, name: String): DataFrame = name match {
    case FlagshipPlan =>
      val cfg = Bench.benchCfg(100000L)
      Flagship.geocodePages(spark, spark.read.parquet(Flagship.materializePages(spark, cfg)), cfg)
    case "ivf50k" => Ann.ivfTopK(spark, StressBench.embeddingsDir(spark, 50000L), k = 3)
    case q => SparkEntry.queries(q)(spark, sfDir)
  }

  /** Writes `<outDir>/<name>_<suffix>.txt` per name and returns the files
    * written; a name whose plan fails is reported and skipped. */
  def plans(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
            names: Seq[String]): Seq[Path] = {
    Files.createDirectories(Paths.get(outDir))
    names.flatMap { n =>
      try {
        val txt = frame(spark, sfDir, n).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val p = Paths.get(outDir, s"${n}_$suffix.txt")
        Files.writeString(p, txt)
        println(s"[inspect] wrote $p (${txt.length} chars)")
        Some(p)
      } catch {
        case e: Throwable => println(s"[inspect] $n FAILED: ${e.getMessage}"); None
      }
    }
  }

  /** A named frame's warm run: build/plan/exec seconds and its jobs
    * (jobId, description, wall seconds). */
  case class Profile(name: String, buildS: Double, planS: Double, execS: Double,
                     jobs: Seq[(Int, String, Double)])

  def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Profile] = {
    val timer = new JobTimer
    spark.sparkContext.addSparkListener(timer)
    try names.map { n =>
      def run(): (Double, Double, Double) = {
        val t0 = System.nanoTime()
        val df = frame(spark, sfDir, n)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
      }
      run()
      Thread.sleep(200) // drain listener bus
      timer.reset()
      val (tBuild, tPlan, tExec) = run()
      Thread.sleep(500)
      println(f"[qprof] $n: build $tBuild%.2f + plan $tPlan%.2f + exec $tExec%.2f s")
      timer.dump(n)
      Profile(n, tBuild, tPlan, tExec, timer.done.asScala.toSeq.sortBy(_._1))
    } finally spark.sparkContext.removeSparkListener(timer)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && (args(0) == "plans" || args(0) == "profile"),
      "usage: Inspect plans <outDir> [suffix] [q…] | Inspect profile <sfDir> [q…]")
    val queries = SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try {
      if (args(0) == "plans")
        plans(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"), args(1),
          args.lift(2).getOrElse("after"),
          if (args.length > 3) args.drop(3).toSeq else FlagshipPlan +: queries)
      else profile(spark, args(1), if (args.length > 2) args.drop(2).toSeq else queries)
    } finally spark.stop()
  }
}
