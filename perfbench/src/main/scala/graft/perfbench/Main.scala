package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, closed loop with one client:
  * session start, input generation (three times, the median is reported),
  * one warm iteration, then sequential iterations until `--seconds` have
  * passed. With `--trace 1` untraced and traced iterations alternate, and
  * the spans are written as JSONL. Raw samples go to `result.json` in the
  * run directory; perfbench/run.py turns them into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --cores C --run-dir D */
object Main {
  def workload(name: String): Workload = name match {
    case "ingest_curate" => new Chain(new GeocodeIngest(pages = 40000),
      new CurateDedup(pages = 20000, docs = 2000))
    case "hierarchy_react" => new HierarchyReact(gridP = 3, gridC = 2, simSteps = 2, bfsStates = 2, bfsOccurrences = 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val dir = Paths.get(a("run-dir")).toAbsolutePath
    val w = workload(a("workload"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

    val run = new Run(spark, a("seed").toLong, cores, dir)
    val inputsS = (1 to 3).map { k =>
      val t = time(w.generate(run, Files.createDirectories(dir.resolve(s"inputs-$k"))))
      Run.deleteTree(dir.resolve(s"inputs-${k - 1}"))
      t
    }
    w.prepare(run)
    // a failed op is already counted by Run.op; stop iterating after it
    var aborted = false
    def guarded(f: => Double): Double =
      try f catch { case e: Exception => aborted = true; e.printStackTrace(); Double.NaN }
    w.reset(run)
    val warmS = guarded(time(w.iteration(run, traced = false)))

    val probe = new Probe
    val tracer = new Tracer(spark.sparkContext, probe)
    var (untracedWalls, tracedWalls) = (Vector.empty[Double], Vector.empty[Double])
    val t0 = System.nanoTime()
    var i = 0
    // at least three iterations: a median of two is their mean, which
    // still carries the slower first iteration after the warm one
    while (!aborted && ((System.nanoTime() - t0) / 1e9 < seconds || i < 3)) {
      val traced = trace && i % 2 == 1
      w.reset(run)
      run.iteration = s"it$i"
      run.recording = !traced
      run.opSecs = 0.0
      val wall = guarded {
        if (!traced) time(w.iteration(run, traced = false))
        else {
          spark.sparkContext.addSparkListener(probe)
          run.tracer = Some(tracer)
          val gc0 = Tracer.gcMs()
          Tracer.resetHeapPeak()
          val t = time(tracer.span("iteration", run.iteration) {
            w.iteration(run, traced = true)
            tracer.attr("gc_ms", (Tracer.gcMs() - gc0).toDouble)
            tracer.attr("heap_peak_mb", Tracer.heapPeakMb())
          })
          run.tracer = None
          probe.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(probe)
          t
        }
      }
      if (traced) tracedWalls :+= wall else untracedWalls :+= wall
      run.sample("iteration_s", run.opSecs)
      i += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    if (trace) {
      run.tracer = Some(tracer)
      for (k <- 0 until 3) { run.iteration = s"kernels$k"; w.kernels(run) }
      run.tracer = None
      tracer.writeJsonl(dir.resolve("spans.jsonl"))
    }

    def arr(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ", ", "]")
    val samples = run.samples.map { case (k, v) => s"${Json.str(k)}: ${arr(v.toSeq)}" }
    Files.writeString(dir.resolve("result.json"),
      s"""{"workload": ${Json.str(a("workload"))}, "config": ${Json.str(w.describe)},
         | "spark_version": ${Json.str(spark.version)}, "heap_mb": ${Runtime.getRuntime.maxMemory / 1048576},
         | "session_s": $sessionS, "inputs_s": ${arr(inputsS)}, "warm_s": ${Json.num(warmS)},
         | "measure_s": $measureS, "iterations": $i,
         | "untraced_iteration_s": ${arr(untracedWalls)}, "traced_iteration_s": ${arr(tracedWalls)},
         | "attempted": ${run.attempted}, "failed": ${run.failed},
         | "failures": ${run.failures.map(Json.str).mkString("[", ", ", "]")},
         | "samples": {${samples.mkString(", ")}}}
         |""".stripMargin)
    spark.stop()
  }
}
