package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one benchmark process shares with its workload: the session, the
  * seed, a working area inside the run directory, timed samples and the
  * output checks. */
final class Run(val spark: SparkSession, val seed: Long, val cores: Int, val dir: Path) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  /** Samples are dropped while warming up; checks always count. */
  var recording = false
  /** Seconds spent inside timed ops since the iteration began. */
  var opSecs = 0.0
  var tracer: Option[Tracer] = None
  var iteration = "warm"
  private var fresh = 0

  def sample(name: String, v: Double): Unit =
    if (recording) samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** A timed operation: its wall seconds, then its output check outside the
    * timing. An exception or a failed check counts the op as failed. */
  def op[T](name: String)(body: => T)(check: T => Seq[String]): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try tracer.fold(body)(_.span(name, iteration)(body))
      catch { case e: Exception => failed += 1; failures += s"$iteration $name: $e"; throw e }
    val secs = (System.nanoTime() - t0) / 1e9
    opSecs += secs
    val bad = try check(out) catch { case e: Exception => Seq(s"check failed: $e") }
    if (bad.nonEmpty) { failed += 1; failures ++= bad.map(m => s"$iteration $name: $m") }
    (out, secs)
  }

  /** A traced sub-step: a span when tracing, the bare call otherwise. */
  def step[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, iteration)(body))

  def attr(k: String, v: Double): Unit = tracer.foreach(_.attr(k, v))

  /** A new empty directory for one iteration's output. */
  def freshDir(tag: String): Path = {
    fresh += 1
    val d = dir.resolve(s"$tag-$fresh")
    Run.deleteTree(d)
    Files.createDirectories(d)
  }

  def expect(ok: Boolean, msg: => String): Seq[String] = if (ok) Nil else Seq(msg)
}

object Run {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally st.close()
  }

  /** Parquet files and their bytes under a directory. */
  def parquetFiles(p: Path): (Int, Long) = {
    val st = Files.walk(p)
    try {
      val fs = st.filter(f => f.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[Path])
      (fs.length, fs.map(Files.size).sum)
    } finally st.close()
  }
}

/** One named workload: inputs made from the seed, then iterations. */
trait Workload {
  /** Write (or cache) the seeded inputs; called three times, into fresh
    * directories, and the last one is used. */
  def generate(run: Run, dir: Path): Unit
  /** Expectations for the checks, derived from the config (outside timing). */
  def prepare(run: Run): Unit = ()
  /** Drop the previous iteration's caches and re-cache inputs. */
  def reset(run: Run): Unit = run.spark.catalog.clearCache()
  def iteration(run: Run, traced: Boolean): Unit
  /** Driver-side per-call kernel timings (traced runs only). */
  def kernels(run: Run): Unit = ()
  /** The workload's sizes, for the report. */
  def describe: String
}

/** Workloads run one after another within each iteration. */
final class Chain(parts: Workload*) extends Workload {
  def generate(run: Run, dir: Path): Unit = parts.foreach(_.generate(run, dir))
  override def prepare(run: Run): Unit = parts.foreach(_.prepare(run))
  override def reset(run: Run): Unit = parts.foreach(_.reset(run))
  def iteration(run: Run, traced: Boolean): Unit = parts.foreach(_.iteration(run, traced))
  override def kernels(run: Run): Unit = parts.foreach(_.kernels(run))
  def describe: String = parts.map(_.describe).mkString("; ")
}
