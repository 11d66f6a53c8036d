package graft

import graft.tools.Inspect.JobTimer

/** Extra isolated benchmarks (guide §1.4 posture) — NOT part of the driver
  * bench contract; cited in OPTIMIZATION_r06.md. Usage:
  * `runMain graft.BenchExtra <section…>` on `local[SPARK_GRAFT_CPUS]`
  * (default 32), with sections from:
  *  - `ivf`: StressBench's IVF recall and candidate-pair law;
  *  - `dedupstress`: the q25/q26 10x legs alone, 3 rounds each;
  *  - `ivfprof`: one 50k-vector `ivfTopK` with its jobs/stages.
  * With no arguments it runs `ivf`. The hierarchy build, WARC ingest and
  * curation are timed by perfbench's `hierarchy_react` and
  * `ingest_curate` workloads. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sections = if (args.nonEmpty) args.toSet else Set("ivf")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def time(l: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[extra] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s ($r)")
    }

    if (sections("ivf")) {
      val rs = StressBench.runIvf(spark)
      println(s"[extra] ivf: ${rs.map { case (k, v) => s"$k=$v" }.mkString(", ")}")
    }

    if (sections("dedupstress")) {
      // the q25/q26 stress 10x legs in isolation, 3 rounds each — variance probe
      val tmp = sys.props("java.io.tmpdir")
      def docsDir(n: Long): String = {
        val d = s"$tmp/graft-stress-docs-$n"
        if (!new java.io.File(s"$d/documents.parquet/_SUCCESS").exists())
          StressBench.writeDocs(spark, n, d)
        d
      }
      docsDir(200000L)
      val timer = new JobTimer
      spark.sparkContext.addSparkListener(timer)
      for (i <- 1 to 3) {
        timer.reset()
        time(s"q25_jaccard_10x round$i") {
          graft.text.NearDup.jaccardPairs(spark, docsDir(200000L),
            thresholdPct = 80, maxDf = 1000, maxDocId = Long.MaxValue)
            .write.format("noop").mode("overwrite").save()
        }
        Thread.sleep(300)
        timer.dump(s"q25 round$i")
        spark.catalog.clearCache()
        time(s"q26_minhash_10x round$i") {
          graft.text.NearDup.minhashLsh(spark, docsDir(200000L),
            numHashes = 16, bands = 4, thresholdPct = 80, maxDocId = Long.MaxValue)
            .write.format("noop").mode("overwrite").save()
        }
        spark.catalog.clearCache()
      }
    }

    if (sections("ivfprof")) {
      val dir = s"${sys.props("java.io.tmpdir")}/graft-stress-emb-50000"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
        StressBench.writeEmbeddings(spark, 50000L, dir)
      // attached after the corpus write, so it counts only ivfTopK's jobs
      val timer = new JobTimer
      spark.sparkContext.addSparkListener(timer)
      time("ivfTopK 50k noop") {
        graft.sim.Ann.ivfTopK(spark, dir, k = 3)
          .write.format("noop").mode("overwrite").save()
      }
      Thread.sleep(500)
      timer.dump("ivfTopK 50k")
    }
    spark.stop()
  }
}
