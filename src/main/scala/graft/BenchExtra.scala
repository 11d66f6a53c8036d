package graft

import graft.tools.Inspect.JobTimer

/** Extra isolated benchmarks (guide §1.4 posture) — NOT part of the driver
  * bench contract; cited in OPTIMIZATION_r06.md. Usage:
  * `runMain graft.BenchExtra <section…>` on `local[SPARK_GRAFT_CPUS]`
  * (default 32), with sections from:
  *  - `hier2shard`: Bench's two-shard hierarchy build, 3 runs;
  *  - `warc`: the 200k-page WARC ingest, 2 runs, jobs/stages of run 2;
  *  - `curate`: the 200k-page curation, 2 runs, jobs/stages of run 2;
  *  - `ivf`: StressBench's IVF recall and candidate-pair law;
  *  - `dedupstress`: the q25/q26 10x legs alone, 3 rounds each;
  *  - `ivfprof`: one 50k-vector `ivfTopK` with its jobs/stages.
  * With no arguments it runs ivf, hier2shard, warc and curate;
  * `dedupstress` and `ivfprof` run only when named. */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sections = if (args.nonEmpty) args.toSet else Set("ivf", "hier2shard", "warc", "curate")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def time(l: String)(f: => Any): Unit = {
      val t0 = System.nanoTime(); val r = f
      println(f"[extra] $l: ${(System.nanoTime() - t0) / 1e9}%.2f s ($r)")
    }

    if (sections("hier2shard")) {
      import graft.hier.PlacePipeline
      val (metas2, cached2) = Bench.twoShardInput(spark)
      for (i <- 1 to 3) {
        spark.catalog.clearCache()
        cached2.cache().count()
        time(s"hierarchy_build_2shard run$i") {
          PlacePipeline.stats(PlacePipeline.build(spark, cached2, metas2)).nNodes
        }
      }
      cached2.unpersist()
      spark.catalog.clearCache()
    }

    if (sections("warc") || sections("curate")) {
      val timer = new JobTimer
      spark.sparkContext.addSparkListener(timer)
      val iCfg = Bench.benchCfg(200000L)
      val dir = graft.web.Flagship.materializePages(spark, iCfg)
      if (sections("curate")) {
        // run twice (fresh outDir each) — run 2 is the steady-state number
        for (i <- 1 to 2) {
          val outDir = java.nio.file.Files.createTempDirectory("graft-curate-extra").toString
          timer.reset()
          time(s"curate_e2e_200k run$i") {
            graft.web.Curation.curate(spark,
              spark.read.parquet(dir).select("url", "warc_ts", "text", "lang"),
              outDir, "extra-curate", minTokens = 10,
              minMeanLenX100 = 100, maxMeanLenX100 = 2000, minStopwordBp = 0).pending.size
          }
          Thread.sleep(300)
          if (i == 2) timer.dump("curate run2")
        }
      }
      if (sections("warc")) {
        val warcDir = Bench.warcCorpus(spark, iCfg)
        for (i <- 1 to 2) {
          val outDir = java.nio.file.Files.createTempDirectory("graft-ingest-extra").toString
          timer.reset()
          time(s"warc_ingest_e2e_200k run$i") {
            graft.web.Flagship.ingestWarc(spark, warcDir, iCfg, outDir, "extra-snap").pending.size
          }
          Thread.sleep(300)
          if (i == 2) timer.dump("warc run2")
        }
      }
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
