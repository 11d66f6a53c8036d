package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.synth.SynthWorld
import graft.web.{Flagship, Geocode, Lineage}
import graft.cells.CellIndex

/** End-to-end correctness of the north-star spatial join against the
  * synthetic world's known-true containment (FIXTURES.md §3-4). */
class GeocodeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2,
    streetsPerCity = 3, buildingsPerStreet = 4, pages = 2000L)

  test("every page resolves to its true admin chain, tile, and building") {
    val out = Flagship.geocode(spark, cfg).cache()
    val expected = SynthWorld.expectedChains(spark, cfg)
    val joined = out.join(expected, "url").cache()
    assert(joined.count() == cfg.pages, "every page must geocode")

    val wrongChain = joined.filter(col("admin_chain") =!= col("expected_chain")).count()
    assert(wrongChain == 0, s"$wrongChain pages with wrong admin chain")

    val tileOf = udf { (lat: Double, lon: Double) =>
      CellIndex.cellOf(lat, lon, Flagship.TileLevel) }
    val wrongTile = joined.filter(col("cell_id") =!= tileOf(col("lat"), col("lon"))).count()
    assert(wrongTile == 0)

    // page coordinates round-trip through 6-decimal text (≈5 cm error);
    // the snap must still pick the source building, at sub-meter distance
    val badSnapId = joined.filter(col("nearest_building_id") =!= col("expected_building_id")).count()
    assert(badSnapId == 0, s"$badSnapId pages snapped to the wrong building")
    val badSnapD = joined.filter(col("nearest_building_dist_m") > 0.2).count()
    assert(badSnapD == 0, s"$badSnapD pages snapped at >0.2 m")

    assert(joined.filter(col("admin_level") =!= 8).count() == 0,
      "deepest containing boundary must be the city (level 8)")
  }

  test("extraction invariant: html→text is byte-identical per url") {
    val pages = SynthWorld.pages(spark, cfg).toDF()
    assert(Geocode.checkExtractionInvariant(pages) == 0L)
  }

  test("geoparsePresent equals geoparse + null filter, rows and values") {
    val pages = Seq(
      ("u1", "w", "geo:41.123456,1.654321 marker", "en"),
      ("u2", "w", "no marker at all", "en"),
      ("u3", "w", "prefix geo:-45.000001,2.000002 suffix", "en"))
      .toDF("url", "warc_ts", "text", "lang")
    val strict = Geocode.geoparsePresent(pages)
      .select("url", "lat", "lon").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val loose = Geocode.geoparse(pages)
      .filter(col("lat").isNotNull && col("lon").isNotNull)
      .select("url", "lat", "lon").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(strict == loose)
    assert(strict.map(_._1) == Set("u1", "u3"))
  }

  test("flagship plan: no regexp_extract reaches any Filter condition") {
    val dir = Flagship.materializePages(spark, cfg)
    val plan = Flagship.geocodePages(spark, spark.read.parquet(dir), cfg)
      .queryExecution.executedPlan.toString
    val filterLines = plan.linesIterator.filter(_.contains("Filter")).toSeq
    assert(filterLines.nonEmpty, "expected a pushed-down marker filter")
    assert(!filterLines.exists(_.contains("regexp_extract")),
      s"regexp_extract leaked into a Filter:\n${filterLines.mkString("\n")}")
    // the marker test is a single RLIKE predicate (it also echoes in the
    // scan's DataFilters line); the extraction regexes live in the Project
    assert(plan.contains("RLIKE"), "marker RLIKE filter missing from the plan")
  }

  test("gazetteer match is token-boundary and plans no nested-loop join") {
    val gaz = Seq(("tab", 1.0, 1.0), ("table scan", 2.0, 2.0), ("scan", 3.0, 3.0))
      .toDF("place_name", "g_lat", "g_lon")
    val pages = Seq(
      ("u1", "a table scan here"),  // 'scan' + 'table scan' hit; min name = 'scan'
      ("u2", "tab stop"),           // 'tab' hits as a token
      ("u3", "tables scanned"))     // substring-only: must NOT match anything
      .toDF("url", "text")
    val out = Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("url"))
    val got = out.collect().map(r => r.getAs[String]("url") -> r.getAs[String]("place_name")).toMap
    assert(got == Map("u1" -> "scan", "u2" -> "tab"))
    // the round-3 contains-NLJ shape is gone: the candidate join must be a
    // broadcast HASH join on the first token, never a nested loop
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join leaked into the gazetteer plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), "expected a broadcast hash join on tok0")
  }

  test("gazetteer tokenization: tabs, newlines, and space runs all delimit tokens") {
    val gaz = Seq(("dover", 1.0, 1.0), ("table scan", 2.0, 2.0))
      .toDF("place_name", "g_lat", "g_lon")
    val pages = Seq(
      (1L, "x\tdover\ny"),          // tab/newline boundaries around a single token
      (2L, "a table\nscan here"),   // multi-token sequence across a newline
      (3L, "a table  scan here"),   // double space inside the sequence
      (4L, "  dover leads"),        // leading whitespace → empty first token
      (5L, "dovercourt table-scan")) // substrings only: no match
      .toDF("doc_id", "text")
    val got = Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("place_name")).toMap
    assert(got == Map(1L -> "dover", 2L -> "table scan", 3L -> "table scan", 4L -> "dover"))
  }

  test("gazetteer broadcast bound fails loudly past maxNames") {
    val gaz = (1L to 50L).map(i => (s"name$i", 0.0, 0.0))
      .toDF("place_name", "g_lat", "g_lon")
    val pages = Seq((1L, "name7 here")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("doc_id"), maxNames = 10L)
    }
    assert(e.getMessage.contains("broadcasts the gazetteer") &&
      e.getMessage.contains("first-token join"))
    // at the bound itself the match still runs
    assert(Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("doc_id"), maxNames = 50L)
      .filter(col("place_name") === "name7").count() == 1)
  }

  test("distributed (broadcastDim=false) gazetteer equals the broadcast path, no name bound") {
    val gaz = Seq(("tab", 1.0, 1.0), ("table scan", 2.0, 2.0), ("scan", 3.0, 3.0),
      ("order sort table", 4.0, 4.0)).toDF("place_name", "g_lat", "g_lon")
    // deterministic pages over the gazetteer vocabulary ± noise tokens
    val vocab = Array("tab", "table", "scan", "order", "sort", "x", "y", "tables")
    val pages = (0L until 300L).map { i =>
      val toks = (0 until 8).map(j =>
        vocab(math.floorMod(SynthWorld.mix(i * 31 + j), vocab.length.toLong).toInt))
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    def run(bd: Boolean) = Geocode.gazetteerMatch(pages, gaz,
        keyCols = Seq("doc_id"), broadcastDim = bd)
      .collect().map(r => (r.getLong(0), r.getAs[String]("place_name"))).toSet
    assert(run(false) == run(true))
    // the fact×fact path must not broadcast the gazetteer side, and
    // maxNames must not bind (a 1-name bound still runs)
    val distPlan = Geocode.gazetteerMatch(pages, gaz,
      keyCols = Seq("doc_id"), broadcastDim = false, maxNames = 1L)
    assert(distPlan.count() > 0L) // guard skipped on the distributed path
    val planStr = distPlan.queryExecution.executedPlan.toString
    assert(!planStr.contains("BroadcastHashJoin") &&
      !planStr.contains("BroadcastNestedLoopJoin"),
      s"gazetteer side must ride shuffle joins in the fact×fact path:\n$planStr")
    assert(planStr.contains("ShuffledHashJoin"),
      s"expected the pinned shuffle_hash strategy on the gazetteer joins:\n$planStr")
  }

  test("gazetteer match returns the keys and match fields of matched pages only") {
    val gaz = Seq(("scan", 3.0, 3.0), ("table scan", 2.0, 2.0))
      .toDF("place_name", "g_lat", "g_lon")
    val pages = Seq((1L, "a table scan here"), (2L, "no hits at all"), (3L, "scan me"))
      .toDF("doc_id", "text")
    val narrow = Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("doc_id"))
    assert(narrow.collect().map(r => (r.getLong(0), r.getAs[String]("place_name"))).toSet ==
      Set((1L, "scan"), (3L, "scan")))
    // narrow contract: keys + match fields only (text never in the output)
    assert(narrow.columns.toSeq == Seq("doc_id", "place_name", "g_lat", "g_lon"))
  }

  test("gazetteer match equals the brute-force token-sequence reference on random worlds") {
    // randomized cross-check of the full inverted-index + n-gram pipeline
    // against a 5-line Scala reference: 200 pages of 0-30 tokens over a
    // 12-word vocab, 25 names of 1-3 tokens (many never occurring,
    // overlapping first tokens, duplicate-prone)
    val rng = new scala.util.Random(20260817L)
    val vocab = Vector("a", "b", "c", "dd", "ee", "ff", "g1", "g2", "h", "i", "jj", "k")
    val pages = (0 until 200).map { id =>
      val n = rng.nextInt(31)
      (id.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val names = (0 until 25).map { i =>
      val m = 1 + rng.nextInt(3)
      (Seq.fill(m)(vocab(rng.nextInt(vocab.size))).mkString(" "), i.toDouble, -i.toDouble)
    }.distinctBy(_._1)
    val got = Geocode.gazetteerMatch(pages.toDF("doc_id", "text"),
        names.toDF("place_name", "g_lat", "g_lon"), keyCols = Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getAs[String]("place_name")).toMap
    // reference: token-sequence containment + min-name tie-break, over the
    // pages that match at least one name
    def matches(text: String, name: String): Boolean =
      s" $text ".contains(s" $name ")
    val want = pages.flatMap { case (id, text) =>
      names.map(_._1).filter(matches(text, _)).sorted.headOption.map(id -> _)
    }.toMap
    assert(got == want, {
      val bad = (want.keySet ++ got.keySet).filter(k => got.get(k) != want.get(k)).take(5)
      s"mismatches at ${bad.map(k => (k, got.get(k), want.get(k))).mkString(", ")}"
    })
    assert(want.nonEmpty, "degenerate fixture: nothing matched")
    assert(want.size < pages.size, "degenerate fixture: everything matched")
  }

  test("duplicate keys never interleave token streams or forge n-grams") {
    val gaz = Seq(("a a", 1.0, 1.0), ("new york", 2.0, 2.0), ("a b", 3.0, 3.0))
      .toDF("place_name", "g_lat", "g_lon")
    // doc 1: two IDENTICAL rows — tied positions must not forge "a a";
    // doc 2: two DIFFERENT texts under one key — "new" + "york" sit in
    // separate streams, so "new york" must NOT match, while the union
    // semantics still finds "a b" from the second text
    val pages = Seq(
      (1L, "a b"), (1L, "a b"),
      (2L, "new here"), (2L, "york a b"))
      .toDF("doc_id", "text")
    val got = Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> Option(r.getAs[String]("place_name"))).toMap
    assert(got == Map(1L -> Some("a b"), 2L -> Some("a b")), s"got $got")
  }

  test("gazetteer fallback: null keys and re-crawled urls keep per-record matches") {
    val gaz = Seq(("spark", 51.5, -0.12), ("york", 2.0, 2.0))
      .toDF("place_name", "g_lat", "g_lon")
    val pages = Seq(
      (null.asInstanceOf[String], "t1", "visit spark today", "en"), // null key still matches
      ("u2", "t1", "about spark", "en"),
      ("u2", "t2", "about york", "en")) // re-crawl: each text matches its own name
      .toDF("url", "warc_ts", "text", "lang")
    val got = Geocode.gazetteerMatch(pages, gaz, keyCols = Seq("url", "warc_ts"))
      .collect().map(r => (Option(r.getAs[String]("url")), r.getAs[String]("warc_ts")) ->
        Option(r.getAs[java.lang.Double]("g_lat")).map(_.doubleValue)).toMap
    assert(got((None, "t1")) == Some(51.5))
    assert(got((Some("u2"), "t1")) == Some(51.5))
    assert(got((Some("u2"), "t2")) == Some(2.0))
  }

  test("gazetteer match handles empty gazetteer and empty pages without error") {
    val emptyGaz = Seq.empty[(String, Double, Double)].toDF("place_name", "g_lat", "g_lon")
    val pages = Seq((1L, "some text here")).toDF("doc_id", "text")
    assert(Geocode.gazetteerMatch(pages, emptyGaz, keyCols = Seq("doc_id")).count() == 0)
    val gaz = Seq(("x", 1.0, 1.0)).toDF("place_name", "g_lat", "g_lon")
    val emptyPages = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Geocode.gazetteerMatch(emptyPages, gaz, keyCols = Seq("doc_id")).count() == 0)
    // the page identity is required
    intercept[IllegalArgumentException](Geocode.gazetteerMatch(pages, gaz, keyCols = Nil))
  }

  test("curation pipeline: quality-filter, dedup with copy counts, resumable commit") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val good = ("the abcd " * 20).trim // 40 tokens, mean len ok, 50% stopword
    val good2 = ("the word here now " * 10).trim
    val pages = Seq(
      ("u1", base, good, "en"),
      ("u2", base, good, "en"),    // exact dup of u1 → collapses into it
      ("u3", base, "short", "en"), // rejected: too_short
      ("u4", base, good2, "en"))
      .toDF("url", "warc_ts", "text", "lang")
    val out = java.nio.file.Files.createTempDirectory("graft-curate").toString
    val r1 = graft.web.Curation.curate(spark, pages, out, "snap-1")
    assert(r1.pending.nonEmpty && r1.skipped.isEmpty)
    val curated = spark.read.parquet(s"$out/data")
    val rows = curated.select("url", "n_copies", "n_tokens", "n_bpe_tokens")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("u1", "u4"), s"got ${rows.keySet}")
    assert(rows("u1")._1 == 2L, "dup pair must collapse with n_copies = 2")
    assert(rows("u4")._1 == 1L)
    assert(rows("u1")._2 == 40L) // whitespace tokens
    assert(rows("u1")._3 == 40L) // all-letter tokens: BPE count agrees here
    // resume: a second run over the same input rewrites nothing
    val r2 = graft.web.Curation.curate(spark, pages, out, "snap-2")
    assert(r2.pending.isEmpty && r2.skipped.toSet == r1.pending.toSet)
    assert(graft.web.Lineage.audit(spark, out).isEmpty, "audit must be clean")
  }

  test("splitsPerBucket bounds files per bucket while spreading hot buckets") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-splits").toString
    val df = Flagship.geocode(spark, cfg).repartition(16).cache()
    Lineage.run(spark, df, outDir, "snap-1", splitsPerBucket = 3)
    def filesOf(b: Long): Long = {
      val d = java.nio.file.Paths.get(outDir, "data", s"bucket=$b")
      java.nio.file.Files.list(d).toArray.count(_.toString.endsWith(".parquet"))
    }
    val buckets = Lineage.completed(outDir).keys.toSeq.sorted
    assert(buckets.forall(filesOf(_) <= 3), "file count per bucket must stay <= splits")
    assert(buckets.exists(filesOf(_) > 1), "a populated bucket must actually split")
    assert(Lineage.audit(spark, outDir).isEmpty)
    df.unpersist()
  }

  test("splitsPerBucket = 0 derives the write salt from the pending-bucket count") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-autosplit").toString
    val df = Flagship.geocode(spark, cfg).repartition(16).cache()
    val nBuckets = df.select("bucket").distinct().count().toInt
    val cores = spark.sparkContext.defaultParallelism
    val expectSplits = math.max(1, (cores + nBuckets - 1) / nBuckets)
    assume(expectSplits > 1, "spatial world must concentrate into few buckets")
    Lineage.run(spark, df, outDir, "snap-1", splitsPerBucket = 0)
    def filesOf(b: Long): Long = {
      val d = java.nio.file.Paths.get(outDir, "data", s"bucket=$b")
      java.nio.file.Files.list(d).toArray.count(_.toString.endsWith(".parquet"))
    }
    val buckets = Lineage.completed(outDir).keys.toSeq.sorted
    assert(buckets.forall(filesOf(_) <= expectSplits),
      s"file count per bucket must stay <= auto splits ($expectSplits)")
    assert(buckets.exists(filesOf(_) > 1),
      "the hot bucket must spread over more than one write task")
    assert(Lineage.audit(spark, outDir).isEmpty)
    df.unpersist()
  }

  test("an unsalted commit spreads its buckets over more than one write task") {
    assume(spark.sparkContext.defaultParallelism >= 2, "needs two task slots")
    val outDir = java.nio.file.Files.createTempDirectory("graft-unsalted").toString
    val df = spark.range(1000).select(
      concat(lit("u"), col("id").cast("string")).as("url"), (col("id") % 16).as("bucket"))
    Lineage.run(spark, df, outDir, "snap-1")
    // part-NNNNN names the write task's partition
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(outDir, "data"))
      .toArray.map(_.toString).filter(_.endsWith(".parquet"))
    val tasks = files.map(f => "part-(\\d{5})".r.findFirstMatchIn(f).get.group(1)).toSet
    assert(files.length == 16, "one file per bucket")
    assert(tasks.size >= 2, s"one write task wrote every bucket: ${tasks.mkString(",")}")
    assert(Lineage.audit(spark, outDir).isEmpty)
  }

  test("Lineage.run keeps a caller's cache of its input") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-precached").toString
    val df = Flagship.geocode(spark, cfg).cache()
    df.count()
    val level = df.storageLevel
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(level.useMemory || level.useDisk, s"the input must be cached, got $level")
    Lineage.run(spark, df, outDir, "snap-1")
    assert(df.storageLevel == level, "the caller's cache entry must survive the commit")
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    df.unpersist()
  }

  test("lineage manifests make the job resumable without recompute") {
    val outDir = java.nio.file.Files.createTempDirectory("graft-lineage").toString
    val df = Flagship.geocode(spark, cfg).cache()
    val buckets = df.select("bucket").distinct().collect().map(_.getLong(0)).sorted
    assert(buckets.length > 1, "need multiple buckets to exercise resume")

    // simulate a killed job: only a prefix of buckets completed
    val firstHalf = buckets.take(buckets.length / 2)
    val r1 = Lineage.run(spark, df.filter(col("bucket").isin(firstHalf: _*)), outDir, "snap-1")
    assert(r1.pending.sorted == firstHalf.toSeq)

    // resume: full input; completed buckets are skipped, not recomputed
    val r2 = Lineage.run(spark, df, outDir, "snap-2")
    assert(r2.skipped.sorted == firstHalf.toSeq)
    assert(r2.pending.sorted == buckets.drop(buckets.length / 2).toSeq)

    // third run: everything is a no-op
    val r3 = Lineage.run(spark, df, outDir, "snap-3")
    assert(r3.pending.isEmpty && r3.skipped.sorted == buckets.toSeq)

    // each run's snapshot record lists every bucket committed so far
    def snapshotBuckets(id: String): Seq[Long] = """"buckets": \[([^\]]*)\]""".r
      .findFirstMatchIn(java.nio.file.Files.readString(
        java.nio.file.Paths.get(outDir, "_snapshots", s"$id.json")))
      .get.group(1).split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    assert(snapshotBuckets("snap-1") == firstHalf.toSeq)
    assert(snapshotBuckets("snap-2") == buckets.toSeq)
    assert(snapshotBuckets("snap-3") == buckets.toSeq)

    // final output is complete and correct
    val out = spark.read.parquet(s"$outDir/data")
    assert(out.count() == df.count())
    assert(out.select("url").distinct().count() == cfg.pages)
    // manifests carry per-bucket lineage that matches the data
    val ms = Lineage.completed(outDir)
    val actual = out.groupBy("bucket").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ms.view.mapValues(_.rows).toMap == actual)

    // audit: healthy store has no mismatches; a tampered manifest is caught
    assert(Lineage.audit(spark, outDir).isEmpty)
    val victim = ms.keys.min
    val mPath = java.nio.file.Paths.get(outDir, "_manifests", s"bucket-$victim.json")
    java.nio.file.Files.writeString(mPath,
      java.nio.file.Files.readString(mPath).replaceFirst(""""rows": \d+""", "\"rows\": 1"))
    assert(Lineage.audit(spark, outDir) == Seq(victim))
  }
}
