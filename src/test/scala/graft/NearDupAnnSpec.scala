package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.text.NearDup
import graft.sim.Ann
import graft.multimodal.MultiModal

class NearDupAnnSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH verified pairs are a subset of exact jaccard pairs and find planted dups") {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup").toString
    val base = (0L until 50L).map { i =>
      val words = (0 until 40).map(j => s"tok${(i * 7 + j * 3) % 97}")
      (i, words.mkString(" "), "en", "srcX", words.mkString(" ").length.toLong)
    }
    // plant: docs 100/101 are near-identical (39/41 token overlap)
    val planted = Seq(
      (100L, (0 until 40).map(j => s"dup$j").mkString(" "), "en", "srcX", 1L),
      (101L, ((0 until 39).map(j => s"dup$j") :+ "extra").mkString(" "), "en", "srcX", 1L))
    (base ++ planted).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val exact = NearDup.jaccardPairs(spark, dir, thresholdPct = 80)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = NearDup.minhashLsh(spark, dir, numHashes = 16, bands = 4, thresholdPct = 80)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-verified pairs: ${lsh -- exact}")
    assert(exact.contains((100L, 101L)), "exact jaccard must find the planted pair")
    assert(lsh.contains((100L, 101L)), "LSH must recall the planted near-identical pair")
  }

  test("ngram jaccard catches boundary-shift near-dups that word jaccard misses") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ngram").toString
    // doc 1 = doc 0 with ONE space removed: word sets share only 1 of 4
    // words (jaccard 0.25) but 3-gram sets stay ~0.8 similar
    val docs = Seq(
      (0L, "abcdefgh ijklmnop qrstuvwx", "en", "s", 26L),
      (1L, "abcdefghijklmnop qrstuvwx", "en", "s", 25L),
      (2L, "zz yy xx ww vv uu tt ss", "en", "s", 23L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ng = NearDup.ngramJaccardPairs(spark, dir, n = 3, thresholdPct = 70)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val words = NearDup.jaccardPairs(spark, dir, thresholdPct = 70)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ng.contains((0L, 1L)), s"shingle jaccard must catch the boundary shift, got $ng")
    assert(!words.contains((0L, 1L)), "word jaccard sees disjoint tokens here")
    assert(!ng.contains((0L, 2L)) && !ng.contains((1L, 2L)))
  }

  test("simhash: identical token multisets collide at hamming 0") {
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "totally different words here entirely unrelated"))
      .toDF("doc_id", "text")
    val sh = NearDup.simhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 8)
  }

  test("brute cosine top-k is exact on a hand-built fixture") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.0f, 0.9f, 0.2f), 1)) // closest to 2
    vecs.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top1 = Ann.bruteTopK(spark, dir, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(0L) == 1L && top1(1L) == 0L && top1(2L) == 3L && top1(3L) == 2L)
  }

  test("IVF ANN achieves recall@3 >= 0.9 against brute force on sf0.001 at default params") {
    val brute = Ann.bruteTopK(spark, sf, k = 3)
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.ivfTopK(spark, sf, k = 3) // c=64, nprobe=32
      .select("vec_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, f"IVF recall@3 too low: $recall%.3f")
  }

  test("ivfParams: √n centroid law, constant nprobe, caps") {
    assert(Ann.ivfParams(500L) == (64, 32))       // small corpora: the measured-recall config
    assert(Ann.ivfParams(4096L) == (64, 32))
    assert(Ann.ivfParams(16384L) == (128, 32))    // √n past the 64 floor
    assert(Ann.ivfParams(100000000L) == (10000, 32))
    val huge = Ann.ivfParams(Long.MaxValue)
    assert(huge._1 == 65536 && huge._2 == 32)     // broadcast cap
  }

  test("IVF candidate pairs follow the sub-quadratic law at two corpus sizes") {
    // diffuse 16-dim corpora at n and 4n; candidate pairs must track
    // nprobe·n²/c = nprobe·n^1.5 under the auto √n law — a fixed scan
    // fraction (the round-2 defaults) would grow them 16× from n to 4n
    def mkCorpus(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ivfscale-$n").toString
      (0 until n).map { i =>
        (i.toLong, Array.tabulate(16)(d =>
          ((graft.synth.SynthWorld.mix(i.toLong * 7919 + d) % 1000L) / 1000.0f)), 0)
      }.toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    val (n1, n2) = (4096, 16384)
    val p1 = Ann.ivfCandidatePairs(spark, mkCorpus(n1)) // auto: c=64,  nprobe=32
    val p2 = Ann.ivfCandidatePairs(spark, mkCorpus(n2)) // auto: c=128, nprobe=32
    def law(n: Long) = 32.0 * n * math.sqrt(n.toDouble) // nprobe·n^1.5
    assert(p1 <= 2 * law(n1), s"pairs($n1)=$p1 exceeds 2x the n^1.5 law ${2 * law(n1)}")
    assert(p2 <= 2 * law(n2), s"pairs($n2)=$p2 exceeds 2x the n^1.5 law ${2 * law(n2)}")
    val ratio = p2.toDouble / p1
    assert(ratio <= 10.0, // exact law: 8; quadratic (fixed fraction): 16
      s"pairs grew ${ratio}x from n=$n1 to n=$n2 — scan fraction is not decaying")
  }

  test("IVF recall@3 >= 0.9 holds at base AND 10x corpus size (auto params)") {
    // the scale contract ivfParams promises: as n grows 10×, c=√n grows and
    // the scan fraction nprobe/c DECAYS — recall must still hold on a
    // cluster-structured corpus (the StressBench generator; a pure-noise
    // corpus would measure the scan fraction, not the index)
    for (n <- Seq(1500L, 15000L)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-ivfrecall-$n").toString
      StressBench.writeEmbeddings(spark, n, dir)
      val ivf = Ann.ivfTopK(spark, dir, k = 3).select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = Ann.bruteTopK(spark, dir, k = 3).select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      assert(recall >= 0.9, f"IVF recall@3 at n=$n too low: $recall%.3f")
      // and the candidate count still obeys the sub-quadratic law
      val pairs = Ann.ivfCandidatePairs(spark, dir)
      val (_, nprobe) = Ann.ivfParams(n)
      assert(pairs <= 2.0 * nprobe * n * math.sqrt(n.toDouble),
        s"pairs($n)=$pairs exceeds 2x the nprobe*n^1.5 law")
    }
  }

  test("cosine near-dup finds planted twins and fails loudly past maxRows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cosdup").toString
    val base = (0L until 300L).map { i =>
      (i, Array.tabulate(64)(d =>
        ((graft.synth.SynthWorld.mix(i * 131 + d) % 1000L) / 1000.0f)), 0)
    }
    val twins = base.take(3).map { case (i, v, _) =>
      val w = v.clone(); w(0) = w(0) + 0.001f
      (i + 1000L, w, 1)
    }
    (base ++ twins).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val pairs = Ann.cosineNearDup(spark, dir, thresholdPct = 99).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 3L)
      assert(pairs.contains((i, i + 1000L)), s"planted twin ($i, ${i + 1000}) missed")
    // the all-pairs join refuses unbounded corpora like exactTopK does
    val e = intercept[IllegalArgumentException] {
      Ann.cosineNearDup(spark, dir, maxRows = 10L).collect()
    }
    assert(e.getMessage.contains("ivfTopK"))
  }

  test("exactTopK fails loudly past its row bound instead of launching an n² job") {
    val e = intercept[IllegalArgumentException] {
      Ann.exactTopK(spark, sf, k = 1, maxRows = 10L).collect()
    }
    assert(e.getMessage.contains("ivfTopK"))
  }

  test("distributed exactTopK matches the driver-broadcast brute oracle") {
    val brute = Ann.bruteTopK(spark, sf, k = 3)
      .select("vec_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dist = Ann.exactTopK(spark, sf, k = 3)
      .select("vec_id", "rank", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(dist == brute)
  }

  test("multimodal feature extraction preserves schema and batch shape") {
    val feats = MultiModal.extractFeatures(MultiModal.synthMedia(spark, 500L)).toDF().cache()
    assert(feats.count() == 500)
    assert(feats.filter(size(col("feature")) =!= 16).count() == 0)
    val kinds = feats.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
    // video frame sampling: frames_sampled = ceil(nBlocks16 / stride)
    val v = feats.filter(col("kind") === "video")
      .select("n_bytes", "frames_sampled").collect()
    assert(v.nonEmpty)
    for (r <- v) {
      val blocks = (r.getLong(0) + 15) / 16
      assert(r.getInt(1) == ((blocks + 3) / 4).toInt,
        s"video frames ${r.getInt(1)} != ceil($blocks/4)")
    }
    // deterministic: same seed → same features
    val again = MultiModal.extractFeatures(MultiModal.synthMedia(spark, 500L)).toDF()
    assert(feats.select("media_id", "feature").exceptAll(
      again.select("media_id", "feature")).count() == 0)
  }
}
