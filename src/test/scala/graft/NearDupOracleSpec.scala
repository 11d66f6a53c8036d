package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.text.NearDup

/** Differential spec for the near-dup kernel: the Spark pair joins equal a
  * driver-side set-Jaccard oracle (same integer rule, same document-frequency
  * cap) on random micro-corpora, MinHash-LSH is a subset of the exact pairs,
  * and the per-row MinHash signature equals the groupBy formulation, kept
  * here as a test-only oracle (ScalaCheck generators, fixed seeds). */
class NearDupOracleSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private type Pair = (Long, Long, Long, Long, Long)
  private case class Corpus(docs: Seq[(Long, String)], maxDf: Int, pct: Int, n: Int)

  private val vocab = Vector("a", "ab", "abc", "b", "ba", "cab", "xy", "yx", "zz", "q")
  private val Hot = "hot"

  /** Docs are null, empty, spaces only, shorter than `n`, a fresh token list
    * (repeats allowed, the hot token in most), or a copy of an earlier list
    * with its set kept, one token added or one dropped. Tokens are joined
    * by runs of 1–3 spaces with optional leading and trailing spaces. */
  private val genCorpus: Gen[Corpus] = for {
    nDocs <- Gen.choose(3, 12)
    kinds <- Gen.listOfN(nDocs, Gen.frequency(1 -> "null", 1 -> "empty", 1 -> "spaces",
      1 -> "short", 4 -> "fresh", 5 -> "copy"))
    lists <- Gen.listOfN(nDocs, Gen.choose(1, 6).flatMap(k => Gen.listOfN(k, Gen.oneOf(vocab))))
    hot <- Gen.listOfN(nDocs, Gen.frequency(3 -> true, 1 -> false))
    picks <- Gen.listOfN(nDocs, Gen.choose(0, 1000))
    edits <- Gen.listOfN(nDocs, Gen.choose(0, 2))
    seps <- Gen.listOfN(nDocs, Gen.listOfN(8, Gen.frequency(4 -> " ", 1 -> "  ", 1 -> "   ")))
    pads <- Gen.listOfN(nDocs, Gen.zip(Gen.oneOf("", " ", "  "), Gen.oneOf("", " ", "  ")))
    ids <- Gen.pick(nDocs, 0L until 40L)
    idOrder <- Gen.listOfN(nDocs, Gen.choose(0, 1 << 20))
    maxDf <- Gen.choose(2, 4)
    pct <- Gen.oneOf(30, 50, 80)
    n <- Gen.choose(2, 4)
  } yield {
    val idOf = ids.toVector.zip(idOrder).sortBy(_._2).map(_._1)
    val made = collection.mutable.ArrayBuffer.empty[Seq[String]]
    val texts = (0 until nDocs).map { i =>
      def render(ts: Seq[String]): String =
        pads(i)._1 + ts.zipWithIndex.map { case (t, k) =>
          (if (k == 0) "" else seps(i)(k % 8)) + t
        }.mkString + pads(i)._2
      def fresh(): String = {
        val ts = if (hot(i)) lists(i) :+ Hot else lists(i)
        made += ts
        render(ts)
      }
      kinds(i) match {
        case "null" => null
        case "empty" => ""
        case "spaces" => " " * (1 + picks(i) % 3)
        case "short" => vocab(picks(i) % vocab.size).take(n - 1)
        case "copy" if made.nonEmpty =>
          val src = made(picks(i) % made.size)
          val ts = edits(i) match {
            case 0 => src.reverse
            case 1 => src :+ vocab(picks(i) % vocab.size)
            case _ => if (src.size > 1) src.tail else src
          }
          made += ts
          render(ts)
        case _ => fresh()
      }
    }
    Corpus(idOf.zip(texts), maxDf, pct, n)
  }

  private lazy val corpora: Seq[Corpus] =
    (1 to 16).map(i => genCorpus.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  // ── the driver-side oracle ──

  private def words(t: String): Set[String] =
    if (t == null) Set.empty else t.split(" ").filter(_.nonEmpty).toSet

  private def grams(t: String, n: Int): Set[String] =
    if (t == null || t.length < n) Set.empty
    else (0 to t.length - n).map(i => t.substring(i, i + n)).toSet

  private def wordSets(c: Corpus): Seq[(Long, Set[String])] = c.docs.map(d => d._1 -> words(d._2))
  private def gramSets(c: Corpus): Seq[(Long, Set[String])] =
    c.docs.map(d => d._1 -> grams(d._2, c.n))

  /** Element document frequencies over the per-doc sets. */
  private def dfs(sets: Seq[Set[String]]): Map[String, Int] =
    sets.flatten.groupBy(identity).map { case (e, xs) => e -> xs.size }

  private def oracle(sets: Seq[(Long, Set[String])], maxDf: Int, pct: Int): Set[Pair] = {
    val df = dfs(sets.map(_._2))
    val capped = sets.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }
    (for {
      (a, sa) <- capped
      (b, sb) <- capped if a < b
      inter = (sa & sb).size
      if inter > 0 && inter * 100 >= (sa.size + sb.size - inter) * pct
    } yield (a, b, inter.toLong, sa.size.toLong, sb.size.toLong)).toSet
  }

  private def rows(df: DataFrame): Set[Pair] =
    df.select("doc_a", "doc_b", "inter", "size_a", "size_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet

  private def write(c: Corpus): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-neardup-oracle").toString
    c.docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** The groupBy MinHash formulation: explode the distinct tokens, then one
    * min aggregate per hash — the test-only oracle of [[NearDup.minhash]]. */
  private def groupBySignatures(d: DataFrame, numHashes: Int): DataFrame = {
    val ts = d.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "").distinct()
    val aggs = (0 until numHashes).map(i => min(xxhash64(lit(i), col("token"))).as(s"h$i"))
    ts.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  test("generated micro-corpora cover the edge cases") {
    val texts = corpora.flatMap(_.docs.map(_._2))
    assert(texts.contains(null), "no null text")
    assert(texts.contains(""), "no empty text")
    assert(texts.exists(t => t != null && t.nonEmpty && t.trim.isEmpty), "no spaces-only text")
    assert(texts.exists(t => t != null && t.contains("  ") && t.trim.nonEmpty), "no run of spaces")
    assert(texts.exists(t => t != null && t.startsWith(" ") && t.trim.nonEmpty), "no leading space")
    assert(texts.exists { t =>
      val ws = if (t == null) Nil else t.split(" ").filter(_.nonEmpty).toSeq
      ws.distinct.size < ws.size
    }, "no repeated token")
    assert(corpora.exists(c => c.docs.exists { case (_, t) =>
      t != null && t.nonEmpty && t.length < c.n
    }), "no non-empty text shorter than n")
    assert(corpora.exists(c => dfs(wordSets(c).map(_._2)).values.exists(_ > c.maxDf)),
      "no word above maxDf")
    assert(corpora.exists(c => dfs(gramSets(c).map(_._2)).values.exists(_ > c.maxDf)),
      "no n-gram above maxDf")
    assert(corpora.count(c => oracle(wordSets(c), c.maxDf, c.pct).nonEmpty) >= 4,
      "too few corpora with word pairs")
    assert(corpora.count(c => oracle(gramSets(c), c.maxDf, c.pct).nonEmpty) >= 4,
      "too few corpora with n-gram pairs")
    assert(corpora.exists(c => oracle(wordSets(c), Int.MaxValue, 100).nonEmpty),
      "no pair of identical token sets")
  }

  test("jaccardPairs, ngramJaccardPairs and minhashLsh equal the set-Jaccard oracle") {
    for ((c, i) <- corpora.zipWithIndex) {
      val dir = write(c)
      val ctx = s"corpus $i (maxDf ${c.maxDf}, pct ${c.pct}, n ${c.n}): ${c.docs}"
      assert(rows(NearDup.jaccardPairs(spark, dir, c.pct, c.maxDf, Long.MaxValue)) ==
        oracle(wordSets(c), c.maxDf, c.pct), s"jaccardPairs, $ctx")
      assert(rows(NearDup.ngramJaccardPairs(spark, dir, c.n, c.pct, c.maxDf, Long.MaxValue)) ==
        oracle(gramSets(c), c.maxDf, c.pct), s"ngramJaccardPairs, $ctx")
      // minhashLsh has no df cap: it verifies against the uncapped sets
      val exact = oracle(wordSets(c), Int.MaxValue, c.pct)
      val lsh = rows(NearDup.minhashLsh(spark, dir, 16, 4, c.pct, Long.MaxValue))
      assert(lsh.subsetOf(exact), s"minhashLsh rows not in the exact set: ${lsh -- exact}, $ctx")
      val identical = exact.filter { case (_, _, inter, sa, sb) => inter == sa && inter == sb }
      assert(identical.subsetOf(lsh), s"minhashLsh missed identical sets ${identical -- lsh}, $ctx")
    }
  }

  test("per-row MinHash signature and bands equal the groupBy formulation") {
    val all = corpora.zipWithIndex.flatMap { case (c, i) =>
      c.docs.map { case (id, t) => (i * 1000L + id, t) }
    }.toDF("doc_id", "text")
    val kernel = all.select(col("doc_id"), NearDup.minhash(NearDup.tokens(col("text")), 16))
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    val want = groupBySignatures(all, 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[java.lang.Long](1)).toMap
    assert(want.nonEmpty && want.forall { case (id, sig) => kernel(id) == sig })
    val withTokens = corpora.zipWithIndex.flatMap { case (c, i) =>
      c.docs.collect { case (id, t) if words(t).nonEmpty => i * 1000L + id }
    }.toSet
    assert(want.keySet == withTokens)
    def bandRows(df: DataFrame) = df.toDF("doc_id", "band", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val kernelBands = bandRows(all.select(col("doc_id"),
      posexplode(NearDup.lshBuckets(NearDup.tokens(col("text")), 16, 4))))
    val wantBands = bandRows(groupBySignatures(all, 16)
      .select(col("doc_id"), posexplode(NearDup.bandBuckets(col("sig"), 4, 4))))
    assert(kernelBands == wantBands, "token-less docs must band to no rows")
  }

  test("MinHash banding rejects bands that do not divide numHashes") {
    val dir = write(Corpus(Seq(1L -> "a b", 2L -> "a b"), 10, 50, 3))
    for ((h, b) <- Seq((16, 5), (16, 32), (16, 0))) {
      val e = intercept[IllegalArgumentException](NearDup.minhashLsh(spark, dir, h, b))
      assert(e.getMessage.contains(s"bands ($b) must be positive and divide numHashes ($h)"))
    }
  }
}
