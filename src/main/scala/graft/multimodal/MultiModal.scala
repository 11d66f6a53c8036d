package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns: media as opaque `binary` + typed metadata, with the
  * Spark-side plumbing (schema, batch iteration, partitioning) real and the
  * codec itself STUBBED — image/audio libraries are not in this container.
  * The Scala analogue of a `mapInPandas` batch UDF is `mapPartitions` over
  * a typed Dataset: one decoder instance per partition, rows streamed
  * through in batch.
  *
  * Operators: synthetic media, and decode→feature-extract (with per-kind
  * frame sampling) summarised per kind by [[featureStats]] (q30).
  */
object MultiModal {

  case class MediaRow(media_id: Long, kind: String, media: Array[Byte],
                      width: Int, height: Int, sample_rate: Int)

  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                           feature: Array[Float], frames_sampled: Int)

  /** STUB decode: a real deployment plugs an image/audio codec here; the
    * sandbox has none, so features are a deterministic function of the
    * bytes (content-hash folded into a fixed-width vector). The signature,
    * batching and schema are the production shape. */
  def stubDecode(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L
    var i = 0
    while (i < bytes.length) {
      h = h * 31 + bytes(i)
      out(math.floorMod(h, dim).toInt) += ((h >>> 32).toInt % 1000) / 1000.0f
      i += 1
    }
    out
  }

  private val Seed = 42L
  private val FeatureDim = 16
  private val FrameStride = 4

  /** Deterministic synthetic media table — binary payloads with metadata
    * over three kinds (image / audio / video). */
  def synthMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val h = graft.synth.SynthWorld.mix(Seed ^ i)
      val kind = math.floorMod(h, 3L) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val len = 64 + (math.floorMod(h >>> 8, 192L)).toInt
      val bytes = Array.tabulate(len)(j => (graft.synth.SynthWorld.mix(h + j) & 0xff).toByte)
      MediaRow(i, kind, bytes,
        width = if (kind != "audio") 640 else 0,
        height = if (kind != "audio") 480 else 0,
        sample_rate = if (kind == "audio") 16000 else 0)
    }
  }

  /** Batch feature extraction: one pass per partition, decoder state built
    * once per task (the mapInPandas shape). Video is FRAME-SAMPLED before
    * decode: every [[FrameStride]]-th 16-byte frame block feeds the feature;
    * image/audio decode the full payload with per-block subsampling. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init happens HERE (stubbed)
      it.map { row =>
        val (decoded, frames) = row.kind match {
          case "video" =>
            val blocks = row.media.grouped(16).toArray
            val sampled = blocks.indices.collect {
              case bi if bi % FrameStride == 0 => blocks(bi)
            }
            (sampled.flatten.toArray, sampled.length)
          case _ =>
            (row.media, row.media.grouped(FrameStride).size)
        }
        MediaFeatures(row.media_id, row.kind, row.media.length.toLong,
          stubDecode(decoded, FeatureDim), frames)
      }
    }
  }

  /** Query-shaped entry: features + per-kind stats over synthetic media. */
  def featureStats(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    extractFeatures(synthMedia(spark, n)).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("frames_sampled")).as("total_frames"))
  }
}
