package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column plumbing: media travel as
  * opaque `binary` columns with typed metadata structs; decode /
  * feature-extract steps run per-partition so heavy native decoders
  * amortize initialization per task, not per row.
  *
  * NOTE ON STUBS: this container ships no image/audio codecs, so
  * [[FakeCodec]] derives deterministic pseudo-metadata/features from the
  * bytes. The Spark-side contract — schema, batching, partition sizing,
  * per-partition decoder lifecycle — is real and tested; swapping
  * [[FakeCodec]] for a JNI/javacv decoder changes no plumbing.
  */
object Multimodal {

  /** One media asset row. */
  final case class MediaAsset(
      asset_id: Long,
      media_type: String, // image | audio | video
      content: Array[Byte])

  final case class MediaMeta(
      asset_id: Long,
      media_type: String,
      byte_size: Long,
      width: Int,
      height: Int,
      duration_ms: Long,
      format: String)

  final case class MediaFeature(
      asset_id: Long,
      feature: Array[Float])

  /** STUB decoder: deterministic pseudo-properties from content bytes.
    * Replace with a real codec for production; signature stays.
    *
    * Properties derive from the md5-prefix of the content (28-bit value,
    * same construction as [[graft.functions.TextFunctions]]' h28) so the
    * extraction is reproducible in any engine with md5 — this is what
    * makes q_media_meta / q_media_features DuckDB-oracle-checkable. */
  object FakeCodec {
    /** 28-bit value from the leading 7 hex digits of md5(bytes) —
      * bit-identical to SQL `conv(substring(md5(x),1,7),16,10)`. */
    def h28(bytes: Array[Byte]): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(bytes).map("%02x".format(_)).mkString.substring(0, 7)
      java.lang.Long.parseLong(hex, 16)
    }

    def probe(mediaType: String, bytes: Array[Byte]): (Int, Int, Long, String) = {
      val h = h28(bytes)
      val w = (64 + h % 1024).toInt
      val ht = (64 + (h / 1024) % 1024).toInt
      val dur = if (mediaType == "image") 0L else 1000L + h % 600000
      val fmt = mediaType match {
        case "image" => if (h % 2 == 0) "png" else "jpeg"
        case "audio" => "wav"
        case _ => "mp4"
      }
      (w, ht, dur, fmt)
    }

    /** Deterministic fixed-width feature vector (stands in for an
      * embedding model forward pass): component i = permil value
      * `(h28 * (i+31)) % 1000 / 1000`. */
    def features(bytes: Array[Byte], dim: Int = 16): Array[Float] = {
      val h = h28(bytes)
      val out = new Array[Float](dim)
      var i = 0
      while (i < dim) {
        out(i) = ((h * (i + 31)) % 1000) / 1000.0f
        i += 1
      }
      out
    }
  }

  /** Extract typed metadata. Runs as mapPartitions so a real decoder
    * initializes once per task. */
  def extractMeta(assets: Dataset[MediaAsset]): Dataset[MediaMeta] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map { a =>
        val (w, h, dur, fmt) = FakeCodec.probe(a.media_type, a.content)
        MediaMeta(a.asset_id, a.media_type, a.content.length.toLong, w, h, dur, fmt)
      }
    }
  }

  /** Per-asset feature vectors (batch shape: one partition per task,
    * decoder amortized). */
  def extractFeatures(assets: Dataset[MediaAsset], dim: Int = 16): Dataset[MediaFeature] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions(_.map(a => MediaFeature(a.asset_id, FakeCodec.features(a.content, dim))))
  }

  /** Frame sampling plumbing for video: emit (asset_id, frame_idx,
    * frame_bytes) rows — the stub slices the source bytes; a real
    * implementation decodes at timestamps. Output explodes rows, so
    * repartition by asset first to bound task size. */
  def sampleFrames(assets: Dataset[MediaAsset], everyMs: Long = 1000L): DataFrame = {
    import assets.sparkSession.implicits._
    assets.filter(_.media_type == "video").flatMap { a =>
      val (_, _, dur, _) = FakeCodec.probe(a.media_type, a.content)
      val n = math.min(dur / everyMs, 32L).toInt
      (0 until n).map { i =>
        val start = (i * math.max(a.content.length / math.max(n, 1), 1)) % math.max(a.content.length, 1)
        val end = math.min(start + 16, a.content.length)
        (a.asset_id, i, a.content.slice(start, end))
      }
    }.toDF("asset_id", "frame_idx", "frame_bytes")
  }

  /** Media-aware repartitioning: pack assets into tasks by CUMULATIVE
    * byte size (a 100 TB media table must not put 2 GB videos and 2 KB
    * icons in the same fixed-row-count partitions). Round-robin over a
    * byte-derived partition COUNT — the old shape — still lets one task
    * collect several huge assets; this is a true prefix-sum bin
    * assignment: rows are laid out in input order, every row gets the
    * exclusive running byte total before it, and bin `b` holds the rows
    * whose prefix lands in `[b*target, (b+1)*target)` (Packing-style
    * concat-then-chunk). The prefix sum is two-phase so no single task
    * ever sorts the whole table: per-input-partition sums (tiny: one row
    * per partition) are collected and turned into broadcast offsets,
    * then each partition windows only over itself. Assets larger than
    * `targetBytesPerTask` get a bin of their own (rows don't split). */
  def repartitionBySize(df: DataFrame, targetBytesPerTask: Long): DataFrame = {
    require(targetBytesPerTask > 0, s"targetBytesPerTask must be > 0, got $targetBytesPerTask")
    import org.apache.spark.sql.expressions.Window
    val sized = df
      .withColumn("__bytes", coalesce(length(col("content")).cast("long"), lit(0L)))
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
    // Phase 1: per-input-partition byte totals -> exclusive global offsets.
    // Column pruning keeps `content` out of this pass (only lengths flow).
    val partTotals = sized.groupBy("__pid").agg(sum("__bytes").as("__b"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    if (partTotals.isEmpty) return df
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partTotals.map { case (pid, b) => val o = pid -> acc; acc += b; o }.toMap
    }
    val total = partTotals.map(_._2).sum
    val nBins = math.max(1L, (total + targetBytesPerTask - 1) / targetBytesPerTask)
    // Phase 2: in-partition exclusive prefix + broadcast offset = global
    // prefix; integral DIV (double division mis-bins past 2^53).
    val w = Window.partitionBy("__pid").orderBy("__mid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val binned = sized
      .withColumn("__cum",
        coalesce(sum(col("__bytes")).over(w), lit(0L)) +
          // offsets are keyed by the phase-1 pids; if an upstream
          // exchange were re-planned between the two jobs an unseen pid
          // falls back to offset 0 — bins may skew but no row is lost
          // (this operator is pure layout)
          coalesce(element_at(typedLit(offsets), col("__pid")), lit(0L)))
      .withColumn("__bin", expr(s"__cum DIV ${targetBytesPerTask}L"))
    // Exact bin -> partition mapping. Neither DataFrame repartitioner
    // fits here: hash repartition collides bins into shared tasks, and
    // repartitionByRange balances ROW counts (it would re-stack the few
    // huge assets into one partition precisely because they are few).
    // A trivial identity Partitioner is the one genuine RDD use in this
    // codebase — there is no Dataset API for value-addressed partitions.
    val nP = math.min(nBins, Int.MaxValue.toLong / 2).toInt
    val out = binned.select(col("__bin") +: df.columns.map(col).toSeq: _*)
    val spark = df.sparkSession
    val schema = df.schema
    val rdd = out.rdd
      .map(r => (r.getLong(0), org.apache.spark.sql.Row.fromSeq(r.toSeq.tail)))
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nP
        override def getPartition(key: Any): Int =
          math.min(key.asInstanceOf[Long], (nP - 1).toLong).toInt
      })
      .map(_._2)
    spark.createDataFrame(rdd, schema)
  }
}
