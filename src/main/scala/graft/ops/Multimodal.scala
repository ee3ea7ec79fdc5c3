package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Multimodal-column plumbing for a training-data pipeline: media
  * payloads as opaque `binary` columns with typed metadata, and
  * batch-shaped feature extraction via `mapPartitions`.
  *
  * The container has no image/audio codecs, so `FakeCodec` is a
  * clearly-marked deterministic stand-in for the decode step — the
  * Spark-side contract (schema, partitioning, per-partition batch
  * processing, output shape) is real and tested. In production the body
  * of `FakeCodec.decode` is replaced by a JNI/libvips/ffmpeg call; on
  * the PySpark side the same slot is an Arrow-batched `mapInPandas`
  * UDF. Nothing else changes.
  *
  * Scale notes: feature extraction is embarrassingly parallel
  * per-partition work; the iterator-to-iterator `mapPartitions` keeps
  * it streaming (no materialization of a partition in memory), and the
  * payload column is pruned away before any downstream shuffle.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata, the schema contract
    * for multimodal columns. */
  case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** Extracted features: fixed-dim embedding + basic stats. */
  case class MediaFeatures(media_id: Long, kind: String, n_bytes: Int,
      checksum: Long, features: Array[Float])

  /** Integer-exact portable twin of [[MediaFeatures]]: per-slot raw
    * BYTE SUMS — exactly the [[FakeCodec.decode]] fold without the
    * /255 float grain, so a SQL oracle can recompute every value from
    * the payload bytes and the whole media pipeline hash-gates like
    * any other family. */
  case class MediaFeaturesPortable(media_id: Long, kind: String,
      n_bytes: Int, slot_sums: Array[Long])

  /** STUB — deterministic fake decoder. Real systems decode
    * JPEG/PNG/WAV here; this container has no codecs, so features are
    * a seeded fold of the payload bytes (stable across runs, engines,
    * partitionings). The *interface* is the real thing. */
  object FakeCodec {
    val featureDim = 16
    def decode(payload: Array[Byte]): Array[Float] = {
      val out = new Array[Float](featureDim)
      var i = 0
      while (i < payload.length) {
        out(i % featureDim) += (payload(i) & 0xFF) / 255.0f
        i += 1
      }
      out
    }
    def checksum(payload: Array[Byte]): Long = {
      var h = 1125899906842597L
      var i = 0
      while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
      h
    }
    /** Integer companion of [[decode]]: slot j accumulates the raw
      * unsigned bytes at positions i ≡ j (mod featureDim). Slot sums
      * are exactly 255 × the float features in Long arithmetic (no
      * rounding), which is what makes the media family oracle-able:
      * DuckDB recomputes each slot as a position-filtered ascii sum
      * over the (pure-ASCII) payload text. */
    def decodeIntSums(payload: Array[Byte]): Array[Long] = {
      val out = new Array[Long](featureDim)
      var i = 0
      while (i < payload.length) {
        out(i % featureDim) += (payload(i) & 0xFF)
        i += 1
      }
      out
    }
  }

  /** Synthesize a media table from `documents` (text bytes stand in for
    * media payloads): binary column + metadata, the shape a real
    * image/audio table would have. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        when(col("doc_id") % 2 === 0, "image").otherwise("audio")
          .as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        lit(16000).as("sample_rate"))
      .as[MediaRow]
  }

  /** Feature extraction: iterator-to-iterator mapPartitions over the
    * typed Dataset — the Scala analog of an Arrow-batched mapInPandas
    * UDF. Partition count is preserved; payloads never cross the wire
    * after this projection. */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaFeatures(r.media_id, r.kind, r.payload.length,
          FakeCodec.checksum(r.payload), FakeCodec.decode(r.payload))
      }
    }
  }

  /** [[extractFeatures]] through the SAME iterator-to-iterator
    * mapPartitions seam, emitting the integer-exact
    * [[MediaFeaturesPortable]] shape — the hash-oracle-able twin of
    * the float pipeline (MultimodalSpec pins slot_sums ≡
    * round(255 × features) row-for-row, so a green oracle row here is
    * a differential proof of the real decode path too). */
  def extractFeaturesPortable(
      media: Dataset[MediaRow]): Dataset[MediaFeaturesPortable] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        MediaFeaturesPortable(r.media_id, r.kind, r.payload.length,
          FakeCodec.decodeIntSums(r.payload))
      }
    }
  }

  /** STUB resize: the Spark-side plumbing of an image resize — new
    * metadata dims plus a deterministic payload transform standing in
    * for the pixel resample (this container has no codecs). Interface
    * and batch shape are the real thing: in production the body calls
    * libvips/Pillow via the same iterator. */
  def resize(media: Dataset[MediaRow], targetW: Int,
      targetH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        // stub: crop/pad the byte payload proportionally to the area
        // change, preserving determinism (real impl: pixel resample)
        val ratio = (targetW.toLong * targetH).toDouble /
          math.max(1L, r.width.toLong * math.max(1, r.height))
        val newLen = math.max(1, math.min(r.payload.length,
          (r.payload.length * math.min(ratio, 1.0)).toInt))
        r.copy(width = targetW, height = targetH,
          payload = java.util.Arrays.copyOf(r.payload, newLen))
      }
    }
  }

  /** Frame sampling for video-like payloads: split the payload into
    * fixed-size "frames" and keep every `stride`-th — pure plumbing
    * (offsets, slicing, batch shape), codec-free. */
  def sampleFrames(media: Dataset[MediaRow], frameBytes: Int = 64,
      stride: Int = 4): DataFrame = {
    media.toDF()
      .select(col("media_id"),
        posexplode(split_part_bytes(col("payload"), frameBytes)))
      .withColumnRenamed("pos", "frame_idx")
      .withColumnRenamed("col", "frame")
      .where(col("frame_idx") % stride === 0)
  }

  /** Byte-window slicer as an expression: payload → array of
    * fixed-length binary frames. */
  private def split_part_bytes(payload: org.apache.spark.sql.Column,
      frameBytes: Int): org.apache.spark.sql.Column =
    // empty-payload guard: sequence(0, -1) DESCENDS ([0,-1]) and would
    // fabricate a frame for a zero-byte payload — the oracle's integer
    // form ((len-1)//fb)//stride+1 says 0 frames there. when() keeps
    // the guard codegen'd; the RangeJoin.pointInInterval discipline.
    when(length(payload) > 0,
      transform(
        sequence(lit(0L),
          floor((length(payload) - 1) / frameBytes).cast("long")),
        i => payload.substr((i * frameBytes + 1).cast("int"),
          lit(frameBytes))))
      .otherwise(array().cast("array<binary>"))

  /** Per-kind feature summary — the query registered in SparkEntry
    * (rows-only check: the fake codec is not SQL-expressible). */
  def featureSummary(spark: SparkSession, dir: String): DataFrame =
    extractFeatures(mediaTable(spark, dir)).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        count_distinct(col("checksum")).as("distinct_payloads"))

  /** Media similarity search — the full multimodal loop: payload →
    * (stub) decode → feature vector → normalized cosine top-k, reusing
    * the similarity machinery (codegen'd DotProduct, broadcast query
    * side, per-query window). In production only FakeCodec.decode
    * changes; the embedding/ANN plumbing downstream is identical.
    * Rows-only check (the codec is not SQL-expressible); determinism
    * and duplicate-payload behavior are unit-tested. */
  def mediaAnnTopK(spark: SparkSession, dir: String,
      numQueries: Int = 5, k: Int = 3): DataFrame =
    mediaAnn(mediaTable(spark, dir), numQueries, k)

  /** Core of [[mediaAnnTopK]] over any media table (test seam). */
  def mediaAnn(media: Dataset[MediaRow],
      numQueries: Int, k: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val feats = extractFeatures(media).toDF()
      .select(col("media_id"),
        normalize(toDoubleVec(col("features"))).as("vec"))
    val queries = feats.where(col("media_id") < numQueries)
      .select(col("media_id").as("query_id"), col("vec").as("qvec"))
    Similarity.rankNeighbors(
      feats.join(broadcast(queries), col("media_id") =!= col("query_id"))
        .select(col("query_id"), col("media_id").as("neighbor_id"),
          dot(col("vec"), col("qvec")).as("sim")), k)
  }

  /** Frame-sampling summary per media row: how many 64-byte frames the
    * stride-4 sampler kept. Oracle-able: frame i is kept when i % 4 == 0
    * for i in 0..⌊(len-1)/64⌋, i.e. ⌊⌊(len-1)/64⌋/4⌋ + 1 frames. */
  def frameSampleSummary(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(mediaTable(spark, dir), frameBytes = 64, stride = 4)
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        max(length(col("frame"))).as("max_frame_bytes"))

  val frameSampleSummarySql: String =
    """SELECT doc_id AS media_id,
      |       CAST(((octet_length(encode(text)) - 1) // 64) // 4 + 1 AS BIGINT) AS n_frames,
      |       CAST(LEAST(64, octet_length(encode(text))) AS INT) AS max_frame_bytes
      |FROM documents""".stripMargin

  /** Hash-oracled media features: payload → (stub) decode → per-slot
    * byte sums as columns. Runs the REAL mapPartitions extraction —
    * only the emitted grain is integer instead of float. */
  def featuresPortable(spark: SparkSession, dir: String): DataFrame = {
    val slots = (0 until FakeCodec.featureDim).map(j =>
      col("slot_sums").getItem(j).as(f"s$j%02d"))
    extractFeaturesPortable(mediaTable(spark, dir)).toDF()
      .select(Seq(col("media_id"), col("kind"),
        col("n_bytes").cast("long").as("n_bytes")) ++ slots: _*)
  }

  /** Oracle for [[featuresPortable]]: the payload is the UTF-8 bytes
    * of `documents.text`, which TESTDATA.md's generator keeps pure
    * ASCII (verified octet_length == length at every SF) — so byte i
    * of the payload is `ascii(substr(text, i, 1))` and each feature
    * slot is a position-filtered sum. LEFT join from `documents`
    * with coalesce(0): a zero-length text unnests to no positions
    * but the Spark side still emits its all-zero slot_sums row. */
  val featuresPortableSql: String = {
    val dim = FakeCodec.featureDim
    val slotCols = (0 until dim).map(j =>
      f"       CAST(coalesce(s.s$j%02d, 0) AS BIGINT) AS s$j%02d")
      .mkString(",\n")
    val slotSums = (0 until dim).map(j =>
      f"       sum(CASE WHEN slot = $j THEN byte ELSE 0 END) AS s$j%02d")
      .mkString(",\n")
    s"""WITH pos AS (
       |  SELECT d.doc_id, d.text,
       |         unnest(range(1, length(d.text) + 1)) AS i
       |  FROM documents d
       |), b AS (
       |  SELECT doc_id AS media_id,
       |         (i - 1) % $dim AS slot,
       |         ascii(substr(text, CAST(i AS INT), 1)) AS byte
       |  FROM pos
       |), s AS (
       |  SELECT media_id,
       |$slotSums
       |  FROM b GROUP BY media_id
       |)
       |SELECT d.doc_id AS media_id,
       |       CASE WHEN d.doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
       |       CAST(length(d.text) AS BIGINT) AS n_bytes,
       |$slotCols
       |FROM documents d LEFT JOIN s ON s.media_id = d.doc_id""".stripMargin
  }

  /** Integer-dot ANN twin of [[mediaAnnTopK]]: the same payload →
    * decode → feature → broadcast-queries → per-query window top-k
    * plumbing, ranked by the EXACT Long dot product of the slot-sum
    * vectors (ties broken by neighbor_id) so DuckDB replays the
    * ranking bit-for-bit. The float path keeps the production cosine
    * semantics; this twin is its hash gate. */
  /** Registered defaults for [[mediaAnnPortable]] — shared with its
    * oracle SQL so the two sides cannot drift apart. */
  val AnnPortableQueries = 5
  val AnnPortableK = 3

  def mediaAnnPortable(spark: SparkSession, dir: String,
      numQueries: Int = AnnPortableQueries,
      k: Int = AnnPortableK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val feats = extractFeaturesPortable(mediaTable(spark, dir)).toDF()
      .select(col("media_id"), col("slot_sums"))
    val queries = feats.where(col("media_id") < numQueries)
      .select(col("media_id").as("query_id"), col("slot_sums").as("qvec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("neighbor_id"))
    feats.join(broadcast(queries), col("media_id") =!= col("query_id"))
      .select(col("query_id"), col("media_id").as("neighbor_id"),
        aggregate(zip_with(col("slot_sums"), col("qvec"),
          (x, y) => x * y), lit(0L), (acc, v) => acc + v).as("dot"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dot")
  }

  /** Oracle for [[mediaAnnPortable]] at its registered defaults.
    * Assumes non-empty texts (true at every testdata SF, min length
    * 44): a zero-length text would have no `v` rows, so its all-zero
    * vector would be missing from the candidate set the Spark side
    * keeps (at dot = 0 with everything). */
  val mediaAnnPortableSql: String = {
    val dim = FakeCodec.featureDim
    s"""WITH pos AS (
      |  SELECT d.doc_id, d.text,
      |         unnest(range(1, length(d.text) + 1)) AS i
      |  FROM documents d
      |), v AS (
      |  SELECT doc_id AS media_id,
      |         (i - 1) % $dim AS slot,
      |         sum(ascii(substr(text, CAST(i AS INT), 1))) AS s
      |  FROM pos GROUP BY doc_id, (i - 1) % $dim
      |), dots AS (
      |  SELECT a.media_id AS query_id, c.media_id AS neighbor_id,
      |         CAST(sum(a.s * c.s) AS BIGINT) AS dot
      |  FROM v a JOIN v c ON a.slot = c.slot AND a.media_id <> c.media_id
      |  WHERE a.media_id < $AnnPortableQueries
      |  GROUP BY a.media_id, c.media_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, dot,
      |         row_number() OVER (PARTITION BY query_id
      |           ORDER BY dot DESC, neighbor_id) AS rank
      |  FROM dots
      |)
      |SELECT query_id, neighbor_id, rank, dot
      |FROM ranked WHERE rank <= $AnnPortableK""".stripMargin
  }
}
