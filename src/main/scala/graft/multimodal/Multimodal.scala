package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}

/** One media record: opaque binary payload + typed metadata. The layout
  * a 100 TB multimodal lakehouse uses: parquet binary column (chunked,
  * dictionary-off), small typed metadata columns for pruning.
  */
final case class MediaRecord(doc_id: Long, payload: Array[Byte],
                             mime: String, n_bytes: Long)

/** Extracted features (what a real decoder would emit). */
final case class MediaFeatures(doc_id: Long, n_bytes: Long, checksum: Long,
                               width: Int, height: Int)

/** THE CODEC SEAM. The container ships no image/audio codecs (builder
  * contract), so the default kernel is a clearly-marked deterministic
  * STUB — but the seam is the real product: swap in a JNI/FFI-backed
  * implementation (libjpeg/ffmpeg/...) and every Multimodal operator
  * picks it up unchanged, because all Spark-side plumbing (binary
  * schema, typed Dataset boundary, per-partition batching, one-to-many
  * frame fan-out) is kernel-agnostic.
  *
  * Contract: implementations are Serializable (instances ship to
  * executors); `init()` is called ONCE per partition before any record
  * — the place for codec/library initialization so it is amortized
  * across the batch, never paid per row.
  */
trait MediaKernel extends Serializable {
  /** Per-partition initialization hook (codec setup, native lib load). */
  def init(): Unit = ()
  def decode(r: MediaRecord): MediaFeatures
  def resize(r: MediaRecord, targetBytes: Int): MediaRecord
  /** One-to-many frame extraction: (frame_idx, frame_bytes, checksum). */
  def sampleFrames(r: MediaRecord, nFrames: Int): Seq[(Int, Int, Long)]

  /** 64-bit perceptual fingerprint of the payload — the dedup key a
    * real kernel derives from decoded content (aHash/pHash over
    * pixels); the stub's analog is an average-hash over raw bytes:
    * 64 stride buckets, bit k = bucket-k mean byte > global mean
    * (integer cross-multiplied — no float in the fingerprint).
    * Near-dup = small Hamming distance, so the banded-LSH machinery
    * ([[graft.dedup.Dedup.simhashNearDupsBanded]]) applies unchanged.
    */
  def fingerprint(r: MediaRecord): Long = {
    val bytes = r.payload
    val n = bytes.length
    val sums = new Array[Long](64)
    val cnts = new Array[Long](64)
    var tot = 0L
    var i = 0
    while (i < n) {
      val v = (bytes(i) & 0xff).toLong
      sums(i % 64) += v; cnts(i % 64) += 1; tot += v
      i += 1
    }
    var ph = 0L
    var k = 0
    while (k < 64) {
      if (sums(k) * n > tot * cnts(k)) ph |= (1L << k)
      k += 1
    }
    ph
  }
}

/** Deterministic STUB kernel (default): derives pseudo-features from
  * payload bytes so the distributed plumbing is testable end-to-end in
  * a codec-less container. Every output is a pure function of the
  * bytes — stable across partitionings and runs.
  */
object StubMediaKernel extends MediaKernel {
  private def checksum(bytes: Array[Byte]): Long =
    bytes.foldLeft(0L)((a, b) => (a * 31 + (b & 0xff)) % 1000000007L)

  override def decode(r: MediaRecord): MediaFeatures = {
    val cs = checksum(r.payload)
    MediaFeatures(r.doc_id, r.payload.length.toLong, cs,
      width = 64 + (cs % 512).toInt, height = 64 + ((cs / 512) % 512).toInt)
  }

  override def resize(r: MediaRecord, targetBytes: Int): MediaRecord = {
    val src = r.payload
    val out =
      if (src.length <= targetBytes) src
      else Array.tabulate(targetBytes)(i =>
        src((i.toLong * src.length / targetBytes).toInt))
    r.copy(payload = out, n_bytes = out.length.toLong)
  }

  override def sampleFrames(r: MediaRecord,
                            nFrames: Int): Seq[(Int, Int, Long)] = {
    val len = r.payload.length
    val frameLen = math.max(1, len / math.max(nFrames, 1))
    (0 until math.min(nFrames, len)).map { f =>
      val start = (f.toLong * len / nFrames).toInt
      val slice = r.payload.slice(start, math.min(start + frameLen, len))
      (f, slice.length, checksum(slice))
    }
  }
}

/** Multimodal-column operators over the [[MediaKernel]] seam: binary
  * schema, typed Dataset boundary, partition-batch iteration, and the
  * pruning metadata layout are real; the default kernel is the stub.
  */
object Multimodal {

  /** Wrap a text table as binary media records (stand-in for reading an
    * image/audio parquet: `binary` payload + metadata). */
  def asMedia(docs: DataFrame): DataFrame =
    docs.select(
      F.col("doc_id"),
      F.expr("encode(text, 'UTF-8')").as("payload"),
      F.lit("text/plain").as("mime"),
      F.expr("octet_length(encode(text, 'UTF-8'))").cast("long").as("n_bytes"))

  /** Batch decode: one kernel init per partition, then per-record
    * decode — the boundary where a real codec call goes. */
  def decode(media: Dataset[MediaRecord],
             kernel: MediaKernel = StubMediaKernel): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      kernel.init()
      it.map(kernel.decode)
    }
  }

  /** Payload-in/payload-out resize with per-partition batching. */
  def resize(media: Dataset[MediaRecord], targetBytes: Int,
             kernel: MediaKernel = StubMediaKernel): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      kernel.init()
      it.map(kernel.resize(_, targetBytes))
    }
  }

  /** ONE-TO-MANY frame extraction (flatMap boundary).
    * Output: (doc_id, frame_idx, frame_bytes, checksum). */
  def frameSample(media: Dataset[MediaRecord], nFrames: Int,
                  kernel: MediaKernel = StubMediaKernel): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      kernel.init()
      it.flatMap(r => kernel.sampleFrames(r, nFrames)
        .map { case (f, n, cs) => (r.doc_id, f, n, cs) })
    }.toDF("doc_id", "frame_idx", "frame_bytes", "checksum")
  }

  /** Per-record 64-bit perceptual fingerprints through the kernel
    * boundary: (doc_id, phash). */
  def fingerprints(media: Dataset[MediaRecord],
                   kernel: MediaKernel = StubMediaKernel): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      kernel.init()
      it.map(r => (r.doc_id, kernel.fingerprint(r)))
    }.toDF("doc_id", "phash")
  }

  // Stub-named aliases kept for the registered queries (q85 resize,
  // q86 frame sampling): the names say loudly that the DEFAULT kernel
  // computes fake features.
  def resizeStub(media: Dataset[MediaRecord],
                 targetBytes: Int): Dataset[MediaRecord] =
    resize(media, targetBytes)
  def frameSampleStub(media: Dataset[MediaRecord], nFrames: Int): DataFrame =
    frameSample(media, nFrames)

  /** End-to-end: documents → media records → decode → features. */
  def extractFeatures(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    decode(asMedia(docs).as[MediaRecord]).toDF()
  }
}
