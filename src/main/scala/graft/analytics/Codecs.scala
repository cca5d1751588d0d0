package graft.analytics

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Compressed binary payload columns (r10): a 100-TB corpus does not
  * store raw text — documents arrive as zlib/zstd/lz4/snappy blobs
  * (WET/WARC members are gzip'd, parquet pages are zstd/snappy,
  * Kafka batches are lz4), so "decompress a binary column" is a
  * first-class map-side operator, not an I/O detail. This query
  * round-trips every document through the four codecs SPARK ITSELF
  * BUNDLES (java.util.zip, zstd-jni, lz4-java, snappy-java — all on
  * every executor classpath by construction, no new dependency) and
  * gates bit-exact recovery per codec.
  *
  * Oracle shape: compressed SIZES are codec-version-specific, so the
  * oracle never sees them; it carries the raw length, the sha of the
  * recovered bytes (which only matches if each real decompressor ran
  * and agreed), and all-ones per-codec flags — the multimodal_jpeg
  * gate pattern applied to codecs.
  *
  * Scale: the codec chain itself is map-only; the only exchange is a
  * CONDITIONAL round-robin fan-out applied when the input arrives in
  * fewer splits than the cluster is wide (at local SF the documents
  * table is ONE parquet split, which serialized all codec work on a
  * single task — the r10 multimodal_mjpeg finding). Unlike the id-only
  * fan-outs in Multimodal, this one carries the text payload, so it is
  * gated on input width: a real multi-split corpus takes zero
  * exchanges. Codec contexts are per-asset with try/finally release
  * (Deflater/Inflater hold native memory — a leaked context per row is
  * the classic executor-OOM at billions of rows).
  */
object Codecs {

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString

  private[graft] def deflateRoundTrip(raw: Array[Byte]): Array[Byte] = {
    val def_ = new java.util.zip.Deflater(6)
    val comp = try {
      def_.setInput(raw); def_.finish()
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      while (!def_.finished()) out.write(buf, 0, def_.deflate(buf))
      out.toByteArray
    } finally def_.end()
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(comp)
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](8192)
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        require(n > 0 || inf.finished(), "truncated deflate stream")
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally inf.end()
  }

  private[graft] def zstdRoundTrip(raw: Array[Byte]): Array[Byte] = {
    val comp = com.github.luben.zstd.Zstd.compress(raw, 3)
    com.github.luben.zstd.Zstd.decompress(comp, raw.length)
  }

  private[graft] def lz4RoundTrip(raw: Array[Byte]): Array[Byte] = {
    val fac = net.jpountz.lz4.LZ4Factory.fastestInstance()
    val comp = fac.fastCompressor().compress(raw)
    // LZ4 block format carries no length header — the reader supplies
    // the decompressed size, exactly as Spark's shuffle codec does
    fac.fastDecompressor().decompress(comp, raw.length)
  }

  private[graft] def snappyRoundTrip(raw: Array[Byte]): Array[Byte] =
    org.xerial.snappy.Snappy.uncompress(
      org.xerial.snappy.Snappy.compress(raw))

  /** Per document: UTF-8 bytes → four real compress/decompress round
    * trips → per-codec bit-exact gates + recovered-bytes sha. */
  def binaryCodecs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val src = documents(s, d).select(col("doc_id"), col("text"))
      .as[(Long, String)]
    // fan to full width before the codec loop ONLY when the scan is
    // narrower than the cluster (the multimodal_mjpeg single-split
    // finding; shared gate: Multimodal.fanWhenNarrow)
    Multimodal.fanWhenNarrow(s, src)
      .mapPartitions(_.map { case (id, text) =>
        val raw = text.getBytes("UTF-8")
        def ok(rt: => Array[Byte]): Long =
          if (java.util.Arrays.equals(rt, raw)) 1L else 0L
        val deflated = deflateRoundTrip(raw)
        (id, raw.length.toLong, sha256Hex(deflated),
          ok(deflated), ok(zstdRoundTrip(raw)), ok(lz4RoundTrip(raw)),
          ok(snappyRoundTrip(raw)))
      })
      .toDF("doc_id", "n_raw", "roundtrip_sha",
        "ok_deflate", "ok_zstd", "ok_lz4", "ok_snappy")
  }

  val registry: Map[String, QueryDef] = Map(
    // recovered bytes must sha-match the original text and every
    // codec's bit-exact flag must be 1 — any real decompressor
    // disagreement flips a column and fails the hash
    "binary_codecs" -> QueryDef(binaryCodecs _,
      """SELECT doc_id,
          CAST(octet_length(encode(text)) AS BIGINT) AS n_raw,
          sha256(text) AS roundtrip_sha,
          CAST(1 AS BIGINT) AS ok_deflate,
          CAST(1 AS BIGINT) AS ok_zstd,
          CAST(1 AS BIGINT) AS ok_lz4,
          CAST(1 AS BIGINT) AS ok_snappy
        FROM documents"""),
  )
}
