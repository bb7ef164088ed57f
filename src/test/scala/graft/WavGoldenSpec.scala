package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.TextOps

/** The m3 decoder is a real little-endian chunked-format parser — prove
  * it on REAL FILES: golden .wav files written to disk with JVM
  * ByteBuffer little-endian encoding (an independent encoder from the
  * expression-synthesized payloads), read back through Spark's
  * binaryFile source, decoded by the same expression pipeline the
  * declared query uses, and checked against the parameters the files
  * were written with. One golden file carries a NON-CANONICAL 18-byte
  * fmt chunk — the decoder must locate the data chunk from the parsed
  * fmt size, not an assumed constant offset. */
class WavGoldenSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark

  private def samples(id: Long, n: Int): Array[Byte] =
    Array.tabulate(n)(i => ((id * 173 + i * 11) % 256).toByte)

  /** Independent WAV encoder: JVM ByteBuffer, LITTLE_ENDIAN. */
  private def wavBytes(id: Long, ch: Int, rate: Int, bits: Int,
      nSamp: Int, fmtSize: Int): Array[Byte] = {
    val ba = ch * bits / 8
    val dataSize = nSamp * ba
    val bb = java.nio.ByteBuffer.allocate(20 + fmtSize + 8 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(20 + fmtSize + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(fmtSize)
      .putShort(1).putShort(ch.toShort).putInt(rate).putInt(rate * ba)
      .putShort(ba.toShort).putShort(bits.toShort)
    // a non-canonical fmt chunk pads extension bytes before `data`
    (16 until fmtSize).foreach(_ => bb.put(0.toByte))
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
      .put(samples(id, dataSize))
    bb.array()
  }

  test("decodeWavMeta parses golden .wav files from the binaryFile source") {
    val dir = java.nio.file.Paths.get(graft.util.PathKeys.fixtureRoot, "wav-golden")
    java.nio.file.Files.createDirectories(dir)
    //                   id  ch  rate  bits  n    fmtSize
    val golden = Seq(
      (1L, 1, 8000, 8, 32, 16),
      (2L, 2, 44100, 16, 100, 16),
      (3L, 2, 22050, 8, 7, 18)) // 18-byte fmt: data offset must move
    golden.foreach { case (id, ch, rate, bits, n, fs) =>
      java.nio.file.Files.write(dir.resolve(s"aud-$id.wav"),
        wavBytes(id, ch, rate, bits, n, fs))
    }

    val payloads = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wav").load(dir.toString)
      .select(
        regexp_extract(col("path"), "aud-(\\d+)\\.wav$", 1)
          .cast("long").as("doc_id"),
        col("content").as("payload"))
    val got = TextOps.decodeWavMeta(payloads).orderBy("doc_id").collect()

    val expect = golden.map { case (id, ch, rate, bits, n, _) =>
      val ba = ch * bits / 8
      val dataSize = n * ba
      val data = samples(id, dataSize)
      val dataHex = data.map(b => f"${b & 0xff}%02X").mkString
      val sig = java.security.MessageDigest.getInstance("MD5")
        .digest(dataHex.getBytes("US-ASCII"))
        .map(b => f"${b & 0xff}%02x").mkString
      (id, ch, rate.toLong, bits, ba, dataSize.toLong, n.toLong,
        n.toLong * 1000000L / rate, data.head & 0xff, sig)
    }
    assert(got.length == expect.length, "valid payload count")
    got.zip(expect).foreach { case (g, e) =>
      assert((g.getLong(0), g.getInt(1), g.getLong(2), g.getInt(3),
        g.getInt(4), g.getLong(5), g.getLong(6), g.getLong(7),
        g.getInt(8), g.getString(9)) == e)
    }
  }

  test("a payload that is not a PCM WAV is dropped, not faked") {
    import spark.implicits._
    val valid = wavBytes(5L, 1, 8000, 8, 4, 16)
    val bad = Seq(
      (9L, "RIFFxxxxNOTW".getBytes("US-ASCII")),
      (10L, Array[Byte]()),
      // valid RIFF/WAVE but non-PCM format tag (3 = IEEE float)
      (11L, { val b = wavBytes(11L, 1, 8000, 8, 4, 16); b(20) = 3; b }),
      // data chunk size lies about the actual byte count
      (12L, valid.dropRight(2)))
      .toDF("doc_id", "payload")
    assert(TextOps.decodeWavMeta(bad).count() == 0)
  }
}
