package graft

import java.nio.{ByteBuffer, ByteOrder}

import graft.operators.MediaOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Audio/video multimodal operators. Value-level correctness of the two
  * driver queries is oracle-gated (DuckDB twins recompute the PCM stream /
  * frame dims arithmetically); these tests pin the parser/sampler contracts
  * the oracle can't see: real-bytes round-trips, failure-as-data on corrupt
  * payloads, the skip-unsampled-frames property, and the plan shape (binary
  * columns never cross a shuffle).
  */
class MediaOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession =
    Session.builder(4).appName("media-ops-spec").getOrCreate()

  private val dir = "/root/testdata/sf0.001"

  test("WAV round-trip: parse(synth(id)) returns the exact PCM stream") {
    for (id <- Seq(0L, 1L, 31L, 499L)) {
      val parsed = MediaOps.parseWav(MediaOps.synthWav(id))
      assert(parsed != null)
      val (rate, s) = parsed
      assert(rate == MediaOps.SampleRate)
      assert(s.length == MediaOps.nSamplesOf(id))
      s.indices.foreach { t =>
        assert(s(t).toInt == MediaOps.sampleAt(id, t), s"id=$id t=$t")
      }
    }
  }

  test("WAV parser walks foreign chunks; rejects corrupt payloads as data") {
    // a LIST chunk inserted between fmt and data must be skipped
    val base = MediaOps.synthWav(7L)
    val fmtEnd = 12 + 8 + 16 // RIFF hdr + fmt hdr + fmt body
    val listBody = Array.tabulate[Byte](10)(_.toByte)
    val withList = ByteBuffer
      .allocate(base.length + 8 + listBody.length).order(ByteOrder.LITTLE_ENDIAN)
      .put(base, 0, fmtEnd)
      .put("LIST".getBytes("US-ASCII")).putInt(listBody.length).put(listBody)
      .put(base, fmtEnd, base.length - fmtEnd).array()
    val parsed = MediaOps.parseWav(withList)
    assert(parsed != null && parsed._2.length == MediaOps.nSamplesOf(7L))

    // an ODD-length foreign chunk carries a RIFF pad byte its size field
    // does not count — the walk must skip len + 1 or it misaligns and a
    // spec-valid real-world WAV silently "fails decode" (ADVICE r4)
    val oddBody = Array.tabulate[Byte](9)(_.toByte)
    val withOdd = ByteBuffer
      .allocate(base.length + 8 + oddBody.length + 1).order(ByteOrder.LITTLE_ENDIAN)
      .put(base, 0, fmtEnd)
      .put("LIST".getBytes("US-ASCII")).putInt(oddBody.length).put(oddBody)
      .put(0.toByte) // pad
      .put(base, fmtEnd, base.length - fmtEnd).array()
    val parsedOdd = MediaOps.parseWav(withOdd)
    assert(parsedOdd != null && parsedOdd._2.length == MediaOps.nSamplesOf(7L),
      "odd-length chunk misaligned the RIFF walk")

    // corrupt variants parse to null (never throw)
    assert(MediaOps.parseWav(null) == null)
    assert(MediaOps.parseWav(Array.emptyByteArray) == null)
    assert(MediaOps.parseWav(base.take(20)) == null)
    val badMagic = base.clone(); badMagic(0) = 'X'.toByte
    assert(MediaOps.parseWav(badMagic) == null)
    val stereo = base.clone(); stereo(22) = 2 // channels field
    assert(MediaOps.parseWav(stereo) == null)
    val lenOverrun = base.clone()
    // data-chunk length far past the buffer
    ByteBuffer.wrap(lenOverrun).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(40, Int.MaxValue)
    assert(MediaOps.parseWav(lenOverrun) == null)

    // and through the UDF path: corrupt bytes become an ok=false ROW
    import spark.implicits._
    val rows = Seq(badMagic, base).toDF("bytes")
      .select(MediaOps.audioFeats($"bytes").as("f"))
      .select($"f._6".as("ok")).collect().map(_.getBoolean(0)).toSeq
    assert(rows == Seq(false, true))
  }

  test("video sampler: stride skip, real decode dims, exact phash recompute") {
    val id = 42L
    val vid = MediaOps.synthVideo(id)
    val n = MediaOps.nFramesOf(id)
    val (n2, sampled) = MediaOps.sampleFrames(vid, 2)
    assert(n2 == n)
    assert(sampled.map(_._1) == (0 until n).filter(_ % 2 == 0))
    sampled.foreach { case (k, storedPhash, bytes) =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert((img.getWidth, img.getHeight) == MediaOps.frameDims(id, k))
      assert(graft.core.SynthCorpus.phashOf(img) == storedPhash)
    }
    // stride 1 materializes every frame; stride n samples only frame 0
    assert(MediaOps.sampleFrames(vid, 1)._2.map(_._1) == (0 until n))
    assert(MediaOps.sampleFrames(vid, n)._2.map(_._1) == Seq(0))

    // corrupt containers are null, never exceptions
    assert(MediaOps.sampleFrames(null, 2) == null)
    assert(MediaOps.sampleFrames(vid.take(6), 2) == null)
    val badMagic = vid.clone(); badMagic(0) = 0
    assert(MediaOps.sampleFrames(badMagic, 2) == null)
    val badLen = vid.clone()
    ByteBuffer.wrap(badLen).putInt(8, Int.MaxValue) // first frame length
    assert(MediaOps.sampleFrames(badLen, 2) == null)
  }

  test("plan shape: no joins; binary columns never cross a shuffle") {
    // allowed exchanges: the oracle-ordering sort — AFTER features are
    // scalars — plus, for videoFrames only, the doc_id parallelism-floor
    // repartition, which runs BEFORE any payload exists; shuffled row
    // schemas must never contain a binary column (payloads are born,
    // parsed and reduced to scalars inside one stage)
    for ((q, maxExchanges) <- Seq(MediaOps.audioFeatures(spark, dir) -> 1,
                                  MediaOps.videoFrames(spark, dir) -> 2)) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), plan)
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges <= maxExchanges, plan)
      assert(!plan.linesIterator.exists(l =>
        l.contains("Exchange") && l.contains("binary")), plan)
    }
  }

  test("videoFrames parallelism floor: single-split scan fans out to cores") {
    // the bench corpus is one small parquet file = a one-task scan; the
    // codec-bound generate stage must not inherit that cap
    val rdd = MediaOps.videoFrames(spark, dir).queryExecution.toRdd
    assert(rdd.getNumPartitions >= 1) // smoke: plan materializes
    val plan = MediaOps.videoFrames(spark, dir).queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning") ||
      spark.sparkContext.defaultParallelism <= 1, plan)
  }
}
