package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.pipeline.{Messages, Runner}

class MiscSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("Messages: base64(JSON) round-trip preserves the EP2 contract") {
    val reqs = Seq(
      Messages.TransferRequest("ftps://h:990/in?username=u&password=p",
        "gs://bucket/path", remove_file = true, "2024-01-01T00:00:00"),
      Messages.TransferRequest("sftp://h2:22/x", "gs://b2/y",
        remove_file = false, "2024-01-02T00:00:00")).toDS()
    val topic = SparkTestSession.tempDir("topic").toString
    Messages.publish(reqs, topic)
    val got = Messages.subscribe(spark, topic).collect().toSet
    assert(got == reqs.collect().toSet)
  }

  test("Messages: pull/ack is at-least-once — unacked messages redeliver, acked stop") {
    val reqs = Seq(
      Messages.TransferRequest("sftp://a/1", "gs://b/1", remove_file = false, "2024-01-01"),
      Messages.TransferRequest("sftp://a/2", "gs://b/2", remove_file = false, "2024-01-02"),
      Messages.TransferRequest("sftp://a/3", "gs://b/3", remove_file = true, "2024-01-03")).toDS()
    val topic = SparkTestSession.tempDir("topic_ack").toString
    Messages.publish(reqs, topic)

    // cache pins each pulled set: pull() is lazy over topic-minus-acks,
    // so an uncached frame would re-evaluate against a grown ledger
    val first = Messages.pull(spark, topic, "workerA").cache()
    assert(first.count() == 3)
    // process-then-crash-before-ack: a second pull redelivers everything
    assert(Messages.pull(spark, topic, "workerA").count() == 3)

    // ack two of three → only the unacked one redelivers
    Messages.ack(first.limit(2), topic, "workerA")
    val second = Messages.pull(spark, topic, "workerA").cache()
    assert(second.count() == 1)
    // re-ack is idempotent; acking the rest drains the subscription
    Messages.ack(first.limit(2), topic, "workerA")
    Messages.ack(second, topic, "workerA")
    assert(Messages.pull(spark, topic, "workerA").count() == 0)
    // independent subscription still sees the full topic
    assert(Messages.pull(spark, topic, "workerB").count() == 3)
    // decode still round-trips pulled payloads
    assert(Messages.decode(spark, Messages.pull(spark, topic, "workerB"))
      .collect().toSet == reqs.collect().toSet)
  }

  test("Runner: steps run in order; a failure fires the callback once and aborts") {
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val boom = new RuntimeException("boom")
    val e = intercept[Runner.StepFailed] {
      Runner.run(
        Seq(Runner.Step("a1", () => order += "a1"),
            Runner.Step("a2", () => order += "a2"),
            Runner.Step("b1", () => throw boom),
            Runner.Step("c1", () => order += "c1")),
        onFailure = (name, _) => failed += name)
    }
    assert(order.toSeq == Seq("a1", "a2")) // c1 never ran
    assert(failed.toSeq == Seq("b1"))
    assert(e.step == "b1" && (e.getCause eq boom))
  }

  test("Multimodal: decodeFeatures reads stub headers; frame sampling fans out") {
    val assets = Multimodal.syntheticAssets(spark, 30)
    val feats = Multimodal.decodeFeatures(assets)
    assert(feats.count() == 30)
    val video = feats.where($"modality" === "video")
    assert(video.where($"n_frames" > 1).count() == video.count())
    val frames = Multimodal.sampleFrames(feats, stride = 8)
    // every sampled frame index is a multiple of the stride, in range
    val bad = frames.where($"frame_idx" % 8 =!= 0).count()
    assert(bad == 0)
    assert(frames.count() > video.count()) // fan-out happened
  }

  test("Multimodal: resize scales visual header dims, audio passes byte-identical") {
    val assets = Multimodal.syntheticAssets(spark, 6)
    val before = Multimodal.decodeFeatures(assets)
      .select("asset_id", "width").as[(Long, Int)].collect().toMap
    val resizedAssets = Multimodal.resize(assets, 0.5)
    val resized = Multimodal.decodeFeatures(resizedAssets)
      .select("asset_id", "width").as[(Long, Int)].collect().toMap
    val modality = assets.select("asset_id", "modality")
      .as[(Long, String)].collect().toMap
    before.foreach { case (id, w) =>
      if (modality(id) == "audio") assert(resized(id) == w) // untouched
      else assert(resized(id) == w / 2)
    }
    // audio bytes are BYTE-IDENTICAL (a header rewrite would corrupt
    // a real WAV's RIFF container)
    val origBytes = assets.where($"modality" === "audio")
      .select("asset_id", "bytes").as[(Long, Array[Byte])].collect().toMap
    Multimodal.resize(assets.where($"modality" === "audio"), 0.5)
      .select("asset_id", "bytes").as[(Long, Array[Byte])].collect()
      .foreach { case (id, b) => assert(b.sameElements(origBytes(id))) }
    // a REAL WAV survives resize with a parseable header
    val wav = Multimodal.syntheticAudioAssets(spark, 4)
    Multimodal.resize(wav, 0.5).select("bytes").as[Array[Byte]].collect()
      .foreach(b => assert(Multimodal.AudioCodec.decodeMeta(b).isDefined))
  }

  test("Multimodal: REAL image decode recovers PNG/BMP dims from the bytes") {
    val assets = Multimodal.syntheticImageAssets(spark, 20)
    val feats = Multimodal.decodeFeatures(assets)
      .select("asset_id", "width", "height", "n_frames", "byte_len")
      .as[(Long, Int, Int, Int, Long)].collect()
    assert(feats.length == 20)
    feats.foreach { case (i, w, h, f, len) =>
      assert(w == 16 + (i % 8).toInt * 4, s"asset $i width")
      assert(h == 12 + (i % 5).toInt * 4, s"asset $i height")
      assert(f == 1)
      // real container bytes, not the 38-byte stub shape
      assert(len > 38, s"asset $i should carry a real image payload")
    }
    // unreadable image bytes fall back to the stub header, loudly zero
    val junk = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        99L, "image", Array.fill[Byte](3)(7), org.apache.spark.sql.Row("s", "m")))),
      Multimodal.assetSchema)
    val r = Multimodal.decodeFeatures(junk)
      .select("width", "height").as[(Int, Int)].collect().head
    assert(r == ((0, 0)))
  }

  test("Multimodal: REAL audio decode recovers WAV properties from the bytes") {
    val assets = Multimodal.syntheticAudioAssets(spark, 16)
    val feats = Multimodal.decodeFeatures(assets)
      .select("asset_id", "sample_rate", "channels", "n_frames", "width")
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(feats.length == 16)
    val rates = Seq(8000, 11025, 16000, 22050)
    feats.foreach { case (i, sr, ch, f, w) =>
      assert(sr == rates((i % 4).toInt), s"asset $i rate")
      assert(ch == 1 + (i % 2).toInt, s"asset $i channels")
      assert(f == 500 + (i % 7).toInt * 250, s"asset $i frames")
      assert(w == 0) // image dims stay zero for audio
    }
    // stub-header audio (syntheticAssets) still decodes via the stub
    val stub = Multimodal.decodeFeatures(
      Multimodal.syntheticAssets(spark, 6).where($"modality" === "audio"))
    assert(stub.where($"sample_rate" === 0).count() == stub.count())
  }

  test("Multimodal: REAL video decode walks AVI RIFF headers") {
    val assets = Multimodal.syntheticVideoAssets(spark, 15)
    val feats = Multimodal.decodeFeatures(assets)
      .select("asset_id", "width", "height", "n_frames", "sample_rate")
      .as[(Long, Int, Int, Int, Int)].collect()
    assert(feats.length == 15)
    feats.foreach { case (i, w, h, f, sr) =>
      assert(w == 16 + (i % 6).toInt * 4, s"asset $i width")
      assert(h == 12 + (i % 4).toInt * 4, s"asset $i height")
      assert(f == 6 + (i % 5).toInt * 3, s"asset $i frames")
      assert(sr == 0)
    }
    // stub-header video (syntheticAssets) still decodes via the stub
    val stub = Multimodal.decodeFeatures(
      Multimodal.syntheticAssets(spark, 9).where($"modality" === "video"))
    assert(stub.count() == 3 && stub.where($"n_frames" > 1).count() == 3)
    // junk tagged video is loudly zero, not misparsed
    assert(Multimodal.VideoCodec.decodeMeta("RIFFxxxx".getBytes).isEmpty)
    assert(Multimodal.VideoCodec.decodeMeta(Array.fill[Byte](64)(3)).isEmpty)
  }

  test("Multimodal: MJPEG metadata comes from the frames, not the container") {
    import Multimodal.VideoCodec
    // container headers zeroed: avih says nothing, frames say 20x16x3
    val lying = VideoCodec.encodeMjpegAvi(20, 16, 3,
      (f, x, y) => (f * 37 + y * 20 + x) & 0xffffff, advertiseDims = false)
    assert(VideoCodec.decodeMeta(lying).contains((0, 0, 0))) // header consulted alone is useless
    assert(VideoCodec.mjpegMeta(lying).contains((20, 16, 3)))
    // truthful container: both paths agree
    val truthful = VideoCodec.encodeMjpegAvi(24, 12, 2, (_, _, _) => 0x336699)
    assert(VideoCodec.decodeMeta(truthful).contains((24, 12, 2)))
    assert(VideoCodec.mjpegMeta(truthful).contains((24, 12, 2)))
    // the '00dc' payloads are REAL JPEGs: ImageIO can read frame 0
    // back out of the container at the chunk offset mjpegMeta walked
    val sof = VideoCodec.jpegSofDims(lying, _: Int, _: Int)
    var off = 12; var found = false
    while (!found && off + 8 <= lying.length) {
      val id = new String(lying, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = (lying(off + 4) & 0xff) | ((lying(off + 5) & 0xff) << 8) |
        ((lying(off + 6) & 0xff) << 16) | ((lying(off + 7) & 0xff) << 24)
      if (id == "00dc") {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(lying, off + 8, size))
        assert(img != null && img.getWidth == 20 && img.getHeight == 16)
        assert(sof(off + 8, size).contains((20, 16)))
        found = true
      } else if (id == "LIST") off += 12
      else off += 8 + size + (size & 1)
    }
    assert(found, "no 00dc chunk located")
    // decodeFeatures end-to-end on header-less MJPEG assets
    val feats = Multimodal.decodeFeatures(Multimodal.syntheticMjpegAssets(spark, 9))
      .select("asset_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    assert(feats.length == 9)
    feats.foreach { case (i, w, h, f) =>
      assert(w == 16 + (i % 6).toInt * 4 && h == 12 + (i % 4).toInt * 4 &&
        f == 4 + (i % 3).toInt * 2, s"asset $i: $w x $h x $f")
    }
    // malformed JPEG payloads do not misparse
    assert(VideoCodec.jpegSofDims(Array[Byte](1, 2, 3, 4), 0, 4).isEmpty)
    assert(VideoCodec.mjpegMeta("RIFF1234AVI junk".getBytes).isEmpty)
    // a crafted chunk size near 2^31 must not wrap the Int cursor
    // negative and crash the RIFF walk (untrusted record content)
    val evil = new Array[Byte](32)
    System.arraycopy("RIFF".getBytes, 0, evil, 0, 4)
    System.arraycopy("AVI ".getBytes, 0, evil, 8, 4)
    System.arraycopy("00dc".getBytes, 0, evil, 12, 4)
    evil(16) = 0xf0.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0x7f.toByte // size 0x7FFFFFF0
    assert(VideoCodec.mjpegMeta(evil).isEmpty)
    assert(VideoCodec.decodeMeta(evil).isEmpty)
    assert(Multimodal.VideoCodec.resizeMjpeg(evil, 0.5).isEmpty)
  }

  test("Multimodal: MP4 metadata comes from the ISO-BMFF box tree") {
    import Multimodal.VideoCodec
    // round-trip: encode a box tree, walk it back
    val mp4 = VideoCodec.encodeMp4(320, 240, 50, "avc1")
    assert(VideoCodec.mp4Meta(mp4).contains((320, 240, 50, "avc1", 2000L)))
    // each codec id survives the stsd sample entry verbatim
    Seq("hev1", "vp09", "mp4v").foreach { c =>
      assert(VideoCodec.mp4Meta(VideoCodec.encodeMp4(64, 48, 10, c))
        .map(_._4).contains(c), c)
    }
    // zero frames is a legal (still-initializing) container
    assert(VideoCodec.mp4Meta(VideoCodec.encodeMp4(16, 12, 0, "avc1"))
      .contains((16, 12, 0, "avc1", 0L)))
    // muxed file with the audio trak FIRST: codec and frame count
    // must come from the 'vide' trak, not the mp4a sample table
    val muxed = VideoCodec.encodeMp4(320, 240, 50, "avc1", audioTrackFirst = true)
    assert(VideoCodec.mp4Meta(muxed).contains((320, 240, 50, "avc1", 2000L)))
    // non-BMFF payloads are rejected, not misparsed
    assert(VideoCodec.mp4Meta("RIFF1234AVI junk".getBytes).isEmpty)
    assert(VideoCodec.mp4Meta(Array.fill[Byte](64)(7)).isEmpty)
    assert(VideoCodec.mp4Meta(null).isEmpty)
    // truncated mid-box: the walk stops cleanly
    assert(VideoCodec.mp4Meta(mp4.take(40)).isEmpty)
    // hostile 64-bit largesize near 2^63: positive (passes size<hdr)
    // but `off + size` wraps negative — the walk must stop, not index
    // with a garbage Int (regression: overflow-safe `size > to - off`)
    Seq(Long.MaxValue - Int.MaxValue + 1L, Long.MaxValue - 1L,
        Long.MaxValue).foreach { largesize =>
      val evil = java.nio.ByteBuffer.allocate(32)
      evil.putInt(1).put("ftyp".getBytes).putLong(largesize)
      assert(VideoCodec.mp4Meta(evil.array()).isEmpty, s"largesize=$largesize")
    }
    // containerMetadata relation: arithmetic replay + NULLs for non-BMFF
    val metas = Multimodal.containerMetadata(Multimodal.syntheticMp4Assets(spark, 12))
      .select("asset_id", "width", "height", "n_frames", "codec", "duration_ms")
      .as[(Long, Int, Int, Int, String, Long)].collect()
    assert(metas.length == 12)
    val codecs = Seq("avc1", "hev1", "vp09", "mp4v")
    metas.foreach { case (i, w, h, f, c, d) =>
      assert(w == 16 + (i % 6).toInt * 4 && h == 12 + (i % 4).toInt * 4, s"asset $i dims")
      assert(f == 5 + (i % 4).toInt * 3, s"asset $i frames")
      assert(c == codecs((i % 4).toInt) && d == f * 40L, s"asset $i codec/duration")
    }
    // decodeFeatures dispatch recognizes MP4 payloads tagged video
    val feats = Multimodal.decodeFeatures(Multimodal.syntheticMp4Assets(spark, 6))
      .select("asset_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    feats.foreach { case (i, w, h, f) =>
      assert(w == 16 + (i % 6).toInt * 4 && h == 12 + (i % 4).toInt * 4 &&
        f == 5 + (i % 4).toInt * 3, s"asset $i via decodeFeatures")
    }
  }

  test("Multimodal: MP3 metadata comes from the MPEG frame-header chain") {
    import Multimodal.AudioCodec
    // round-trip: encode a frame stream, walk it back (PCM = 1152/frame)
    val mp3 = AudioCodec.encodeMp3(44100, 2, 20, 128)
    assert(AudioCodec.mp3Meta(mp3).contains((44100, 2, 20 * 1152)))
    assert(AudioCodec.mp3Meta(AudioCodec.encodeMp3(32000, 1, 7, 320))
      .contains((32000, 1, 7 * 1152)))
    // ID3v1 trailer after the frames is tolerated
    val tagged = mp3 ++ ("TAG" + "x" * 125).getBytes("US-ASCII")
    assert(AudioCodec.mp3Meta(tagged).contains((44100, 2, 20 * 1152)))
    // non-MP3 payloads and mid-stream garbage are rejected, not misparsed
    assert(AudioCodec.mp3Meta("RIFF1234WAVEfmt ".getBytes).isEmpty)
    assert(AudioCodec.mp3Meta(mp3.take(mp3.length - 3)).isEmpty)
    assert(AudioCodec.mp3Meta(null).isEmpty)
    assert(AudioCodec.mp3Meta(
      AudioCodec.encodeWav(8000, 1, 100, seed = 1)).isEmpty)
    // decodeFeatures dispatch: WAV via javax, MP3 via the frame walk
    val feats = Multimodal.decodeFeatures(Multimodal.syntheticMp3Assets(spark, 9))
      .select("asset_id", "sample_rate", "channels", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    assert(feats.length == 9)
    val rates = Seq(44100, 48000, 32000)
    feats.foreach { case (i, sr, ch, f) =>
      assert(sr == rates((i % 3).toInt) && ch == 1 + (i % 2).toInt &&
        f == (10 + (i % 5).toInt * 4) * 1152, s"asset $i: $sr/$ch/$f")
    }
  }

  test("Multimodal: FLAC metadata unpacks the STREAMINFO bit fields") {
    import Multimodal.AudioCodec
    assert(AudioCodec.flacMeta(AudioCodec.encodeFlac(44100, 2, 88200))
      .contains((44100, 2, 88200)))
    assert(AudioCodec.flacMeta(AudioCodec.encodeFlac(96000, 1, 0))
      .contains((96000, 1, 0)))
    // 8 channels and a non-canonical rate survive the bit packing
    assert(AudioCodec.flacMeta(AudioCodec.encodeFlac(12345, 8, 77))
      .contains((12345, 8, 77)))
    // rejects, never misparses
    assert(AudioCodec.flacMeta("fLaX not flac".getBytes).isEmpty)
    assert(AudioCodec.flacMeta(AudioCodec.encodeMp3(44100, 2, 3, 128)).isEmpty)
    assert(AudioCodec.flacMeta(null).isEmpty)
    assert(AudioCodec.flacMeta(AudioCodec.encodeFlac(44100, 2, 100).take(20)).isEmpty)
    // decodeFeatures dispatch: sample properties via the bit unpack
    val feats = Multimodal.decodeFeatures(Multimodal.syntheticFlacAssets(spark, 9))
      .select("asset_id", "sample_rate", "channels", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    val rates = Seq(44100, 48000, 96000)
    feats.foreach { case (i, sr, ch, f) =>
      assert(sr == rates((i % 3).toInt) && ch == 1 + (i % 2).toInt &&
        f == 1000 + (i % 7).toInt * 500, s"asset $i: $sr/$ch/$f")
    }
  }

  test("Multimodal: WebM metadata comes from the EBML element tree") {
    import Multimodal.VideoCodec
    // round-trip: encode an EBML tree, walk it back
    val webm = VideoCodec.encodeWebm(640, 360, 25, "V_VP9")
    assert(VideoCodec.webmMeta(webm).contains((640, 360, 25, "V_VP9", 1000L)))
    Seq("V_VP8", "V_AV1").foreach { c =>
      assert(VideoCodec.webmMeta(VideoCodec.encodeWebm(32, 24, 4, c))
        .map(_._4).contains(c), c)
    }
    // zero blocks is a legal (headers-only) stream
    assert(VideoCodec.webmMeta(VideoCodec.encodeWebm(16, 12, 0, "V_VP8"))
      .contains((16, 12, 0, "V_VP8", 0L)))
    // muxed stream: track-2 audio blocks outnumber the video blocks
    // 3:1 and must not inflate the video frame count
    val muxed = VideoCodec.encodeWebm(640, 360, 25, "V_VP9", withAudioTrack = true)
    assert(VideoCodec.webmMeta(muxed).contains((640, 360, 25, "V_VP9", 1000L)))
    // non-EBML payloads are rejected, not misparsed
    assert(VideoCodec.webmMeta("RIFF1234AVI junk".getBytes).isEmpty)
    assert(VideoCodec.webmMeta(VideoCodec.encodeMp4(16, 12, 2, "avc1")).isEmpty)
    assert(VideoCodec.webmMeta(null).isEmpty)
    // truncated mid-element: the walk stops cleanly
    assert(VideoCodec.webmMeta(webm.take(50)).isEmpty)
    // containerMetadata dispatches per record across MIXED containers
    val mixed = Multimodal.syntheticMp4Assets(spark, 6)
      .unionByName(Multimodal.syntheticWebmAssets(spark, 6)
        .withColumn("asset_id", $"asset_id" + 100L))
    val metas = Multimodal.containerMetadata(mixed)
      .select("asset_id", "width", "height", "n_frames", "codec", "duration_ms")
      .as[(Long, Int, Int, Int, String, Long)].collect()
    assert(metas.length == 12)
    val webmCodecs = Seq("V_VP8", "V_VP9", "V_AV1")
    metas.foreach { case (id, w, h, f, c, d) =>
      val i = if (id >= 100L) id - 100L else id
      assert(w == 16 + (i % 6).toInt * 4 && h == 12 + (i % 4).toInt * 4, s"asset $id dims")
      if (id >= 100L) {
        assert(f == 3 + (i % 5).toInt * 2 && c == webmCodecs((i % 3).toInt) &&
          d == f * 40L, s"webm asset $id")
      } else assert(f == 5 + (i % 4).toInt * 3, s"mp4 asset $id")
    }
    // decodeFeatures dispatch recognizes WebM payloads tagged video
    val feats = Multimodal.decodeFeatures(Multimodal.syntheticWebmAssets(spark, 5))
      .select("asset_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    feats.foreach { case (i, w, h, f) =>
      assert(w == 16 + (i % 6).toInt * 4 && h == 12 + (i % 4).toInt * 4 &&
        f == 3 + (i % 5).toInt * 2, s"asset $i via decodeFeatures")
    }
  }

  test("Multimodal: REAL video resize re-frames the AVI container") {
    val assets = Multimodal.syntheticVideoAssets(spark, 10)
    val resized = Multimodal.resize(assets, 0.5)
    val feats = Multimodal.decodeFeatures(resized)
      .select("asset_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    feats.foreach { case (i, w, h, f) =>
      assert(w == math.max(1, (16 + (i % 6).toInt * 4) / 2), s"asset $i width")
      assert(h == math.max(1, (12 + (i % 4).toInt * 4) / 2), s"asset $i height")
      assert(f == 6 + (i % 5).toInt * 3, s"asset $i keeps all frames")
    }
    // frame content survives: a scaled pixel equals its source pixel
    // (nearest-neighbor on an index-derived pattern)
    val one = Multimodal.VideoCodec.encodeAvi(8, 4, 2,
      (f, x, y) => (f << 16) | (y << 8) | x)
    val half = Multimodal.VideoCodec.resizeAvi(one, 0.5).get
    assert(Multimodal.VideoCodec.decodeMeta(half).contains((4, 2, 2)))
  }

  test("Multimodal: MJPEG resize rescales real JPEG frames; MP4/WebM pass through") {
    // MJPEG: per-frame decode/scale/re-encode — decoded dims halve,
    // frame count survives, and the rebuilt container is truthful
    val mj = Multimodal.resize(Multimodal.syntheticMjpegAssets(spark, 6), 0.5)
    val feats = Multimodal.decodeFeatures(mj)
      .select("asset_id", "width", "height", "n_frames")
      .as[(Long, Int, Int, Int)].collect()
    feats.foreach { case (i, w, h, f) =>
      assert(w == math.max(1, (16 + (i % 6).toInt * 4) / 2), s"asset $i width")
      assert(h == math.max(1, (12 + (i % 4).toInt * 4) / 2), s"asset $i height")
      assert(f == 4 + (i % 3).toInt * 2, s"asset $i keeps all frames")
    }
    // MP4/WebM: codec frames can't be re-encoded — resize must be a
    // byte-identical pass-through, never stub-header corruption
    Seq(Multimodal.syntheticMp4Assets(spark, 4),
        Multimodal.syntheticWebmAssets(spark, 4)).foreach { assets =>
      val before = assets.select("asset_id", "bytes")
        .as[(Long, Array[Byte])].collect().toMap
      Multimodal.resize(assets, 0.5).select("asset_id", "bytes")
        .as[(Long, Array[Byte])].collect().foreach { case (id, b) =>
          assert(java.util.Arrays.equals(b, before(id)), s"asset $id mutated")
        }
    }
  }

  test("Multimodal: REAL image resize rescales actual pixels") {
    val assets = Multimodal.syntheticImageAssets(spark, 8)
    val resized = Multimodal.decodeFeatures(Multimodal.resize(assets, 0.5))
      .select("asset_id", "width", "height").as[(Long, Int, Int)].collect()
    resized.foreach { case (i, w, h) =>
      assert(w == math.max(1, (16 + (i % 8).toInt * 4) / 2), s"asset $i width")
      assert(h == math.max(1, (12 + (i % 5).toInt * 4) / 2), s"asset $i height")
    }
  }

  test("Multimodal: JPEG/GIF/TIFF decode via imageio; resize keeps the source container") {
    import Multimodal.ImageCodec
    // sniffed names per cycle slot: the JDK TIFF reader reports "tif"
    // even though the writer is addressed as "tiff"
    val sniffed = Seq("png", "jpeg", "gif", "bmp", "tif")
    val raw = Multimodal.syntheticImageAssets(spark, 10)
      .select("asset_id", "bytes").as[(Long, Array[Byte])].collect()
    assert(raw.length == 10)
    raw.foreach { case (i, bytes) =>
      assert(ImageCodec.formatName(bytes).contains(sniffed((i % 5).toInt)),
        s"asset $i container")
      assert(ImageCodec.decodeDims(bytes)
        .contains((16 + (i % 8).toInt * 4, 12 + (i % 5).toInt * 4)),
        s"asset $i header dims")
    }
    // resize must re-encode in the SOURCE container: a jpeg in is a
    // jpeg out, a tiff in is a tiff out — and the new header parses
    val resized = Multimodal.resize(Multimodal.syntheticImageAssets(spark, 10), 0.5)
      .select("asset_id", "bytes").as[(Long, Array[Byte])].collect()
    resized.foreach { case (i, bytes) =>
      assert(ImageCodec.formatName(bytes).contains(sniffed((i % 5).toInt)),
        s"resized asset $i container")
      assert(ImageCodec.decodeDims(bytes).contains(
        (math.max(1, (16 + (i % 8).toInt * 4) / 2),
         math.max(1, (12 + (i % 5).toInt * 4) / 2))),
        s"resized asset $i header dims")
    }
  }

  test("Multimodal: LIST-bomb RIFF stops the walk (no StackOverflow); failed-RIFF resize passes through") {
    // ~6000 nested LIST chunks: self-recursion without a depth bound
    // would StackOverflowError (an Error no catch sees) in the walk
    val levels = 6000
    val bomb = new java.io.ByteArrayOutputStream()
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte,
      (v >> 16).toByte, (v >> 24).toByte)
    bomb.write("RIFF".getBytes); bomb.write(le32(4 + levels * 8 + 4))
    bomb.write("AVI ".getBytes)
    for (i <- 0 until levels) {
      bomb.write("LIST".getBytes)
      bomb.write(le32((levels - i - 1) * 8 + 8)) // 4cc + nested payload
      bomb.write("list".getBytes)
    }
    bomb.write(Array[Byte](0, 0, 0, 0))
    val bytes = bomb.toByteArray
    assert(Multimodal.VideoCodec.decodeMeta(bytes).isEmpty) // and no throw
    // a real-but-unresizable RIFF must come through resize UNCHANGED —
    // not reinterpreted by the stub as fake header arithmetic
    val row = Multimodal.resize(
      Seq((1L, "video", bytes, ("s", "video/avi")))
        .toDF("asset_id", "modality", "bytes", "meta"), 0.5)
      .select("bytes").as[Array[Byte]].head()
    assert(java.util.Arrays.equals(row, bytes),
      "failed-resizer RIFF payload must pass through byte-identical")
  }

  test("Multimodal: dHash is container-invariant lossless, near-invariant lossy, separated across content") {
    import Multimodal.ImageCodec
    def img(seed: Int, w: Int = 24, h: Int = 20) = {
      val im = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        im.setRGB(x, y, (((seed * 2654435761L +
          (y * 31L + x) * 2246822519L) >> 8) & 0xffffff).toInt)
      im
    }
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = img(7)
    val png = Multimodal.dHash64(ImageCodec.encode(base, "png")).get
    val bmp = Multimodal.dHash64(ImageCodec.encode(base, "bmp")).get
    val tif = Multimodal.dHash64(ImageCodec.encode(base, "tiff")).get
    assert(png == bmp && bmp == tif, "lossless re-encodes must hash identically")
    // a JPEG of the SAME pixels is perceptually the same image: near
    // zero, never far (the property that makes the hash 'perceptual')
    val jpg = Multimodal.dHash64(ImageCodec.encode(base, "jpeg")).get
    assert(ham(png, jpg) <= 16, s"jpeg drifted ${ham(png, jpg)} bits")
    // distinct content separates far beyond the pairing threshold
    val others = (0 until 16).filter(_ != 7)
      .map(s => Multimodal.dHash64(ImageCodec.encode(img(s), "png")).get)
    assert(others.forall(o => ham(png, o) > 3),
      s"cross-content hashes inside the dedup threshold")
    // undecodable bytes -> None, never a throw
    assert(Multimodal.dHash64(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("Multimodal: audio fingerprint container-invariant across WAV/AIFF/AU; content separates") {
    import Multimodal.AudioCodec
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val wav = Multimodal.audioFingerprint64(
      AudioCodec.encodePcm(8000, 600, seed = 120L, "wav")).get
    val aiff = Multimodal.audioFingerprint64(
      AudioCodec.encodePcm(8000, 600, seed = 120L, "aiff")).get
    val au = Multimodal.audioFingerprint64(
      AudioCodec.encodePcm(8000, 600, seed = 120L, "au")).get
    assert(wav == aiff && aiff == au,
      "lossless containers of identical PCM must fingerprint identically")
    // distinct content (other seeds/lengths) separates past threshold
    val others = (0 until 16).map(g => Multimodal.audioFingerprint64(
      AudioCodec.encodePcm(8000, 400 + (g % 5) * 100, g * 17L + 3L, "wav")).get)
    others.foreach(o => assert(ham(wav, o) > 3, s"inside dedup threshold vs $o"))
    // the property the x59 oracle depends on: the 16 gate-group
    // fingerprints must ALSO separate pairwise (equal-length groups
    // are periodic phase shifts of each other — if any two landed
    // within Hamming 3, the gate would emit a cross-group pair)
    others.zipWithIndex.combinations(2).foreach {
      case Seq((a, ga), (b, gb)) =>
        assert(ham(a, b) > 3, s"groups $ga and $gb inside dedup threshold")
      case _ =>
    }
    // too short for 65 windows, or undecodable -> None, never a throw
    assert(Multimodal.audioFingerprint64(
      AudioCodec.encodePcm(8000, 64, 1L, "wav")).isEmpty)
    assert(Multimodal.audioFingerprint64(Array[Byte](9, 9, 9)).isEmpty)
  }

  test("Multimodal: video content hash is layout-invariant, order- and content-sensitive") {
    import Multimodal.VideoCodec
    def px(g: Int)(f: Int, x: Int, y: Int): Int =
      (((g * 2654435761L + f * 40503L +
        (y * 31L + x) * 2246822519L) >> 8) & 0xffffff).toInt
    val base = VideoCodec.encodeAvi(24, 20, 4, px(5))
    val junk = VideoCodec.appendJunk(base, 64)
    assert(!java.util.Arrays.equals(base, junk))
    // the layout variant still parses as the same container...
    assert(VideoCodec.decodeMeta(junk).contains((24, 20, 4)))
    // ...and content-hashes identically
    val h0 = Multimodal.videoContentHash64(base).get
    assert(Multimodal.videoContentHash64(junk).contains(h0))
    // one changed frame changes the hash; frame ORDER is content too
    val edited = VideoCodec.encodeAvi(24, 20, 4,
      (f, x, y) => if (f == 2) px(9)(f, x, y) else px(5)(f, x, y))
    assert(!Multimodal.videoContentHash64(edited).contains(h0))
    val reversed = VideoCodec.encodeAvi(24, 20, 4,
      (f, x, y) => px(5)(3 - f, x, y))
    assert(!Multimodal.videoContentHash64(reversed).contains(h0))
    // an MJPEG of the SAME frames: per-frame dHashes near the DIB's
    // (lossy decode drifts bits, the perceptual property), count equal
    val mj = VideoCodec.encodeMjpegAvi(24, 20, 4, px(5))
    val (dibF, mjF) = (VideoCodec.frameDHashes(base).get,
      VideoCodec.frameDHashes(mj).get)
    assert(mjF.size == dibF.size)
    dibF.zip(mjF).foreach { case (a, b) =>
      assert(java.lang.Long.bitCount(a ^ b) <= 16,
        s"MJPEG frame drifted ${java.lang.Long.bitCount(a ^ b)} bits") }
  }

  test("Messages: re-publishing identical payloads yields fresh ids (no silent loss)") {
    val req = Seq(Messages.TransferRequest("sftp://a/1", "gs://b/1",
      remove_file = false, "2024-01-01")).toDS()
    val topic = SparkTestSession.tempDir("topic_repub").toString
    Messages.publish(req, topic)
    val first = Messages.pull(spark, topic, "w").cache()
    assert(first.count() == 1)
    Messages.ack(first, topic, "w")
    // same content published again: a content-hash id would collide with
    // the acked copy and vanish from pull() — the nonce id must not
    Messages.publish(req, topic)
    assert(Messages.pull(spark, topic, "w").count() == 1)
  }
}
