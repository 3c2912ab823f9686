package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Warc

/** WARC container source: framing roundtrip, concatenated gzip
  * members, HTTP splitting, the truncation cap, and the never-throw
  * contract on malformed / fuzzed input. */
class WarcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def respRecord(id: Int, body: String,
                         status: Int = 200): Array[Byte] =
    Warc.writeRecord(
      Seq(
        "WARC-Type" -> "response",
        "WARC-Target-URI" -> s"https://example.org/item$id",
        "WARC-Date" -> "2023-11-14T22:13:20Z",
        "WARC-Record-ID" -> s"<urn:uuid:00000000-0000-0000-0000-${"%012d".format(id)}>",
        "Content-Type" -> "application/http; msgtype=response"),
      Warc.httpResponseBytes(status, "OK", "text/html; charset=utf-8",
        body.getBytes(UTF_8)))

  private def reqRecord(id: Int): Array[Byte] =
    Warc.writeRecord(
      Seq(
        "WARC-Type" -> "request",
        "WARC-Target-URI" -> s"https://example.org/item$id",
        "WARC-Date" -> "2023-11-14T22:13:20Z",
        "Content-Type" -> "application/http; msgtype=request"),
      Warc.httpRequestBytes("GET", s"/item$id", "example.org"))

  test("roundtrip: plain multi-record stream, request/response split") {
    val bytes = reqRecord(1) ++ respRecord(1, "<p>one</p>") ++
      respRecord(2, "<p>two</p>", status = 404)
    val recs = Warc.parseAll(bytes)
    assert(recs.map(_.warcType) == Seq("request", "response", "response"))
    val r1 = recs(1)
    assert(r1.targetUri == "https://example.org/item1")
    assert(r1.httpStatus.contains(200))
    assert(r1.httpContentType.contains("text/html; charset=utf-8"))
    assert(new String(r1.body, UTF_8) == "<p>one</p>")
    assert(r1.dateEpochMicros.contains(1700000000000000L))
    assert(!r1.truncated)
    assert(recs(2).httpStatus.contains(404))
    // request record: no status, body is empty (headers only)
    assert(recs(0).httpStatus.isEmpty)
    assert(recs(0).body.isEmpty)
  }

  test("concatenated per-record gzip members parse as one stream") {
    val bytes = Warc.gzipMember(respRecord(1, "a")) ++
      Warc.gzipMember(reqRecord(2)) ++
      Warc.gzipMember(respRecord(2, "bb"))
    val recs = Warc.parseAll(bytes)
    assert(recs.size == 3)
    assert(new String(recs(2).body, UTF_8) == "bb")
  }

  test("header folding, bracket-stripped URI, LF-only HTTP head") {
    val payload = "HTTP/1.1 301 Moved\nContent-Type: text/plain\nLocation: x\n\nmoved"
      .getBytes(UTF_8)
    val rec = Warc.writeRecord(
      Seq("WARC-Type" -> "response",
        "WARC-Target-URI" -> "<https://example.org/a>",
        "WARC-Date" -> "2023-11-14T22:13:20.500Z",
        "X-Folded" -> "first",
        " continued" -> "ignored-shape", // written as a folded line below
        "Content-Type" -> "application/http"),
      payload)
    // hand-build a folded header: replace the bogus line with a continuation
    val txt = new String(rec, UTF_8)
      .replace(" continued: ignored-shape", "\tsecond part")
    val recs = Warc.parseAll(txt.getBytes(UTF_8))
    assert(recs.size == 1)
    assert(recs.head.targetUri == "https://example.org/a") // <> stripped
    assert(recs.head.httpStatus.contains(301))
    assert(new String(recs.head.body, UTF_8) == "moved")
    assert(recs.head.dateEpochMicros.contains(1700000000500000L))
  }

  test("payload cap: oversize block kept to cap, flagged truncated; walk continues") {
    val big = respRecord(1, "x" * 5000)
    val after = respRecord(2, "tail")
    val recs = Warc.parseAll(big ++ after, maxPayloadBytes = 256)
    assert(recs.size == 2)
    assert(recs.head.truncated)
    assert(recs.head.body.length <= 256)
    assert(recs.head.contentLength > 5000) // declared, not kept, length
    assert(!recs(1).truncated)
    assert(new String(recs(1).body, UTF_8) == "tail")
  }

  test("malformed inputs stop the walk, keep parsed prefix, never throw") {
    val good = respRecord(1, "ok")
    // truncated mid-block
    val cut = (good ++ respRecord(2, "yy")).dropRight(9)
    assert(Warc.parseAll(cut).size >= 1)
    // garbage between records: stop at the garbage, keep record 1
    val garbage = good ++ "not a warc header\r\n\r\n".getBytes(UTF_8) ++ good
    assert(Warc.parseAll(garbage).map(_.recNo) == Seq(0L))
    // missing Content-Length
    val noLen = "WARC/1.0\r\nWARC-Type: response\r\n\r\n".getBytes(UTF_8)
    assert(Warc.parseAll(noLen).isEmpty)
    // negative / non-numeric Content-Length
    val badLen = "WARC/1.0\r\nContent-Length: -5\r\n\r\n".getBytes(UTF_8)
    assert(Warc.parseAll(badLen).isEmpty)
    // truncated gzip member
    val gz = Warc.gzipMember(good)
    assert(Warc.parseAll(gz.dropRight(7)).size <= 1)
    // malformed WARC-Date is data, not an error
    val badDate = Warc.writeRecord(Seq("WARC-Type" -> "response",
      "WARC-Date" -> "yesterday-ish"), Array[Byte](1, 2))
    val r = Warc.parseAll(badDate)
    assert(r.size == 1 && r.head.dateEpochMicros.isEmpty)
  }

  test("fuzz: random and mutated bytes never throw") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val junk = Array.fill[Byte](rnd.nextInt(512))(rnd.nextInt.toByte)
      Warc.parseAll(junk) // must not throw
    }
    val good = Warc.gzipMember(respRecord(7, "seed body"))
    for (_ <- 1 to 300) {
      val mut = good.clone()
      val flips = 1 + rnd.nextInt(4)
      for (_ <- 0 until flips)
        mut(rnd.nextInt(mut.length)) = rnd.nextInt.toByte
      Warc.parseAll(mut) // must not throw
    }
    // a crafted huge Content-Length must not allocate/buffer unboundedly
    val evil = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      s"Content-Length: ${Long.MaxValue}\r\n\r\nshort").getBytes(UTF_8)
    val r = Warc.parseAll(evil, maxPayloadBytes = 1 << 10)
    assert(r.forall(_.truncated))
  }

  test("header bombs degrade to stop-the-walk, bounded memory") {
    // more distinct header lines than the cap → record dropped, no OOM
    val manyHeaders = new StringBuilder("WARC/1.0\r\n")
    for (i <- 1 to 1000) manyHeaders.append(s"X-H$i: v\r\n")
    manyHeaders.append("Content-Length: 0\r\n\r\n\r\n\r\n")
    assert(Warc.parseAll(manyHeaders.toString.getBytes(UTF_8)).isEmpty)
    // a continuation-line flood folds linearly and is size-bounded
    val fold = new StringBuilder("WARC/1.0\r\nX-A: start\r\n")
    for (_ <- 1 to 300000) fold.append(" c\r\n")
    fold.append("Content-Length: 0\r\n\r\n\r\n\r\n")
    assert(Warc.parseAll(fold.toString.getBytes(UTF_8)).isEmpty) // > 1 MiB block
    // under the caps, folding still works
    val ok = ("WARC/1.0\r\nWARC-Type: x\r\n\tfolded\r\n" +
      "Content-Length: 0\r\n\r\n\r\n\r\n").getBytes(UTF_8)
    assert(Warc.parseAll(ok).head.warcType == "x folded")
  }

  test("multi-member gzip survives an underlying stream with available()==0") {
    // GZIPInputStream's member-boundary probe consults available();
    // NonZeroAvailable must keep it walking even when the raw stream
    // reports 0 (remote-FS behavior), and still terminate at true EOF
    val rnd = new scala.util.Random(7)
    val bigBody = new String(Array.fill(200000)(('a' + rnd.nextInt(26)).toChar))
    val bytes = Warc.gzipMember(respRecord(1, bigBody)) ++
      Warc.gzipMember(respRecord(2, "tail"))
    val zeroAvail = new java.io.InputStream {
      val b = new java.io.ByteArrayInputStream(bytes)
      def read(): Int = b.read()
      override def read(a: Array[Byte], o: Int, l: Int): Int = b.read(a, o, l)
      override def available(): Int = 0
    }
    val recs = Warc.records(Warc.maybeGunzip(zeroAvail), 1 << 20).toList
    assert(recs.size == 2)
    assert(new String(recs(1).body, UTF_8) == "tail")
  }

  test("member index: exact offsets/lengths, tiles the file, metadata") {
    val members = Seq(
      Warc.gzipMember(reqRecord(1)),
      Warc.gzipMember(respRecord(1, "<b>A</b>")),
      Warc.gzipMember(respRecord(2, "B" * 50000, status = 404)),
      Warc.gzipMember(respRecord(3, "C")))
    val bytes = members.reduce(_ ++ _)
    val dir = SparkTestSession.tempDir("graft_warc_idx")
    Files.write(dir.resolve("a.warc.gz"), bytes)

    val idx = Warc.buildIndex(spark, dir.toString)
      .orderBy("offset").collect()
    assert(idx.length == 4)
    // offsets/lengths tile the file exactly: each member starts where
    // the previous ended, the last ends at EOF
    val expOff = members.scanLeft(0L)(_ + _.length)
    assert(idx.map(_.getAs[Long]("offset")).toSeq == expOff.dropRight(1))
    assert(idx.map(_.getAs[Long]("length")).toSeq == members.map(_.length.toLong))
    assert(idx.map(_.getAs[Long]("rec_no")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(idx.map(_.getAs[String]("warc_type")).toSeq ==
      Seq("request", "response", "response", "response"))
    assert(idx(2).getAs[Int]("http_status") == 404)
    assert(idx(1).getAs[String]("target_uri") == "https://example.org/item1")
    assert(idx(1).getAs[java.sql.Timestamp]("warc_date") != null)
    // the indexer caps what it keeps decompressed, but content_length
    // is still the record's declared length
    assert(idx(2).getAs[Long]("content_length") > 50000L)
  }

  test("ranged fetch reads ONLY the named members; bytes outside may be garbage") {
    val m1 = Warc.gzipMember(respRecord(1, "first"))
    val m2 = Warc.gzipMember(respRecord(2, "second"))
    val m3 = Warc.gzipMember(respRecord(3, "third"))
    val dir = SparkTestSession.tempDir("graft_warc_fetch")
    val f = dir.resolve("a.warc.gz")
    Files.write(f, m1 ++ m2 ++ m3)
    // materialize the index BEFORE corrupting (a DataFrame is lazy —
    // the point is fetching against a snapshot index)
    import spark.implicits._
    val idxRows = Warc.buildIndex(spark, dir.toString)
      .select("file", "offset", "length", "rec_no").as[(String, Long, Long, Long)]
      .collect().toSeq
    val idx = idxRows.toDF("file", "offset", "length", "rec_no")

    // corrupt every byte of members 1 and 3 on disk; a true ranged
    // fetch of member 2 must not notice
    val all = Files.readAllBytes(f)
    java.util.Arrays.fill(all, 0, m1.length, 0x5a.toByte)
    java.util.Arrays.fill(all, m1.length + m2.length, all.length, 0x5a.toByte)
    Files.write(f, all)

    val want = idx.where("rec_no = 1")
    val got = Warc.fetchAt(spark, want).collect()
    assert(got.length == 1)
    assert(new String(got(0).getAs[Array[Byte]]("body"), UTF_8) == "second")
    assert(got(0).getAs[Long]("offset") == m1.length.toLong)
    assert(got(0).getAs[Int]("http_status") == 200)

    // fetching the corrupted members drops them (stale index ≠ crash)
    assert(Warc.fetchAt(spark, idx.where("rec_no <> 1")).count() == 0)
    // offset past EOF / zero length: dropped, never thrown
    val bogus = Seq((f.toString, all.length + 10L, 64L),
      (f.toString, 0L, 0L)).toDF("file", "offset", "length")
    assert(Warc.fetchAt(spark, bogus).count() == 0)
  }

  test("fetchAt equals full-scan read on every field, across files") {
    val dir = SparkTestSession.tempDir("graft_warc_eq")
    val rnd = new scala.util.Random(11)
    for (fno <- 0 until 3) {
      val ms = (0 until 5).map { i =>
        val id = fno * 5 + i
        Warc.gzipMember(
          if (id % 4 == 0) reqRecord(id)
          else respRecord(id, s"body-$id-" + ("z" * rnd.nextInt(2000)),
            status = if (id % 3 == 0) 404 else 200))
      }
      Files.write(dir.resolve(f"f$fno%02d.warc.gz"), ms.reduce(_ ++ _))
    }
    val full = Warc.read(spark, dir.toString)
      .drop("rec_no").orderBy("target_uri").collect()
    val fetched = Warc.fetchAt(spark, Warc.buildIndex(spark, dir.toString))
      .drop("offset").orderBy("target_uri").collect()
    assert(fetched.length == full.length && full.length == 15)
    full.zip(fetched).foreach { case (a, b) =>
      assert(a.getAs[String]("target_uri") == b.getAs[String]("target_uri"))
      assert(a.getAs[String]("warc_type") == b.getAs[String]("warc_type"))
      assert(a.getAs[Long]("content_length") == b.getAs[Long]("content_length"))
      assert(a.getAs[Integer]("http_status") == b.getAs[Integer]("http_status"))
      assert(java.util.Arrays.equals(
        a.getAs[Array[Byte]]("body"), b.getAs[Array[Byte]]("body")))
    }
  }

  test("indexer: gzip header variants (FNAME/FEXTRA/FCOMMENT/FHCRC) and malformed members") {
    // hand-build a member with FNAME + FEXTRA + FCOMMENT + FHCRC set
    val rec = respRecord(9, "opt-fields")
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    deflater.setInput(rec); deflater.finish()
    val dbuf = new Array[Byte](rec.length * 2 + 64)
    val dlen = deflater.deflate(dbuf); deflater.end()
    val crc = new java.util.zip.CRC32(); crc.update(rec)
    val out = new java.io.ByteArrayOutputStream()
    // header: magic, CM=8, FLG = FHCRC|FEXTRA|FNAME|FCOMMENT (0x1e)
    out.write(Array[Byte](0x1f, 0x8b.toByte, 8, 0x1e, 0, 0, 0, 0, 0, 0))
    out.write(Array[Byte](3, 0)); out.write(Array[Byte](1, 2, 3)) // FEXTRA len=3
    out.write("name.warc".getBytes(UTF_8)); out.write(0) // FNAME
    out.write("a comment".getBytes(UTF_8)); out.write(0) // FCOMMENT
    out.write(Array[Byte](0, 0)) // FHCRC (unchecked)
    out.write(dbuf, 0, dlen)
    val tail = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(crc.getValue.toInt).putInt(rec.length)
    out.write(tail.array())
    val fancy = out.toByteArray
    val plain = Warc.gzipMember(respRecord(10, "tail"))

    val dir = SparkTestSession.tempDir("graft_warc_hdr")
    Files.write(dir.resolve("a.warc.gz"), fancy ++ plain)
    val idx = Warc.buildIndex(spark, dir.toString).orderBy("offset").collect()
    assert(idx.length == 2)
    assert(idx(0).getAs[Long]("length") == fancy.length.toLong)
    assert(idx(1).getAs[Long]("offset") == fancy.length.toLong)

    // malformed member stops the walk, keeps the parsed prefix, no
    // throw — plus one rec_no=-2 coverage marker recording that the
    // scan ended before physical EOF (offset = bytes indexed,
    // content_length = file size)
    val cut = plain ++ fancy.dropRight(5)
    Files.write(dir.resolve("a.warc.gz"), cut)
    val idx2 = Warc.buildIndex(spark, dir.toString)
      .orderBy("rec_no").collect()
    assert(idx2.length == 2)
    assert(idx2(1).getAs[Long]("rec_no") == 0L &&
      idx2(1).getAs[Long]("length") == plain.length.toLong)
    assert(idx2(0).getAs[Long]("rec_no") == -2L &&
      idx2(0).getAs[Long]("offset") == plain.length.toLong &&
      idx2(0).getAs[Long]("length") == 0L &&
      idx2(0).getAs[Long]("content_length") == cut.length.toLong)
    // fuzz: random bytes never throw and index nothing real
    val rnd = new scala.util.Random(13)
    for (_ <- 1 to 50) {
      Files.write(dir.resolve("a.warc.gz"),
        Array.fill[Byte](rnd.nextInt(400))(rnd.nextInt.toByte))
      Warc.buildIndex(spark, dir.toString).count() // must not throw
    }
  }

  test("updateIndex indexes ONLY archives the existing index has no rows for") {
    val dir = SparkTestSession.tempDir("graft_warc_upd")
    Files.write(dir.resolve("day1.warc.gz"), Warc.gzipMember(respRecord(1, "a")))
    // materialize (a DataFrame over the dir would see day2 lazily)
    def pin(df: org.apache.spark.sql.DataFrame) = spark.createDataFrame(
      spark.sparkContext.parallelize(df.collect().toSeq), Warc.indexSchema)
    val day1Rows = pin(Warc.buildIndex(spark, dir.toString))

    // corrupt day1 on disk: a true incremental update must not reopen it
    Files.write(dir.resolve("day1.warc.gz"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("day2.warc.gz"),
      Warc.gzipMember(respRecord(2, "b")) ++ Warc.gzipMember(respRecord(3, "c")))

    val fresh = Warc.updateIndex(spark, day1Rows, dir.toString)
    val freshRows = fresh.collect()
    assert(freshRows.length == 2)
    assert(freshRows.forall(_.getAs[String]("file").endsWith("day2.warc.gz")))
    // nothing new -> empty, correct schema
    val again = Warc.updateIndex(spark,
      day1Rows.unionAll(pin(fresh)), dir.toString)
    assert(again.schema == Warc.indexSchema && again.count() == 0)

    // a zero-record archive (corrupt from byte 0) gets a SENTINEL row
    // so the NEXT run knows it was visited and never re-opens it
    Files.write(dir.resolve("day3.warc.gz"), Array[Byte](9, 9, 9))
    val withBad = Warc.updateIndex(spark,
      day1Rows.unionAll(pin(fresh)), dir.toString).collect()
    assert(withBad.length == 1)
    assert(withBad(0).getAs[String]("file").endsWith("day3.warc.gz"))
    assert(withBad(0).getAs[Long]("rec_no") == -1L &&
      withBad(0).getAs[Long]("length") == 0L)
    // the sentinel records the on-disk size so a later rewrite of the
    // archive is detectable (and the caller can drop the sentinel)
    assert(withBad(0).getAs[Long]("content_length") == 3L)
    // with the sentinel appended, the corrupt archive is now known
    val sentinelDf = spark.createDataFrame(
      spark.sparkContext.parallelize(withBad.toSeq), Warc.indexSchema)
    assert(Warc.updateIndex(spark,
      day1Rows.unionAll(pin(fresh)).unionAll(sentinelDf), dir.toString)
      .count() == 0)
    // fetchAt drops sentinel rows (zero length), never throws
    assert(Warc.fetchAt(spark, sentinelDf).count() == 0)
  }

  test("dirty archive: index stops where the full scan stops (rec_no parity)") {
    // member 2 gunzips fine but fails WARC framing — BOTH paths must
    // stop there, or index rec_no drifts from scan rec_no and
    // fetchAt ≡ full-scan breaks on dirty archives
    val bad = Warc.gzipMember("this is not a WARC record\r\n\r\n".getBytes(UTF_8))
    val bytes = Warc.gzipMember(respRecord(1, "ok")) ++ bad ++
      Warc.gzipMember(respRecord(2, "after"))
    val dir = SparkTestSession.tempDir("graft_warc_dirty")
    Files.write(dir.resolve("a.warc.gz"), bytes)
    val scanned = Warc.read(spark, dir.toString).collect()
    val idx = Warc.buildIndex(spark, dir.toString)
      .where("rec_no >= 0").collect()
    assert(scanned.length == 1 && idx.length == 1)
    assert(idx(0).getAs[Long]("rec_no") == 0L)
    // the partial scan is marked: coverage ends where the walk stopped
    val mark = Warc.buildIndex(spark, dir.toString)
      .where("rec_no = -2").collect()
    assert(mark.length == 1 &&
      mark(0).getAs[Long]("offset") == idx(0).getAs[Long]("length") &&
      mark(0).getAs[Long]("content_length") == bytes.length.toLong)
    // and the maintenance view surfaces exactly that archive
    val partial = Warc.partialArchives(Warc.buildIndex(spark, dir.toString))
      .collect()
    assert(partial.length == 1)
    assert(partial(0).getAs[String]("file").endsWith("a.warc.gz") &&
      partial(0).getAs[Long]("covered_bytes") < partial(0).getAs[Long]("file_bytes"))
    // an index row lying about its length (bigger than the file) is
    // rejected before allocation, never thrown
    import spark.implicits._
    val lying = Seq((dir.resolve("a.warc.gz").toString, 0L, bytes.length + 1000L))
      .toDF("file", "offset", "length")
    assert(Warc.fetchAt(spark, lying).count() == 0)
  }

  test("unknown file size (stat failure) still marks a short walk partial") {
    // when getFileStatus fails the walk cannot judge completeness at
    // all — it must emit the rec_no=-2 marker with file_bytes = -1
    // (unknown), not silently classify the scan as complete and leave
    // the index permanently truncated with no durable record
    FaultInjectingFileSystem.register(spark)
    val dir = SparkTestSession.tempDir("graft_warc_stat")
    val bad = Warc.gzipMember("not a WARC record\r\n\r\n".getBytes(UTF_8))
    Files.write(dir.resolve("a.warc.gz"),
      Warc.gzipMember(respRecord(1, "ok")) ++ bad)
    // the driver-side LISTING also stats each child — fire only on
    // the executor-side stat (the one sizing the file), one-shot so
    // open()'s own existence stat still succeeds
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    FaultInjectingFileSystem.failStatWhen = p =>
      p.getName == "a.warc.gz" &&
        Thread.currentThread().getName.contains("Executor task launch") &&
        armed.compareAndSet(true, false)
    try {
      val idx = Warc.buildIndex(spark, "faulty://" + dir.toString).collect()
      val recs = idx.filter(_.getAs[Long]("rec_no") >= 0)
      val marks = idx.filter(_.getAs[Long]("rec_no") == -2L)
      assert(recs.length == 1 && marks.length == 1,
        idx.map(_.getAs[Long]("rec_no")).mkString(","))
      assert(marks(0).getAs[Long]("content_length") == -1L)
      assert(marks(0).getAs[Long]("offset") == recs(0).getAs[Long]("length"))
      // the maintenance view surfaces it with the honest unknown size
      val part = Warc.partialArchives(
        spark.createDataFrame(
          spark.sparkContext.parallelize(idx.toSeq), Warc.indexSchema)).collect()
      assert(part.length == 1 && part(0).getAs[Long]("file_bytes") == -1L)
    } finally FaultInjectingFileSystem.reset()
  }

  test("distributed read: one task per file, schema, response projection") {
    val dir = SparkTestSession.tempDir("graft_warc_spec")
    Files.write(dir.resolve("a.warc.gz"),
      Warc.gzipMember(reqRecord(1)) ++ Warc.gzipMember(respRecord(1, "<b>A</b>")))
    Files.write(dir.resolve("b.warc"),
      respRecord(2, "B" * 10) ++ respRecord(3, "C", status = 500))
    Files.write(dir.resolve("ignored.txt"), "nope".getBytes(UTF_8))

    val df = Warc.read(spark, dir.toString)
    assert(df.rdd.getNumPartitions == 2) // one per .warc* file
    assert(df.count() == 4)
    val resp = Warc.readResponses(spark, dir.toString)
      .orderBy("target_uri").collect()
    assert(resp.length == 3)
    assert(resp.map(_.getAs[Int]("http_status")).toSeq == Seq(200, 200, 500))
    assert(new String(resp(0).getAs[Array[Byte]]("body"), UTF_8) == "<b>A</b>")
    assert(resp(0).getAs[java.sql.Timestamp]("warc_date") != null)
  }
}
