package graft.operators

import graft.SparkSpec

/** WARC reader: round-trips through the writer in all three layouts
  * (plain, whole-stream gzip, Common Crawl member-per-record gzip),
  * a hand-assembled file with non-response records, and loud
  * id-tagged corruption failures.
  */
class WarcSpec extends SparkSpec {

  private def pages(n: Int): Seq[(String, Array[Byte])] =
    (0 until n).map(i => (s"https://ex.com/p$i",
      s"<html>page $i ${"x" * (i * 7 % 50)}</html>".getBytes("UTF-8")))

  test("round-trip plain: every record's uri/status/payload survive") {
    val ps = pages(5)
    val recs = WarcCodec.parse(1L, WarcCodec.writeResponses(ps))
    assert(recs.length == 5)
    recs.zip(ps).foreach { case (r, (uri, html)) =>
      assert(r.warcType == "response" && r.httpStatus == 200)
      assert(r.targetUri == uri)
      assert(java.util.Arrays.equals(r.payload, html))
    }
  }

  test("round-trip member-per-record gzip (the Common Crawl layout)") {
    val ps = pages(7)
    val bytes = WarcCodec.writeResponses(ps, gzipPerRecord = true)
    // really is multi-member: a second gzip magic exists past the first
    val second = (1 until bytes.length - 1).exists(i =>
      (bytes(i) & 0xff) == 0x1f && (bytes(i + 1) & 0xff) == 0x8b)
    assert(second, "fixture is not member-per-record")
    val recs = WarcCodec.parse(2L, bytes)
    assert(recs.length == 7)
    recs.zip(ps).foreach { case (r, (_, html)) =>
      assert(java.util.Arrays.equals(r.payload, html))
    }
  }

  test("round-trip whole-stream gzip") {
    val plain = WarcCodec.writeResponses(pages(3))
    val gz = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(gz)
    g.write(plain)
    g.close()
    assert(WarcCodec.parse(3L, gz.toByteArray).length == 3)
  }

  test("non-response records pass through typed, status -1, raw body") {
    val info = "software: graft\r\n".getBytes("US-ASCII")
    val rec = (s"WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      s"WARC-Record-ID: <urn:uuid:info>\r\n" +
      s"Content-Type: application/warc-fields\r\n" +
      s"Content-Length: ${info.length}\r\n\r\n").getBytes("US-ASCII") ++
      info ++ "\r\n\r\n".getBytes("US-ASCII")
    val bytes = rec ++ WarcCodec.writeResponses(pages(1))
    val recs = WarcCodec.parse(4L, bytes)
    assert(recs.length == 2)
    assert(recs.head.warcType == "warcinfo" && recs.head.httpStatus == -1)
    assert(java.util.Arrays.equals(recs.head.payload, info))
    assert(recs(1).warcType == "response" && recs(1).httpStatus == 200)
  }

  test("charset-aware payload decode: latin-1 pages survive intact") {
    // 'café résumé' in ISO-8859-1 is NOT valid UTF-8; decoding it as
    // UTF-8 would corrupt to replacement chars
    val text = "café résumé"
    val html = s"<html>$text</html>".getBytes("ISO-8859-1")
    val bytes = WarcCodec.writeResponses(
      Seq(("https://ex.com/latin", html)), charset = "ISO-8859-1")
    val rec = WarcCodec.parse(5L, bytes).head
    // iso-8859-1 is a WHATWG label FOR windows-1252 (a superset of
    // latin-1 on the printable range, so the decode is identical)
    assert(rec.httpCharset == "windows-1252")
    assert(new String(rec.payload, "ISO-8859-1") == s"<html>$text</html>")
    // and the Spark-facing records() decode honors it end-to-end
    import spark.implicits._
    val row = WarcCodec.records(
      Seq((5L, bytes)).toDF("media_id", "content")).collect().head
    assert(row.payload_text == s"<html>$text</html>")
  }

  test("corrupt inputs fail loudly with the media id") {
    val good = WarcCodec.writeResponses(pages(2))
    def expectFail(bytes: Array[Byte], what: String): Unit = {
      val e = intercept[IllegalArgumentException](WarcCodec.parse(99L, bytes))
      assert(e.getMessage.contains("media 99"), s"$what: ${e.getMessage}")
    }
    expectFail("HARC/1.0\r\n\r\njunk".getBytes("US-ASCII"), "bad magic")
    expectFail(java.util.Arrays.copyOfRange(good, 0, good.length - 30), "truncated body")
    expectFail(("WARC/1.0\r\nWARC-Type: response\r\n\r\n" +
      "body").getBytes("US-ASCII"), "missing Content-Length")
    val gzBad = WarcCodec.writeResponses(pages(2), gzipPerRecord = true)
    gzBad(gzBad.length / 2) = (gzBad(gzBad.length / 2) ^ 0x55).toByte
    expectFail(gzBad, "corrupt gzip")
    expectFail(Array.emptyByteArray, "empty")
  }
}
