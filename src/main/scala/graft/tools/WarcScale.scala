package graft.tools

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Scale rehearsal for the WARC record-streaming walk: synthesize a
  * CommonCrawl-shaped segment whose INFLATED size is far above the old
  * 2 GiB whole-file bound (the round-11 connector read each segment
  * into one `Array[Byte]`, which real CommonCrawl segments — ~1 GiB
  * gzipped, 4-5 GiB inflated — exceed), then read it through the DSv2
  * connector twice (metadata-only projection, then a body-bearing
  * HtmlExtract pass) and assert counts. Memory staying bounded while a
  * >2 GiB-inflated segment streams IS the rehearsal — the pre-round-12
  * reader could not execute this at all.
  *
  * Usage: WarcScale [targetInflatedGiB=3] [workDir=/tmp/warc_scale]
  */
object WarcScale {
  def main(args: Array[String]): Unit = {
    val gib = args.headOption.map(_.toDouble).getOrElse(3.0)
    val dir = args.drop(1).headOption.getOrElse("/tmp/warc_scale")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val seg = java.nio.file.Paths.get(dir, "seg-big.warc.gz")

    // ~128 KiB page bodies (CommonCrawl's truncation class), low-ish
    // compressibility via a rolling counter so gzip does real work
    val para = ("<p>The quick brown fox of record %09d jumped over " +
      "the lazy dog and the dog was not amused by any of it at all " +
      "for the rest of the day in the yard of the house. </p>")
    val perRecord = 128 * 1024
    val targetBytes = (gib * (1L << 30)).toLong
    val nRecords = (targetBytes / perRecord).toInt

    val t0 = System.nanoTime()
    val out = new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(seg), 1 << 20)
    var i = 0
    while (i < nRecords) {
      val body = new StringBuilder(perRecord + 512)
      body.append("<html><body>")
      while (body.length < perRecord)
        body.append(para.format(i.toLong * 1000 + body.length))
      body.append("</body></html>")
      val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        body.toString).getBytes(UTF_8)
      val rec = graft.sources.WarcIO.warcBytes(Seq((Seq(
        "WARC-Type" -> "response",
        "WARC-Record-ID" -> s"<urn:uuid:scale-$i>",
        "WARC-Target-URI" -> s"https://scale.example/page/$i",
        "WARC-Date" -> "2026-08-16T00:00:00Z",
        "Content-Type" -> "application/http; msgtype=response"),
        payload)))
      // one gzip MEMBER per record — the .warc.gz convention
      val gz = new java.util.zip.GZIPOutputStream(out, 1 << 16)
      gz.write(rec)
      gz.finish()
      i += 1
    }
    out.close()
    val written = java.nio.file.Files.size(seg)
    val tW = (System.nanoTime() - t0) / 1e9
    println(f"[warcscale] wrote $nRecords%d records, " +
      f"${written / 1048576.0}%.0f MB gz (~${gib}%.1f GiB inflated) " +
      f"in $tW%.1f s")

    val spark = GraftSession.local()
    // the point of the rehearsal: a heap SMALLER than the inflated
    // segment — the old whole-file reader dies here by construction
    println(s"[warcscale] driver heap max = " +
      f"${Runtime.getRuntime.maxMemory / 1048576.0}%.0f MB")

    val t1 = System.nanoTime()
    val meta = spark.read.format("warc").load(dir)
      .groupBy(col("record_type"))
      .agg(count(lit(1)).as("n"), sum(col("content_length")).as("bytes"))
      .collect()
    val tMeta = (System.nanoTime() - t1) / 1e9
    meta.foreach(r => println(
      s"[warcscale] meta pass: type=${r.get(0)} n=${r.get(1)} " +
        s"bytes=${r.get(2)} (${tMeta.round} s)"))

    val t2 = System.nanoTime()
    val kept = {
      val pages = spark.read.format("warc").load(dir)
        .where(col("record_type") === "response")
        .select(regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
          .cast("long").as("id"),
          graft.functions.CharsetDecode.decodeHtml(col("body"),
            col("http_content_type")).as("html"))
      graft.operators.HtmlExtract.extractText(pages, "id", "html")
        .agg(count(lit(1)), sum(col("n_kept"))).collect()(0)
    }
    val tBody = (System.nanoTime() - t2) / 1e9
    println(f"[warcscale] body pass: docs=${kept.getLong(0)}%d " +
      f"kept_blocks=${kept.getLong(1)}%d in $tBody%.1f s " +
      f"(${gib * 1024 / tBody}%.0f MB/s inflated)")
    assert(kept.getLong(0) == nRecords.toLong,
      s"expected $nRecords docs, got ${kept.getLong(0)}")
    spark.stop()
  }
}
