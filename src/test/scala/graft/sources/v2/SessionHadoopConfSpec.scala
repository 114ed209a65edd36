package graft.sources.v2

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.sources.{BrainVisionReader, CtfReader, EeglabReader,
  SyntheticFixtures, TarSink, WarcIO}

/** The local file system under a scheme that only a session conf names.
  * With Hadoop's FileSystem cache off for the scheme, every lookup reads
  * `fs.graftconf.impl` from the conf it is given, so a reader, listing or
  * log that builds its own default Hadoop conf cannot open a `graftconf:`
  * path at all. */
class SessionOnlyFileSystem extends RawLocalFileSystem {
  override def getScheme: String = SessionOnlyFileSystem.Scheme
  override def getUri: URI = URI.create(s"${SessionOnlyFileSystem.Scheme}:///")
}

object SessionOnlyFileSystem {
  val Scheme = "graftconf"
}

/** The session's Hadoop conf reaches every DSv2 file connector and the
  * ephys readers' sibling reads: the driver-side listing, the seen-file
  * log and the executor-side readers and writers all resolve a scheme
  * registered with `spark.conf.set` alone, and read the same rows as
  * through `file:`. */
class SessionHadoopConfSpec extends SparkSpec {
  import SessionOnlyFileSystem.Scheme

  private def withScheme[T](body: => T): T = {
    val settings = Seq(
      s"fs.$Scheme.impl" -> classOf[SessionOnlyFileSystem].getName,
      s"fs.$Scheme.impl.disable.cache" -> "true")
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally settings.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def viaScheme(localDir: String): String = s"$Scheme://$localDir"

  /** Rows without the path column, which names the scheme. */
  private def rows(df: DataFrame, pathCol: String): Seq[String] =
    df.drop(pathCol).collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.toSeq
      case v => v
    }.mkString("|")).sorted

  private def write(dir: String, name: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(dir, name), bytes)

  private def tarShard(id: String): Array[Byte] = TarSink.tarBytes(Seq(
    s"$id.txt" -> s"caption $id".getBytes("UTF-8"),
    s"$id.bin" -> Array.fill[Byte](40)(id.length.toByte)))

  test("a default Hadoop conf cannot resolve the session-only scheme") {
    val dir = SyntheticFixtures.freshDir("hconf_probe")
    withScheme {
      val p = new Path(viaScheme(dir))
      assert(p.getFileSystem(spark.sessionState.newHadoopConf())
        .exists(p))
      intercept[java.io.IOException](p.getFileSystem(new Configuration()))
    }
  }

  test("batch: edf, ecat, tarshard and warc read the same rows through " +
      "the session-only scheme as through file:") {
    val edf = SyntheticFixtures.freshDir("hconf_edf")
    write(edf, "r1.edf", SyntheticFixtures.recordingBytes())
    val ecat = SyntheticFixtures.freshDir("hconf_ecat")
    write(ecat, "a.v", SyntheticFixtures.ecatBytes(
      "SUB001", "PET001", "BIC", 328, 1704164645L, 2))
    val tar = SyntheticFixtures.freshDir("hconf_tar")
    write(tar, "shard-000.tar", tarShard("000001"))
    val warc = SyntheticFixtures.freshDir("hconf_warc")
    write(warc, "w.warc", WarcIO.warcBytes(Seq(
      (Seq("WARC-Type" -> "warcinfo"), "software: graft".getBytes("UTF-8")))))
    val cases = Seq(("edf", edf, "file_path"), ("ecat", ecat, "file_path"),
      ("tarshard", tar, "shard_path"), ("warc", warc, "warc_path"))
    val local = cases.map { case (fmt, dir, pathCol) =>
      rows(spark.read.format(fmt).load(dir), pathCol)
    }
    withScheme {
      cases.zip(local).foreach { case ((fmt, dir, pathCol), want) =>
        val df = spark.read.format(fmt).load(viaScheme(dir))
        assert(df.select(pathCol).collect().forall(
          _.getString(0).startsWith(s"$Scheme:")), fmt)
        assert(rows(df, pathCol) == want && want.nonEmpty, fmt)
      }
      // header-only EDF projection: the reader's other open path
      assert(rows(spark.read.format("edf").load(viaScheme(edf))
        .select("channel", "n_samples"), "file_path") ==
        rows(spark.read.format("edf").load(edf)
          .select("channel", "n_samples"), "file_path"))
    }
  }

  test("batch: the ctf, eeglab (.fdt) and brainvision readers read their " +
      "siblings through the session-only scheme as through file:") {
    val ctf = SyntheticFixtures.freshDir("hconf_ctf")
    val (res4, meg4) = SyntheticFixtures.ctfRecordingBytes()
    write(ctf, "rec1.res4", res4)
    write(ctf, "rec1.meg4", meg4)
    val eeglab = SyntheticFixtures.freshDir("hconf_eeglab")
    val (set, fdt) = SyntheticFixtures.eeglabRecordingBytes(Some("rec1.fdt"))
    write(eeglab, "rec1.set", set)
    write(eeglab, "rec1.fdt", fdt)
    val bv = SyntheticFixtures.freshDir("hconf_bv")
    val (vhdr, eeg, _) = SyntheticFixtures.brainVisionBytes()
    write(bv, "rec1.vhdr", vhdr)
    write(bv, "rec1.eeg", eeg)
    val cases = Seq[(String, String, String => DataFrame)](
      ("ctf", ctf, CtfReader.channels(spark, _).toDF()),
      ("eeglab", eeglab, EeglabReader.channels(spark, _).toDF()),
      ("brainvision", bv, BrainVisionReader.channels(spark, _).toDF()))
    val local = cases.map { case (_, dir, read) => rows(read(dir), "file_path") }
    val differ = withScheme {
      cases.zip(local).collect {
        case ((name, dir, read), want)
            if want.isEmpty || rows(read(viaScheme(dir)), "file_path") != want =>
          name
      }
    }
    assert(differ.isEmpty, differ.mkString(", "))
  }

  test("stream: two arrival waves through the seen-file log, source and " +
      "checkpoint on the session-only scheme, equal the file: batch read") {
    val waves = Seq(
      ("edf", "file_path", (n: Int) => (s"r$n.edf",
        SyntheticFixtures.recordingBytes())),
      ("tarshard", "shard_path", (n: Int) => (s"shard-00$n.tar",
        tarShard(s"00000$n"))))
    waves.foreach { case (fmt, pathCol, file) =>
      val dir = SyntheticFixtures.freshDir(s"hconf_${fmt}_stream")
      val ckpt = SyntheticFixtures.freshDir(s"hconf_${fmt}_stream_ckpt")
      val sink = s"hconf_${fmt}_sink"
      def arrive(n: Int): Unit = { val (name, b) = file(n); write(dir, name, b) }
      arrive(1)
      withScheme {
        val q = spark.readStream.format(fmt).load(viaScheme(dir))
          .writeStream.format("memory").queryName(sink)
          .outputMode("append")
          .option("checkpointLocation", viaScheme(ckpt)).start()
        try {
          q.processAllAvailable()
          val first = spark.table(sink).count()
          assert(first > 0, fmt)
          arrive(2)
          q.processAllAvailable()
          assert(spark.table(sink).count() > first, fmt)
        } finally q.stop()
        assert(Files.list(Paths.get(ckpt, "sources", "0", "seen-files"))
          .count() == 2, fmt)
      }
      assert(rows(spark.table(sink), pathCol) ==
        rows(spark.read.format(fmt).load(dir), pathCol), fmt)
    }
  }

  test("objectstore: staged writes and the job commit go through the " +
      "session-only scheme") {
    import spark.implicits._
    val bucket = SyntheticFixtures.freshDir("hconf_bucket")
    withScheme {
      Seq("a.txt" -> "alpha".getBytes("UTF-8"))
        .toDF("dest_name", "content")
        .write.format("objectstore").option("path", viaScheme(bucket))
        .mode("append").save()
    }
    assert(new String(Files.readAllBytes(Paths.get(bucket, "a.txt")),
      "UTF-8") == "alpha")
    assert(Files.exists(
      Paths.get(bucket, ObjectStoreWriteSource.ManifestName)))
  }
}
