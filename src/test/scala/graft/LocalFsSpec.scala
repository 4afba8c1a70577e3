package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.operators.{Layout, LocalFs}

object Chmods {
  /** The command lines of every `chmod` process the JVM started while
    * `body` ran, from a JFR recording of `jdk.ProcessStart` events. Other
    * launches are left out: Spark starts its own (`getconf PAGESIZE` on
    * the first executor heartbeat) at times no test controls. */
  def during[A](body: => A): (A, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val r = body
      rec.stop()
      val dump = Files.createTempFile("process-starts", ".jfr")
      try {
        rec.dump(dump)
        import scala.jdk.CollectionConverters._
        (r, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command"))
          .filter(_.trim.split("\\s+").head.endsWith("chmod")))
      } finally Files.delete(dump)
    } finally rec.close()
  }
}

class LocalFsSpec extends SparkSpec {

  private def frame = {
    val s = spark
    import s.implicits._
    (0 until 200).map(i => (i.toLong, i % 3, s"t$i")).toDF("id", "part", "text")
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def octal(m: String) = Integer.parseInt(m, 8)

  /** Every file and directory under `root` (itself included) by its path
    * relative to `root`, part-file job ids masked: (is a directory, mode
    * bits). */
  private def modes(root: JPath): Map[String, (Boolean, Int)] = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root)
    try walk.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll(
        "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "ID") ->
        (Files.isDirectory(p), mode(p))
    }.toMap
    finally walk.close()
  }

  test("a store write creates the files and modes Hadoop's LocalFileSystem " +
      "gives, .crc sidecars included, and forks no chmod") {
    val root = Files.createTempDirectory("localfs")
    frame.write.partitionBy("part").parquet(s"${root.resolve("hadoop")}")
    val (_, chmods) = Chmods.during(
      Layout.writer(frame).partitionBy("part")
        .parquet(s"${root.resolve("graft")}"))
    assert(chmods.isEmpty, chmods.mkString("; "))
    val hadoop = modes(root.resolve("hadoop"))
    val graft = modes(root.resolve("graft"))
    assert(graft == hadoop)
    val (dirs, files) = graft.partition(_._2._1)
    assert(dirs.values.map(_._2).toSet == Set(octal("755")), dirs)
    assert(files.values.map(_._2).toSet == Set(octal("644")), files)
    val parts = files.keys.filter(_.endsWith(".parquet")).toSeq
    assert(parts.map(_.takeWhile(_ != '/')).toSet ==
      Set("part=0", "part=1", "part=2"), files.keys)
    parts.foreach { p =>
      val i = p.lastIndexOf('/')
      val crc = s"${p.take(i + 1)}.${p.drop(i + 1)}.crc"
      assert(files.contains(crc), s"no checksum file beside $p")
    }
    assert(files.contains("_SUCCESS") && files.contains("._SUCCESS.crc"))
  }

  test("a flipped byte in a store's part file still fails its read with " +
      "a ChecksumException") {
    val dir = Files.createTempDirectory("localfs_crc").resolve("store")
    Layout.writer(frame.coalesce(1)).parquet(dir.toString)
    import scala.jdk.CollectionConverters._
    val part = Files.list(dir).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(part)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0xff).toByte
    Files.write(part, bytes)
    val fs = new LocalFs
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new Path(part.toString))
    try intercept[ChecksumException](
      in.readFully(new Array[Byte](bytes.length)))
    finally in.close()
    val e = intercept[Exception](spark.read.parquet(dir.toString).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[ChecksumException]), e)
  }

  test("a mode with the sticky bit goes through Hadoop's own chmod") {
    val raw = new LocalFs.Raw
    raw.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("localfs_sticky")
    def chmod(m: String) = raw.setPermission(new Path(dir.toString),
      new FsPermission(octal(m).toShort))
    val (_, plain) = Chmods.during(chmod("750"))
    assert(plain.isEmpty, plain.mkString("; "))
    assert(mode(dir) == octal("750"))
    val (_, sticky) = Chmods.during(chmod("1777"))
    assert(sticky.size == 1, sticky)
    assert(mode(dir) == octal("1777"))
  }
}
