package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.operators.{Classify, Dedup, Fsck, Layout, Retrieval, Similarity}
import graft.sinks.{Bm25IndexSink, IndexProtocol}

/** The one-row records the persisted stores freeze (`_graft_layout`,
  * `_graft_index_config`, `_graft_pq2/rerank`), read through
  * [[graft.operators.Layout.readRecord]] and written through
  * [[graft.operators.Layout.writeRecord]]: each family's record read runs
  * no Spark job (the driver reads the parquet file itself) and gives the
  * row Spark's reader gives, stores older than their record read through
  * the documented fallback, and a record write that dies before its
  * rename leaves the previous record readable.
  */
class StoreRecordSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sc = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    spark.sparkContext
  }

  private def fs(path: String) =
    new Path(path).getFileSystem(sc.hadoopConfiguration)

  private def storePath(tag: String, faulty: Boolean = false): String = {
    val local = Files.createTempDirectory(tag).resolve("store").toString
    if (faulty) s"faulty://$local" else local
  }

  private def remove(path: String): Unit =
    assert(fs(path).delete(new Path(path), true), s"$path was not there")

  private val words = Seq("spark", "shuffle", "ducks", "ponds", "columns",
    "bytes", "scan", "swim", "quiet", "sky", "engine", "morning")

  private def docs(from: Int, until: Int): DataFrame =
    (from until until).map { i =>
      (i.toLong, (0 until 4 + i % 5)
        .map(j => words((i * 7 + j * 3) % words.size)).mkString(" "),
        if (i % 3 == 0) "en" else "de")
    }.toDF("doc_id", "text", "lang")

  private def bm25Config(path: String, buckets: Int = 4) =
    Map[String, Any]("index_path" -> path, "buckets" -> buckets)

  private def bm25Cfg(buckets: Int) = s"fielded=false,title_tokens=8," +
    s"buckets=$buckets,chunk_grain=false,chunk_bits=20"

  /** The record at `dir` as Spark's parquet reader gives it. */
  private def sparkRecord(dir: String, ddl: String) =
    spark.read.schema(ddl).parquet(dir).collect().headOption

  /** `read` runs no Spark job at all. */
  private def noJob[A](what: String)(read: => A): A = {
    val (r, jobs) = SparkJobs.startedBy(sc)(read)
    assert(jobs.isEmpty, s"$what ran ${jobs.size} jobs")
    r
  }

  // the records below cover INT, BIGINT and STRING columns
  test("each store family's record read runs no Spark job and matches " +
      "Spark's reader") {
    val bm25 = storePath("rec_bm25")
    assert(Bm25IndexSink.sink(docs(1, 41), bm25Config(bm25)) == 40L)
    assert(noJob("bm25 layout")(
      Retrieval.readLayoutMeta(spark, bm25)) == Some(4))
    assert(noJob("bm25 config")(
      IndexProtocol.storedLayoutConfig(spark, bm25)) == Some(bm25Cfg(4)))
    // the control: an inferring read of the same record is detected, as
    // a job outside any SQL query
    val (_, inferring) = SparkJobs.startedBy(sc)(
      spark.read.parquet(s"$bm25/_graft_layout").head())
    assert(inferring.exists(_.getProperty("spark.sql.execution.id") == null))

    val vectors = storePath("rec_vec")
    Similarity.writeVectorStore((1 to 20).map(i =>
        (i.toLong, Seq(i.toDouble, 1.0 / i))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", vectors, parts = 4)
    assert(noJob("vector parts")(
      Similarity.vectorStorePartsAt(spark, vectors)) == Some(4))
    assert(noJob("fsck detect")(Fsck.detect(spark, vectors)) ==
      "vector")

    val codes = storePath("rec_rerank")
    Similarity.writeRerankLinkAt(spark, codes, Some(vectors))
    assert(noJob("rerank link")(
      Similarity.rerankLinkAt(spark, codes)) == Some(Some(vectors)))
    Similarity.writeRerankLinkAt(spark, codes, None)
    assert(Similarity.rerankLinkAt(spark, codes) == Some(None))
    assert(Similarity.rerankLinkAt(spark, storePath("rec_none")).isEmpty)

    val winnow = storePath("rec_winnow")
    Dedup.writeWinnowStoreAt(spark, winnow, docs(1, 21), "doc_id", "text",
      k = 2, w = 3, fpBuckets = 8, docBuckets = 4)
    assert(noJob("winnow layout")(
      Dedup.winnowLayoutAt(spark, winnow)) == ((2, 3, 8, 4)))
    noJob("winnow check")(Dedup.requireWinnowLayout(spark, winnow, 2, 3))

    val nb = storePath("rec_nb")
    Classify.writeNbStore(docs(1, 31), "doc_id", "text", "lang", nb,
      docBuckets = 4)
    assert(noJob("nb layout")(Classify.nbLayoutAt(spark, nb)) == 4)

    val records = Seq(
      s"$bm25/_graft_layout" -> "buckets INT",
      s"$bm25/_graft_index_config" -> "cfg STRING",
      s"$bm25/stats" -> "n_docs BIGINT, tot BIGINT",
      s"$vectors/_graft_layout" -> "parts INT",
      s"$codes/_graft_pq2/rerank" -> "rerank_path STRING",
      s"$winnow/_graft_layout" -> "k INT, w INT, fbuckets INT, dbuckets INT",
      s"$nb/_graft_layout" -> "dbuckets INT")
    for ((dir, ddl) <- records) {
      val r = Layout.readRecord(spark, dir, ddl)
      assert(r.nonEmpty, dir)
      assert(r == sparkRecord(dir, ddl), dir)
      assert(r.get.schema == StructType.fromDDL(ddl), dir)
    }
    assert(Layout.readRecord(spark, s"$bm25/stats",
      "n_docs BIGINT, tot BIGINT").get.getLong(0) == 40L)
  }

  /** The WARN messages Spark's file-source resolution logs while `body`
    * runs. */
  private def dataSourceWarnings(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    import scala.jdk.CollectionConverters._
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-datasource-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) {
          seen.add(e.getMessage.getFormattedMessage); ()
        }
    }
    capture.start()
    val level = logger.getLevel
    logger.addAppender(capture)
    logger.setLevel(Level.WARN)
    try body
    finally {
      logger.removeAppender(capture)
      logger.setLevel(level)
      capture.stop()
    }
    seen.asScala.toSeq
  }

  test("record, codebook and id-sidecar reads log no 'All paths were " +
      "ignored' warning") {
    val bm25 = storePath("rec_warn_bm25")
    Bm25IndexSink.sink(docs(1, 21), bm25Config(bm25))
    val ivf = storePath("rec_warn_ivf")
    graft.sinks.IvfIndexSink.sink((1 to 40).map(i =>
        (i.toLong, Seq(i % 5 + 1.0, 1.0 / i, (i % 3).toDouble, 1.0)))
      .toDF("vec_id", "embedding"), Map("index_path" -> ivf))
    // the control: a plain read of an underscore-prefixed table warns
    assert(dataSourceWarnings(
      spark.read.parquet(s"$bm25/_graft_layout").collect())
      .exists(_.contains("All paths were ignored")))
    val warned = dataSourceWarnings {
      assert(Retrieval.readLayoutMeta(spark, bm25) == Some(4))
      assert(IndexProtocol.storedLayoutConfig(spark, bm25) ==
        Some(bm25Cfg(4)))
      Similarity.readTwoLevelCodebookAt(spark, ivf)
      Similarity.forgetIvfStoreAt(spark, ivf, Seq(3L, 7L).toDF("vec_id"),
        "vec_id")
    }
    assert(warned.isEmpty, warned.mkString("; "))
    assert(spark.read.parquet(ivf).filter($"vec_id".isin(3L, 7L)).isEmpty)
  }

  test("a winnow store with the 2-column (k, w) record reads as " +
      "(k, w, 32, 16) and fscks clean") {
    val path = storePath("rec_winnow_v1")
    Dedup.writeWinnowStoreAt(spark, path, docs(1, 21), "doc_id", "text",
      k = 2, w = 3)
    // the record as stores written before the bucket counts were frozen
    // carry it: the code defaults they were necessarily built under
    remove(s"$path/_graft_layout")
    Seq((2, 3)).toDF("k", "w").coalesce(1).write
      .parquet(s"$path/_graft_layout")
    assert(Dedup.winnowLayoutAt(spark, path) == ((2, 3, 32, 16)))
    Dedup.requireWinnowLayout(spark, path, 2, 3)
    val e = intercept[IllegalArgumentException] {
      Dedup.requireWinnowLayout(spark, path, 4, 4)
    }
    assert(e.getMessage.contains("(k=2, w=3)"), e.getMessage)
    val bad = Fsck.audit(spark, path).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("an NB store without a layout record reads with the default " +
      "modulus 16 and fscks clean") {
    val path = storePath("rec_nb_v1")
    Classify.writeNbStore(docs(1, 31), "doc_id", "text", "lang", path)
    remove(s"$path/_graft_layout")
    assert(Classify.nbLayoutAt(spark, path) == 16)
    val bad = Fsck.audit(spark, path).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("a BM25 store without _graft_index_config adopts the batch's " +
      "config after a successful merge, and not after a refused one") {
    def legacy(tag: String, faulty: Boolean = false): String = {
      val path = storePath(tag, faulty)
      Bm25IndexSink.sink(docs(1, 41), bm25Config(path))
      remove(s"$path/_graft_index_config")
      path
    }
    // refused before any write: the store predates the id sidecar
    val unerasable = legacy("rec_cfg_refused")
    remove(s"$unerasable/docs")
    val e = intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(docs(100, 110), bm25Config(unerasable))
    }
    assert(e.getMessage.contains("predates the erasable store layout"))
    assert(IndexProtocol.storedLayoutConfig(spark, unerasable).isEmpty)
    // died mid-merge: the postings append fails
    val died = legacy("rec_cfg_died", faulty = true)
    intercept[Exception] {
      FaultyFs.armed(FaultyFs.Rule("create", "/postings/")) {
        Bm25IndexSink.sink(docs(100, 110), bm25Config(died))
      }
    }
    assert(IndexProtocol.storedLayoutConfig(spark, died).isEmpty)
    // a merge that goes through adopts the batch's config, which then
    // guards the next batch
    val merged = legacy("rec_cfg_adopt")
    assert(Bm25IndexSink.sink(docs(100, 110), bm25Config(merged)) == 10L)
    assert(IndexProtocol.storedLayoutConfig(spark, merged) ==
      Some(bm25Cfg(4)))
    val mismatch = intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(docs(200, 205), bm25Config(merged, buckets = 8))
    }
    assert(mismatch.getMessage.contains("was built with layout"))
  }

  test("a record write that fails before its rename leaves the previous " +
      "record readable") {
    val path = storePath("rec_torn", faulty = true)
    val stats = s"$path/stats"
    IndexProtocol.writeLayoutConfig(spark, path, "cfg-a")
    Similarity.writeRerankLinkAt(spark, path, Some("/vectors/a"))
    Layout.writeRecord(Seq((7L, 70L)).toDF("n_docs", "tot"), stats)
    val writes = Seq[(String, () => Unit)](
      "/_graft_index_config__replacing/" ->
        (() => IndexProtocol.writeLayoutConfig(spark, path, "cfg-b")),
      "/_graft_pq2/rerank__replacing/" ->
        (() => Similarity.writeRerankLinkAt(spark, path, Some("/vectors/b"))),
      "/stats__replacing/" ->
        (() => Layout.writeRecord(Seq((8L, 80L)).toDF("n_docs", "tot"),
          stats)))
    for ((fragment, write) <- writes)
      intercept[Exception] {
        FaultyFs.armed(FaultyFs.Rule("create", fragment))(write())
      }
    assert(IndexProtocol.storedLayoutConfig(spark, path) == Some("cfg-a"))
    assert(Similarity.rerankLinkAt(spark, path) == Some(Some("/vectors/a")))
    val ddl = "n_docs BIGINT, tot BIGINT"
    val r = Layout.readRecord(spark, stats, ddl)
    assert(r.map(_.toSeq) == Some(Seq(7L, 70L)))
    assert(r == sparkRecord(stats, ddl))
    // a record that cannot be opened fails the read, never reads as None
    intercept[java.io.IOException] {
      FaultyFs.armed(FaultyFs.Rule("open", "/stats/")) {
        Layout.readRecord(spark, stats, ddl)
      }
    }
  }

  test("a record missing a column, or holding a null, reads it as null; " +
      "_SUCCESS, .crc and zero-row files are skipped") {
    val dir = storePath("rr_old")
    Layout.writeRecord(Seq((2, 3L, Option.empty[String])).toDF("k", "w", "s"),
      dir)
    assert(fs(dir).exists(new Path(dir, "_SUCCESS")))
    // a checksum file that is no parquet file, named to sort first
    val crc = fs(dir).create(new Path(dir, ".part-00000.crc"))
    crc.write("not parquet".getBytes("UTF-8"))
    crc.close()
    val ddl = "k INT, w BIGINT, s STRING, label STRING, n INT"
    val r = Layout.readRecord(spark, dir, ddl)
    assert(r.map(_.toSeq) == Some(Seq(2, 3L, null, null, null)))
    assert(r == sparkRecord(dir, ddl))
    // a zero-row file beside the record's (as an empty task writes one)
    // is passed over, whatever its name sorts as
    Seq.empty[(Int, Long)].toDF("k", "w").coalesce(1).write
      .parquet(s"$dir/../empty")
    val empty = fs(dir).listStatus(new Path(s"$dir/../empty"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    assert(fs(dir).rename(empty, new Path(dir, "part-00000-a.parquet")))
    assert(Layout.readRecord(spark, dir, ddl) == r)
    // a directory holding only a zero-row file has no record
    assert(Layout.readRecord(spark, s"$dir/../empty", ddl).isEmpty)
  }
}
