package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Layout, Retrieval, Similarity}
import graft.sinks.IvfIndexSink
import graft.streaming.EventStream

/** How a batch enters a persisted store: each store's owning operator
  * refuses a marked store, dispatches build-or-extend on its own commit
  * signal and fences the mutation with the staged pending marker, whether
  * the batch comes through a sink, a stream or a library call.
  */
class StoreIngestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    spark.sparkContext.hadoopConfiguration
  }

  private def fs(path: String) = new Path(path).getFileSystem(conf)

  private def marker(path: String) = new Path(path, "_graft_merge_pending")

  /** Deterministic 8-dim vectors for ids [from, until). */
  private def vecs(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i.toLong,
      Seq.tabulate(8)(d => (if (d == i % 3) 10.0 else 0.0) + 0.01 * (i % 5) +
        0.001 * d))).toDF("vec_id", "embedding")

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select(col("vec_id")).collect()
      .map(_.getLong(0)).toSet

  test("a streaming IVF append into a marked store fails the micro-batch " +
      "and appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    val path = Files.createTempDirectory("ivfstreammark").resolve("ivf")
      .toString
    val coarse = Similarity.writeIvfStoreAuto(vecs(0, 40), "vec_id",
      "embedding", path)
    fs(path).create(marker(path), false).close()
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = EventStream.streamingIvfAppend(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      coarse, path).start()
    val e = try {
      mem.addData((40 until 45).map(i => (i.toLong, Seq.fill(8)(i.toDouble))): _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(e.getMessage.contains("UNFINISHED"), e.getMessage)
    assert(ids(path) == (0L until 40L).toSet)
  }

  test("a library two-level append whose store write dies leaves the " +
      "marker, and the next ingest refuses") {
    val local = Files.createTempDirectory("ivfappendfault").resolve("ivf")
    val path = s"faulty://$local"
    conf
    assert(IvfIndexSink.sink(vecs(0, 60), Map("index_path" -> path)) == 60L)
    val cb = Similarity.readTwoLevelCodebookAt(spark, path)
    // the id sidecar lands first; the store rows' write dies
    intercept[Exception] {
      FaultyFs.armed(FaultyFs.Rule("create", "/centroid_id=")) {
        Similarity.appendIvfStoreTwoLevel(vecs(60, 70), "vec_id",
          "embedding", cb, path)
      }
    }
    assert(fs(path).exists(marker(path)), "no marker after the append died")
    val viaSink = intercept[IllegalArgumentException] {
      IvfIndexSink.sink(vecs(70, 75), Map("index_path" -> path))
    }
    assert(viaSink.getMessage.contains("UNFINISHED"), viaSink.getMessage)
    val viaLibrary = intercept[IllegalArgumentException] {
      Similarity.appendIvfStoreTwoLevel(vecs(70, 75), "vec_id", "embedding",
        cb, path)
    }
    assert(viaLibrary.getMessage.contains("UNFINISHED"))
    assert(ids(path) == (0L until 60L).toSet)
  }

  test("a PQ codes store copied with its rerank sidecar to a new root " +
      "takes appends and forgets through the sink there") {
    val pq = Map[String, Any]("quantize" -> "pq", "pq_m" -> 4, "pq_k" -> 8)
    val root1 = Files.createTempDirectory("pq2copy_a")
    assert(IvfIndexSink.sink(vecs(0, 60), pq ++ Map(
      "index_path" -> root1.resolve("codes").toString,
      "rerank_store_path" -> root1.resolve("vectors").toString)) == 60L)
    // the pair moves: copied to a new root, the old root removed
    val root2 = Files.createTempDirectory("pq2copy_b").resolve("moved")
    val local = fs(root1.toString)
    assert(FileUtil.copy(local, new Path(root1.toString), local,
      new Path(root2.toString), false, conf))
    FileUtil.fullyDelete(root1.toFile)
    val codes = root2.resolve("codes").toString
    val vectors = root2.resolve("vectors").toString
    assert(Similarity.rerankLinkAt(spark, codes) == Some(Some(vectors)))
    // an append naming the sidecar at its new root, then one omitting it
    assert(IvfIndexSink.sink(vecs(60, 70), pq ++ Map("index_path" -> codes,
      "rerank_store_path" -> vectors)) == 10L)
    assert(IvfIndexSink.sink(vecs(70, 75), pq + ("index_path" -> codes)) ==
      5L)
    assert(ids(codes) == (0L until 75L).toSet)
    assert(ids(vectors) == ids(codes))
    // the forget cascades to the moved sidecar through the record
    assert(IvfIndexSink.sink(Seq(3L, 64L, 72L).toDF("vec_id"),
      Map("index_path" -> codes, "mode" -> "forget")) == 3L)
    assert(ids(codes) == (0L until 75L).toSet -- Set(3L, 64L, 72L))
    assert(ids(vectors) == ids(codes))
    assert(!root1.toFile.exists())
    // absolute records that older stores hold read unchanged
    val older = root2.resolve("older").toString
    Layout.writeRecord(Seq(vectors).toDF("rerank_path"),
      s"$older/_graft_pq2/rerank")
    assert(Similarity.rerankLinkAt(spark, older) == Some(Some(vectors)))
  }

  test("the BM25 ingest builds, merges plain and fielded stores, and " +
      "refuses a batch whose fielded flag contradicts the store") {
    def docs(from: Int, until: Int) = (from until until)
      .map(i => (i.toLong, s"ducks swim near pond $i quietly")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("bm25ingest")
    for (fielded <- Seq(false, true)) {
      val path = dir.resolve(s"fielded_$fielded").toString
      assert(Retrieval.mergeBm25StoreAt(spark, path, docs(0, 8), "doc_id",
        "text", buckets = 2, fielded = fielded) == 8L)
      assert(Retrieval.isPlainBm25StoreAt(spark, path) == !fielded)
      assert(Retrieval.mergeBm25StoreAt(spark, path, docs(8, 11), "doc_id",
        "text", buckets = 2, fielded = fielded) == 3L)
      val e = intercept[IllegalArgumentException] {
        Retrieval.mergeBm25StoreAt(spark, path, docs(11, 12), "doc_id",
          "text", buckets = 2, fielded = !fielded)
      }
      assert(e.getMessage.contains(
        s"holds a ${if (fielded) "fielded" else "plain"} BM25 store"),
        e.getMessage)
      // the refusal comes before the marker: the store stays mutable
      assert(!fs(path).exists(marker(path)))
      assert(spark.read.parquet(s"$path/docs").count() == 11L)
    }
  }
}
