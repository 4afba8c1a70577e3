package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.agent.Agent
import graft.operators.{Fsck, Retrieval}
import graft.recipe.RecipeReader
import graft.sinks.Bm25IndexSink

/** The local filesystem under the `faulty://` scheme, for tests only.
  * Registered through `fs.faulty.impl` in the session's Hadoop conf, it
  * behaves like `file://` until a test arms [[FaultyFs.rule]]: then every
  * `create` or `open` of a path containing the rule's fragment fails with
  * an IOException, or stalls (interruptibly) when the rule says so.
  */
class FaultyFs extends RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
  override def getScheme: String = FaultyFs.Uri.getScheme

  /** Every create overload of the local filesystem ends here. */
  override protected def createOutputStreamWithMode(
      f: Path, append: Boolean,
      permission: FsPermission): java.io.OutputStream = {
    FaultyFs.hit("create", f)
    super.createOutputStreamWithMode(f, append, permission)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    FaultyFs.hit("open", f)
    super.open(f, bufferSize)
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")

  /** (operation, path fragment, stall instead of failing). */
  final case class Rule(op: String, fragment: String, stall: Boolean = false)

  @volatile var rule: Option[Rule] = None

  /** Calls stalled so far. */
  val stalls = new java.util.concurrent.atomic.AtomicInteger()

  def hit(op: String, f: Path): Unit = rule.foreach { r =>
    if (r.op == op && f.toString.contains(r.fragment)) {
      if (!r.stall) throw new java.io.IOException(s"injected $op fault: $f")
      stalls.incrementAndGet()
      try Thread.sleep(60000L)
      catch {
        case e: InterruptedException =>
          throw new java.io.InterruptedIOException(s"stalled $op interrupted: $f")
      }
    }
  }

  /** Run `body` with `r` armed. */
  def armed[A](r: Rule)(body: => A): A = {
    rule = Some(r)
    try body finally rule = None
  }
}

/** The Spark jobs a piece of driver code starts. */
object SparkJobs {
  /** The properties of every Spark job started in a fresh job group while
    * `body` ran (pool threads included: they carry the caller's group). */
  def startedBy[A](sc: SparkContext)(
      body: => A): (A, Seq[java.util.Properties]) = {
    val group = s"sparkjobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, "job count", interruptOnCancel = true)
    try inGroup(sc, group)(body)
    finally sc.clearJobGroup()
  }

  /** The properties of every Spark job of job group `group` started while
    * `body` ran — for code that sets its own group, as `Agent.run` does. */
  def inGroup[A](sc: SparkContext, group: String)(
      body: => A): (A, Seq[java.util.Properties]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      java.util.Properties]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          seen.add(e.properties)
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.graft.ListenerDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}

/** The bm25-index merge ([[Retrieval.mergeBm25StoreAt]]): its Spark job
  * count, its failure behaviour with each overlapped step failing in turn,
  * and its cancellation through the agent.
  */
class Bm25MergeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sc = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    spark.sparkContext
  }

  private def fs(path: String) =
    new Path(path).getFileSystem(sc.hadoopConfiguration)

  /** A fresh store root under the faulty scheme (or plain file://). */
  private def storePath(tag: String, faulty: Boolean = true): String = {
    val local = Files.createTempDirectory(tag).resolve("bm25").toString
    if (faulty) s"faulty://$local" else local
  }

  private val words = Seq("spark", "shuffle", "ducks", "ponds", "columns",
    "bytes", "scan", "swim", "quiet", "sky", "engine", "morning")

  /** Deterministic docs [from, until); doc 1003 has no tokens. */
  private def docs(from: Int, until: Int): DataFrame =
    (from until until).map { i =>
      val text =
        if (i == 1003) "   "
        else (0 until 3 + i % 5).map(j => words((i * 7 + j * 3) % words.size))
          .mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")

  private val base = (1, 41)
  private val batch = (1000, 1010)
  private val config = (path: String) =>
    Map[String, Any]("index_path" -> path, "buckets" -> 4)

  private def built(tag: String, faulty: Boolean = true): String = {
    val path = storePath(tag, faulty)
    assert(Bm25IndexSink.sink(docs(base._1, base._2), config(path)) == 40L)
    path
  }

  /** The rows of every table of a plain (or fielded) store. */
  private def storeRows(path: String, fielded: Boolean = false) = {
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet
    val docs = rows(spark.read.parquet(s"$path/docs"))
    if (fielded) {
      val st = Retrieval.readBm25fStore(spark, path)
      (rows(st.postings), Set.empty[Seq[Any]], rows(st.stats), docs)
    } else {
      val st = Retrieval.readBm25Store(spark, path)
      (rows(st.postings), rows(st.dfreq), rows(st.stats), docs)
    }
  }

  /** The merged store equals a from-scratch build of base + batch, and
    * fsck finds nothing. */
  private def assertMergedIsRebuild(path: String): Unit = {
    val rb = storePath("bm25merge_rb", faulty = false)
    Bm25IndexSink.sink(docs(base._1, base._2)
      .unionByName(docs(batch._1, batch._2)), config(rb))
    assert(storeRows(path) == storeRows(rb))
    val bad = Fsck.audit(spark, path).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  private def jobsIn[A](body: => A): (A, Int) = {
    val (r, jobs) = SparkJobs.startedBy(sc)(body)
    (r, jobs.size)
  }

  test("a sink merge runs a pinned number of Spark jobs on both paths of " +
      "the materialize-once rule, and merged ≡ rebuild") {
    // the agent path: the frame arrives persisted and already counted;
    // the merge reads it once, into its tokenize checkpoint, whose job
    // also counts it; the store's records are read on the driver
    val persisted = built("bm25jobs_p", faulty = false)
    val in = docs(batch._1, batch._2).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(in.count() == 10L)
      val (n, jobs) = jobsIn(Bm25IndexSink.sink(in, config(persisted)))
      assert(n == 10L)
      assert(jobs == 9, s"persisted-input merge ran $jobs jobs")
    } finally in.unpersist()
    assertMergedIsRebuild(persisted)
    // the library path: an unpersisted frame, read the same single time
    val plain = built("bm25jobs_u", faulty = false)
    val (n, jobs) = jobsIn(Bm25IndexSink.sink(docs(batch._1, batch._2),
      config(plain)))
    assert(n == 10L)
    assert(jobs == 9, s"unpersisted-input merge ran $jobs jobs")
    assertMergedIsRebuild(plain)
  }

  test("a fielded sink merge runs a pinned number of Spark jobs, returns " +
      "the batch count its checkpoint job observed, and merged ≡ rebuild") {
    val fielded = (path: String) => config(path) + ("fielded" -> true)
    val path = storePath("bm25fjobs", faulty = false)
    assert(Bm25IndexSink.sink(docs(base._1, base._2), fielded(path)) == 40L)
    // the batch holds the zero-token doc 1003: it counts, and has no postings
    val (n, jobs) = jobsIn(Bm25IndexSink.sink(docs(batch._1, batch._2),
      fielded(path)))
    assert(n == 10L)
    assert(jobs == 6, s"fielded merge ran $jobs jobs")
    val rb = storePath("bm25fjobs_rb", faulty = false)
    Bm25IndexSink.sink(docs(base._1, base._2)
      .unionByName(docs(batch._1, batch._2)), fielded(rb))
    assert(storeRows(path, fielded = true) == storeRows(rb, fielded = true))
    val bad = Fsck.audit(spark, path).filterNot(_.ok)
    assert(bad.isEmpty, bad.mkString("; "))
  }

  test("an empty batch merges into either layout as a no-op that counts 0") {
    for (f <- Seq(false, true)) {
      val path = storePath(s"bm25empty_$f", faulty = false)
      val cfg = config(path) + ("fielded" -> f)
      Bm25IndexSink.sink(docs(base._1, base._2), cfg)
      val before = storeRows(path, f)
      assert(Bm25IndexSink.sink(docs(0, 0), cfg) == 0L)
      assert(storeRows(path, f) == before, s"fielded=$f")
    }
  }

  test("the merge writes its driver-built stats row with the build's " +
      "parquet schema and nullability") {
    val path = built("bm25statsschema", faulty = false)
    def footer(dir: String) = {
      val f = fs(dir).listStatus(new Path(dir))
        .filter(_.getPath.getName.endsWith(".parquet")).head
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, sc.hadoopConfiguration))
      try {
        val m = r.getFooter.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }
    val builtFooter = footer(s"$path/stats")
    Bm25IndexSink.sink(docs(batch._1, batch._2), config(path))
    assert(footer(s"$path/stats") == builtFooter)
    assertMergedIsRebuild(path)
  }

  private def marker(path: String) = new Path(path, "_graft_merge_pending")

  private def statsFiles(path: String): Set[String] =
    fs(path).listStatus(new Path(s"$path/stats")).map(_.getPath.getName).toSet

  private def refusesNext(path: String): Unit = {
    val e = intercept[IllegalArgumentException] {
      Bm25IndexSink.sink(docs(2000, 2002), config(path))
    }
    assert(e.getMessage.contains("UNFINISHED"), e.getMessage)
  }

  test("a failure in any overlapped write, or in the final stats " +
      "replacement, keeps the marker and leaves stats unreplaced") {
    for (fragment <- Seq("/postings/", "/docs/", "/dfreq__replacing/",
        "/stats__replacing/")) {
      val path = built("bm25fault")
      val before = statsFiles(path)
      val beforeStats = storeRows(path)._3
      intercept[Exception] {
        FaultyFs.armed(FaultyFs.Rule("create", fragment)) {
          Bm25IndexSink.sink(docs(batch._1, batch._2), config(path))
        }
      }
      assert(fs(path).exists(marker(path)), s"$fragment: marker released")
      refusesNext(path)
      assert(statsFiles(path) == before, s"$fragment: stats was replaced")
      assert(storeRows(path)._3 == beforeStats)
    }
  }

  test("a failure in the prepare phase releases the marker and leaves no " +
      "__replacing directory, so the next merge goes through") {
    for (fragment <- Seq("/dfreq/", "/stats/", "/_graft_layout/")) {
      val path = built("bm25prepfault")
      intercept[Exception] {
        FaultyFs.armed(FaultyFs.Rule("open", fragment)) {
          Bm25IndexSink.sink(docs(batch._1, batch._2), config(path))
        }
      }
      assert(!fs(path).exists(marker(path)), s"$fragment: marker left")
      val leftovers = fs(path).listStatus(new Path(path))
        .map(_.getPath.getName).filter(_.endsWith("__replacing"))
      assert(leftovers.isEmpty, s"$fragment: ${leftovers.mkString(",")}")
      assert(Bm25IndexSink.sink(docs(batch._1, batch._2), config(path)) == 10L)
      assertMergedIsRebuild(path)
    }
  }

  test("pool steps carry the caller's job group and interrupt flag, never " +
      "a SQL execution id, and the pool is gone after success and failure") {
    sc.setJobGroup("bm25pool", "pool props", interruptOnCancel = true)
    // a stale execution id on the caller must not leak into a step: the
    // step's own queries would be filed under that execution
    sc.setLocalProperty("spark.sql.execution.id", "-7")
    try {
      val (props, n, m) = graft.operators.Layout.concurrently3(spark)(
        Seq("spark.jobGroup.id", "spark.job.interruptOnCancel",
          "spark.sql.execution.id").map(sc.getLocalProperty),
        spark.range(10).count(), spark.range(7).count())
      assert(props == Seq("bm25pool", "true", null))
      assert(n == 10L && m == 7L)
      val e = intercept[IllegalStateException] {
        graft.operators.Layout.concurrently3(spark)(
          throw new IllegalStateException("first"),
          throw new IllegalArgumentException("second"),
          throw new IllegalArgumentException("third"))
      }
      assert(e.getMessage == "first")
      assert(e.getSuppressed.map(_.getMessage).toSeq ==
        Seq("second", "third"))
    } finally {
      sc.setLocalProperty("spark.sql.execution.id", null)
      sc.clearJobGroup()
    }
    assert(poolThreads.isEmpty, poolThreads)
  }

  private def poolThreads: Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName == "graft-store-step")
      .map(_.getName)
  }

  test("Agent.cancel during a bm25-index merge fails the run and leaves " +
      "no job of the recipe's group running") {
    val path = built("bm25cancel")
    val src = Files.createTempDirectory("bm25cancel_src").resolve("b")
    docs(batch._1, batch._2).write.parquet(src.toString)
    val recipe = RecipeReader.parse(
      s"""name: bm25cancel
         |version: v1beta1
         |source:
         |  name: documents
         |  config: {path: $src}
         |sinks:
         |  - name: bm25-index
         |    config: {index_path: "$path", buckets: 4}
         |""".stripMargin)
    val agent = new Agent(spark, stopOnSinkError = true, maxRetries = 0)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val t0 = System.nanoTime()
    // the postings append stalls inside its write tasks, in the mutate
    // phase; only a cancel that reaches the pool thread's job can
    // interrupt it
    val stalled = FaultyFs.stalls.get()
    val result = FaultyFs.armed(FaultyFs.Rule("create", "/postings/",
        stall = true)) {
      val running = Future(agent.run(recipe))
      while (!running.isCompleted &&
          System.nanoTime() - t0 < 50L * 1000000000L) {
        if (FaultyFs.stalls.get() > stalled) agent.cancel("bm25cancel")
        Thread.sleep(100)
      }
      Await.result(running, 30.seconds)
    }
    assert(FaultyFs.stalls.get() > stalled, "the merge never stalled")
    assert(!result.success && result.error.nonEmpty)
    assert(System.nanoTime() - t0 < 45L * 1000000000L,
      "the stalled write was not interrupted by the cancel")
    org.apache.spark.graft.ListenerDrain.drain(sc)
    val running = sc.statusTracker.getJobIdsForGroup("graft-run-bm25cancel")
      .flatMap(sc.statusTracker.getJobInfo)
      .filter(_.status == org.apache.spark.JobExecutionStatus.RUNNING)
    assert(running.isEmpty, running.map(_.jobId).mkString(","))
    assert(poolThreads.isEmpty, poolThreads)
    // the cancelled mutation keeps its marker: the next ingest refuses
    assert(fs(path).exists(marker(path)))
    refusesNext(path)
  }
}
