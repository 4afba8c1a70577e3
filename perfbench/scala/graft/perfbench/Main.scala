package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * {{{
  * graft.perfbench.Main --workload <curate|graded> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --records <dir> --cpus <n>
  * }}}
  * Writes `<work>/result.json`; `perfbench/run.py` turns it into the
  * benchmark's result line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, records: Path, cpus: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, Paths.get(m("records")).toAbsolutePath,
      m("cpus").toInt)
  }

  def jval(v: Any): String = v match {
    case s: String => graft.model.JsonText.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: Map[_, _] => m.map { case (k, x) => jval(k.toString) + ":" + jval(x) }
      .mkString("{", ",", "}")
    case s: Seq[_] => s.map(jval).mkString("[", ",", "]")
    case other => other.toString
  }

  private def procIo(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith(key + ":")).map(_.split(":")(1).trim.toLong).getOrElse(0L)

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** 90th percentile, linear between closest ranks. */
  def p90(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val x = 0.9 * (s.size - 1)
      val lo = x.toInt
      s(lo) + (s(math.min(lo + 1, s.size - 1)) - s(lo)) * (x - lo)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }

  /** Path -> size of every file under the given dirs. */
  def listing(dirs: Seq[Path]): Map[String, Long] =
    dirs.filter(Files.exists(_)).flatMap { d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toSeq
    }.toMap

  final case class Sample(ms: Double, items: Long, error: Option[String],
                          traced: Boolean, rewriteBytes: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "64")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tr = new Tracer
    val rec = new JobRecorder
    if (o.trace) {
      Wrap.register(tr)
      spark.sparkContext.addSparkListener(rec)
    }

    // set-up: generate the inputs, build the stores or layouts the timed ops
    // read and warm up the timed code paths
    val layouts = o.work.resolve("layouts")
    val wl = Workload(o.workload, spark, o.seed, o.work.resolve("data"), tr, o.records, layouts)
    def timedS(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val genS = timedS(wl.generate())
    val warmS = timedS(wl.warmUp())
    val setupS = bootS + genS + warmS
    System.gc()

    // closed loop, one client: the next op starts when the previous returned.
    // The window runs whole passes, at least `wl.passes`, until --seconds
    // have passed.
    val samples = scala.collection.mutable.ArrayBuffer[Sample]()
    var bytesWritten = 0L
    var gcTraced = 0L
    var resetNs = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + (o.seconds * 1e9).toLong
    var tEnd = t0
    var i = 0
    while (i % wl.cycle != 0 || i < wl.passes * wl.cycle || System.nanoTime() < deadline) {
      if (i % wl.cycle == 0) {
        val r0 = System.nanoTime()
        wl.startPass()
        resetNs += System.nanoTime() - r0
      }
      val traced = o.trace && wl.traced(i)
      val before = if (traced && wl.storeDirs.nonEmpty) listing(wl.storeDirs) else Map.empty[String, Long]
      val w0 = procIo("wchar")
      val g0 = gcMs
      tr.on = traced
      tr.op = i
      val s = System.nanoTime()
      val out =
        try tr.span("op")(wl.op(i, traced))
        catch { case e: Throwable => OpOut(0L, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      val ms = (System.nanoTime() - s) / 1e6
      tr.on = false
      tEnd = System.nanoTime()
      bytesWritten += procIo("wchar") - w0
      val rewrite =
        if (!traced || wl.storeDirs.isEmpty) 0L
        else {
          val after = listing(wl.storeDirs)
          val written = after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
          written - (after.values.sum - before.values.sum)
        }
      samples += Sample(ms, out.items, out.error, traced, rewrite)
      out.error.foreach(e => System.err.println(s"[perfbench] op $i failed: $e"))
      // between ops, outside their latency: no op pays for its
      // predecessor's garbage (graft.Bench keeps the same discipline)
      wl match { case g: Graded => g.dropLeftoverBlocks(); case _ => }
      System.gc()
      // GC time spent on this op's garbage, the collection above included
      if (traced) gcTraced += gcMs - g0
      i += 1
    }
    // the store resets between passes are not part of the timed wall
    val wallS = (tEnd - t0 - resetNs) / 1e9

    val c0 = System.nanoTime()
    val checkErrs =
      try wl.check()
      catch { case e: Throwable => Seq(s"check aborted: ${e.getClass.getName}: ${e.getMessage}") }
    val checkS = (System.nanoTime() - c0) / 1e9
    checkErrs.foreach(e => System.err.println(s"[perfbench] check: $e"))

    val attempted = samples.size
    val opFailed = samples.count(_.error.nonEmpty)
    val failed = math.min(attempted, opFailed + checkErrs.size)
    val untraced = samples.filterNot(_.traced)
    val items = samples.map(_.items).sum

    val endToEnd = Map[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_ms_p50" -> (median(untraced.map(_.ms).toSeq), "ms"),
      "op_ms_tail" -> (p90(untraced.map(_.ms).toSeq), "ms"),
      "items_per_s" -> (items / wallS, "1/s"),
      "ok_ratio" -> ((attempted - failed).toDouble / math.max(attempted, 1), "ratio"),
      "bytes_written_per_item" -> (bytesWritten.toDouble / math.max(items, 1L), "B"),
      "peak_rss_mb" -> (vmHwmMb, "MB"))

    val perLayer =
      if (!o.trace) Map.empty[String, (Double, String)]
      else {
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        Layers.rollup(o, tr, rec.snapshot, samples.toSeq, wl, gcTraced)
      }

    val result = Map[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "attempted" -> attempted, "failed" -> failed,
      "op_errors" -> samples.flatMap(_.error).take(5).toSeq, "check_errors" -> checkErrs.take(10),
      "samples" -> attempted, "untraced_samples" -> untraced.size,
      "op_ms" -> samples.map(x => math.rint(x.ms)).toSeq,
      "generate_s" -> genS, "warm_up_s" -> warmS, "boot_s" -> bootS,
      "timed_wall_s" -> wallS, "check_s" -> checkS,
      "info" -> wl.info,
      "metrics" -> (if (o.trace) perLayer else endToEnd).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) })
    Files.write(o.work.resolve("result.json"), jval(result).getBytes("UTF-8"))
    if (o.trace) Files.write(o.work.resolve("spans.json"),
      Layers.spanFile(o, tr, rec.snapshot, perLayer).getBytes("UTF-8"))
    spark.stop()
  }
}
