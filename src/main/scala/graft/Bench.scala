package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}
import graft.model.JsonText.str

object Bench {
  /** Projection-forcing action: every output column feeds a hash folded to
    * one row. Unlike `.count()` (under which Catalyst prunes unreferenced
    * projections and drops final sorts), this executes every kernel in the
    * query — map-side-only queries time their compute, not just the scan.
    *
    * The fold is `bit_xor`, NOT `sum`: xxhash64 values are uniform 64-bit,
    * so summing them overflows a long almost immediately and Spark 4's
    * default ANSI mode turns that into ARITHMETIC_OVERFLOW, aborting the
    * job mid-checksum. XOR is closed under 64 bits, order-insensitive, and
    * still forces every projection. Returns (checksum, rowCount).
    */
  private def checksum(df: DataFrame): (Long, Long) = {
    val hashed = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
    val row = hashed.agg(expr("bit_xor(h)"), count(lit(1))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  private final case class QResult(
      sec: Double, rows: Long, hash: Long, failed: Boolean, error: String)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated filter for isolating queries while profiling
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // the status stores retain per-execution state (plans, job/stage
    // rollups) even with the UI off; at 148 queries x (warmup + reps)
    // the defaults (1000 retained each) grow the old gen all session
    // and every later query pays the GC tax — keep only a screenful
    val spark = LocalSession(conf = Seq(
      "spark.sql.ui.retainedExecutions" -> "8",
      "spark.ui.retainedJobs" -> "64",
      "spark.ui.retainedStages" -> "64",
      "spark.ui.retainedTasks" -> "1000"))
    // steady-state warmup: run EVERY query once at the smallest SF so the
    // timed runs measure engine cost, not first-use classloading and
    // whole-stage-codegen (janino) compilation — the generated code is
    // SF-independent, so the codegen cache carries over to the target SF.
    // Warmup failures are loud (stderr) but non-fatal: the timed run below
    // records them properly.
    val warmDir = "/root/testdata/sf0.001"
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      try checksum(fn(spark, warmDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup FAILED for $name: ${e.getClass.getName}: ${e.getMessage}")
      }
      org.apache.spark.graft.PersistedBlocks.dropAll(spark)
    }
    // Per-query time = MIN over `reps` runs: the box is a VM whose clock
    // sporadically stalls for tens of seconds (observed: the same query
    // timing 1.6 s and 198 s in back-to-back sessions with an idle load
    // average) — a single sample can be dominated by one freeze. The min
    // of independent runs estimates steady-state query cost; row counts
    // must agree across reps (hash drift is reported as a note).
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // deterministic name order so per-query timings compare across rounds
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val r =
          try {
            val (h, n) = checksum(fn(spark, sfDir))
            QResult((System.nanoTime() - t0) / 1e9, n, h, failed = false, error = "")
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] query FAILED: $name: ${e.getClass.getName}: ${e.getMessage}")
              QResult((System.nanoTime() - t0) / 1e9, -1L, 0L,
                failed = true, error = s"${e.getClass.getName}: ${e.getMessage}".take(200))
          }
        // between timings, so no rep pays for its predecessor's litter
        org.apache.spark.graft.PersistedBlocks.dropAll(spark)
        r
      }
      // out-of-band GC between queries (never inside a timed rep): the
      // ContextCleaner frees dead broadcast/shuffle blocks only after
      // their references are GC'd on the driver, so without this a
      // 148-query session accretes every query's dead broadcasts until
      // an organic GC lands — inside someone's timing window. Forcing
      // collection here keeps each query's reps on a level heap.
      System.gc()
      val best = runs.minBy(_.sec)
      // row counts must agree across reps; hashes may differ in the last
      // decimal of a rounded float sum (aggregation order) — report, don't fail
      val r =
        if (runs.exists(_.failed)) runs.find(_.failed).get
        else if (runs.map(_.rows).distinct.size > 1)
          best.copy(failed = true, error = "row count varies across reps")
        else if (runs.map(_.hash).distinct.size > 1)
          best.copy(error = "hash varies across reps (float rounding)")
        else best
      name -> r
    }
    // ---- automatic flag-settle protocol -------------------------------
    // Sessions on this VM swing individual rows by whole seconds (clock
    // stalls, heap weather from 280 earlier queries); round-over-round
    // judging used to depend on PROSE receipts of manual isolated
    // re-runs. Automate it: any succeeded row that moved >30% AND >0.5 s
    // against the prior local bench re-times ISOLATED at min-of-5 right
    // here, on the same fresh-GC discipline as the main loop, and the
    // artifact carries the receipt in a `settled` map — prior value,
    // session value, isolated min — so a flagged row is adjudicated by
    // the artifact itself, not by trusting a README paragraph.
    val priorPath = sys.env.get("SPARK_GRAFT_PRIOR").orElse {
      // newest by ROUND NUMBER, not filename: lexicographic sort ranks
      // r9 above r13
      Option(new java.io.File(".").listFiles()).flatMap(
        _.filter(_.getName.matches("BENCH_LOCAL_r\\d+\\.json"))
          .sortBy(f => "\\d+".r.findFirstIn(f.getName).get.toInt)
          .lastOption.map(_.getPath))
    }
    val prior: Map[String, Double] = priorPath.flatMap { p =>
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p)), "UTF-8")
        val m = new org.yaml.snakeyaml.Yaml() // JSON is a YAML subset
          .load[java.util.Map[String, Object]](txt)
        val qs = m.get("queries").asInstanceOf[java.util.Map[String, Object]]
        import scala.jdk.CollectionConverters._
        Some(qs.asScala.map { case (k, v) => k -> v.toString.toDouble }.toMap)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] prior bench unreadable ($p): $e"); None }
    }.getOrElse(Map.empty)
    val settleReps = sys.env.getOrElse("SPARK_GRAFT_SETTLE_REPS", "5").toInt
    val flagged =
      if (settleReps <= 0) Seq.empty
      else results.filterNot(_._2.failed).flatMap { case (name, r) =>
        prior.get(name)
          .filter(p => math.abs(r.sec - p) > 0.5 &&
            (r.sec > 1.3 * p || r.sec < p / 1.3))
          .map(p => (name, r.sec, p))
      }
    // bound the settle pass: a whole-session regression (new Spark conf,
    // bad merge) would flag half the surface — re-timing 12 rows is
    // plenty of signal and keeps the bench inside its wall budget
    val (toSettle, unsettled) = flagged.splitAt(12)
    val settled = toSettle.map { case (name, sessionSec, p) =>
      System.gc()
      val fn = SparkEntry.queries(name)
      val secs = (1 to settleReps).map { _ =>
        val t0 = System.nanoTime()
        val s =
          try { checksum(fn(spark, sfDir)); (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => Double.NaN }
        org.apache.spark.graft.PersistedBlocks.dropAll(spark)
        s
      }.filterNot(_.isNaN)
      val iso = if (secs.isEmpty) -1.0 else secs.min
      (name, sessionSec, p, iso)
    }
    val settledJson = settled.map { case (name, s, p, iso) =>
      str(name) + ":" + s"""{"prior":$p,"session":$s,"isolated_min5":$iso}"""
    }.mkString("{", ",", "}")
    val unsettledJson = unsettled.map(t => str(t._1)).mkString("[", ",", "]")
    // --------------------------------------------------------------------
    val qs = results.map { case (k, r) => str(k) + ":" + r.sec }.mkString("{", ",", "}")
    val rows = results.map { case (k, r) => str(k) + ":" + r.rows }.mkString("{", ",", "}")
    val failedNames = results.collect { case (k, r) if r.failed => str(k) }.mkString("[", ",", "]")
    val errs = results.collect { case (k, r) if r.failed => str(k) + ":" + str(r.error) }
      .mkString("{", ",", "}")
    val notes = results.collect { case (k, r) if !r.failed && r.error.nonEmpty =>
      str(k) + ":" + str(r.error) }.mkString("{", ",", "}")
    // total covers only succeeded queries — a time-to-abort is not a timing
    val ok = results.filterNot(_._2.failed)
    val total = ok.map(_._2.sec).sum
    // headline vs audit split: twin_of-tagged rows (truth twins, portable
    // md5 twins, parity/accuracy certificates) grade the production
    // surface rather than being part of it — both subtotals are reported,
    // every row keeps its timing and its grading
    val (audit, headline) = ok.partition { case (k, _) =>
      SparkEntry.twinOf.contains(k) }
    val headlineSec = headline.map(_._2.sec).sum
    val auditSec = audit.map(_._2.sec).sum
    val line = s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"agg":"min","headline_sec":$headlineSec,"audit_sec":$auditSec,"n_headline":${headline.size},"n_audit":${audit.size},"queries":$qs,"rows":$rows,"failed":$failedNames,"errors":$errs,"notes":$notes,"settled":$settledJson,"settle_overflow":$unsettledJson,"prior":${priorPath.map(str).getOrElse("null")},"n_ok":${ok.size},"n_failed":${results.size - ok.size},"sf":"$sfDir"}"""
    // fallback artifact FIRST (the bare line on disk survives any stdout
    // mangling — sbt's "[info] " prefix broke the harness's metric-line
    // extraction in BENCH_r03, and tail-capture truncation did in
    // BENCH_r13); SPARK_GRAFT_BENCH_OUT redirects local runs so they
    // never clobber the driver-session baseline artifact
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // stop the session BEFORE emitting the line, so the JSON is the SOLE
    // final stdout of the run — nothing (shutdown logging, context
    // cleaner chatter) may print after it
    spark.stop()
    println(line)
    System.out.flush()
    // flag the run as a whole if any query failed (after the JSON line is out)
    if (ok.size != results.size) sys.exit(1)
  }
}
