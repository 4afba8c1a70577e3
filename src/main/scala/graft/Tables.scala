package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loader for the driver-generated TPC-H-ish parquet tables (see TESTDATA.md).
  *
  * All `SparkEntry.queries` take an `sfDir` and read via this object so the
  * scan always goes through the vectorized parquet reader with Catalyst
  * column pruning / predicate pushdown intact.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** (rowGroups, bytes) of a single parquet file, cached per (path, mtime)
    * so the footer is read once per session, not once per query.
    */
  private val footerCache =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Long)]

  /** Set once an unexpected footer-read failure has been reported. */
  private val footerFailureLogged =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  /** None when the path is not a single readable parquet FILE (a
    * multi-file parquet DIRECTORY is valid spark.read input but has no
    * one footer) — the spread below must degrade to a no-op there, not
    * throw at plan time (ADVICE r15). The expected cases (a directory, a
    * missing path, a file that is not parquet) fall back silently; any
    * other failure also falls back to no spread, but is reported once per
    * process so a broken filesystem does not pass as a missing speed-up.
    */
  private def footerOf(spark: SparkSession, file: String): Option[(Int, Long)] =
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(file)
      val fs = p.getFileSystem(conf)
      val st = fs.getFileStatus(p)
      if (!st.isFile) None
      else Some(footerCache.getOrElseUpdate(s"$file@${st.getModificationTime}", {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try (r.getRowGroups.size, st.getLen) finally r.close()
      }))
    } catch {
      case _: java.io.FileNotFoundException => None
      case e: RuntimeException
          if Option(e.getMessage).exists(_.contains("is not a Parquet file")) =>
        None
      case e @ (_: java.io.IOException | _: RuntimeException) =>
        if (footerFailureLogged.compareAndSet(false, true))
          System.err.println(s"[tables] cannot read the parquet footer of " +
            s"$file, scanning without the spread: $e")
        None
    }

  /** The ONE spread-mode gate (shared with [[SparkEntry.imagePayloadsOf]],
    * ADVICE r15): `spark.graft.scan.spread` whitelisted to auto|off —
    * a typo like "false" must fail loudly, not silently mean auto.
    */
  private[graft] def spreadEnabled(spark: SparkSession): Boolean = {
    val v = spark.conf.get("spark.graft.scan.spread", "auto")
    require(v == "auto" || v == "off",
      s"spark.graft.scan.spread must be 'auto' or 'off', got '$v'")
    v == "auto"
  }

  /** Scan-parallelism floor (spark_optimization_guide §2.5 "input skew:
    * one huge unsplittable file ... repartition immediately after the
    * read"): a parquet SPLIT only does work when a row-group midpoint
    * falls inside it, so a table with fewer row groups than the session
    * has cores runs its whole map side (tokenize, decode, vector math —
    * the expensive part of most queries here) on that many tasks no
    * matter how many byte-range splits are cut. When the footer says row
    * groups < defaultParallelism, round-robin the rows across the full
    * parallelism right after the scan; one bounded shuffle of the (small
    * by precondition) input buys every downstream map stage the whole
    * machine. The condition is derived from the DATA (footer row-group
    * count vs session cores), not a local-mode constant: a 100 TB table
    * has orders of magnitude more row groups than any cluster has slots,
    * so this is a no-op there — exactly the guide's "fix at the source
    * if you can; otherwise repartition after the read".
    *
    * OPT-IN per call site, not a default: a full-surface same-JVM A/B
    * (f5c0667:probes/ScratchSpreadAll.scala, receipts in
    * OPTIMIZATION_r15.md §E2)
    * showed the extra exchange LOSES on broadcast-cascade plans (the
    * repartition recomputes inside every broadcast subtree), on
    * aggregations over key-clustered files (round-robin destroys the
    * locality map-side partial agg exploits — q_freq_pairs +2.1 s), and
    * taxes every sub-second row; it WINS only where a single DAG does
    * heavy per-row map work (brute-force distance grids, positional
    * n-gram explodes, 27-column char histograms). It must also never
    * wrap a query whose downstream re-aggregates DOUBLES across rows
    * (q1_pricing_summary's checksum flipped under spread: IEEE sum order
    * is partitioning-dependent) — opt-in sites are exact-arithmetic
    * only. `spark.graft.scan.spread=off` is the global kill switch.
    */
  private def spread(spark: SparkSession, df: DataFrame,
                     file: String): DataFrame = {
    if (!spreadEnabled(spark)) return df
    val par = spark.sparkContext.defaultParallelism
    footerOf(spark, file) match {
      // bytes guard: never round-robin a genuinely large single file (a
      // misconfigured writer could emit one multi-GB row group; moving it
      // wholesale would cost more than the parallelism buys)
      case Some((rowGroups, bytes))
        if rowGroups < par && bytes < par.toLong * 128L * 1024 * 1024 =>
        df.repartition(par)
      case _ => df
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name, spreadScan = false)

  def apply(spark: SparkSession, dir: String, name: String,
            spreadScan: Boolean): DataFrame = {
    val df0 = load(spark, dir, name)
    if (spreadScan) spread(spark, df0, s"$dir/$name.parquet") else df0
  }

  private def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as TIMESTAMP(NANOS) (no native Spark type:
      // read nanos as long, floor-truncate to micros — DuckDB's own
      // nanos→micros truncation) and, in later testdata drops, as plain
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) which Spark reads as
      // TIMESTAMP_NTZ. Dispatch on the footer-derived type so both
      // generations read to the same session-UTC timestamp column.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      import org.apache.spark.sql.functions._
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          // NTZ wall-clock == the naive value DuckDB sees; the session is
          // pinned to UTC so the LTZ cast is instant-preserving
          raw.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }
  }
}
