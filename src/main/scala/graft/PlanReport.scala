package graft
import java.nio.file.{Files, Paths}

/** Physical-plan census over the whole graded query surface: for every
  * `SparkEntry.queries` entry, count the plan features that matter at
  * 100 TB (exchanges, broadcasts, cartesian products, whole-stage-codegen
  * spans, scan-level filter pushdown) and write a markdown table. Run by
  * hand (`runMain graft.PlanReport [sfDir] [outFile]`); the table is
  * committed as PLANS.md so plan-shape drift shows up in review diffs.
  * PlanAuditSpec asserts the load-bearing shapes; this is the whole-surface
  * visibility layer on top.
  */
object PlanReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    // AQE's initial plan hides whole-stage-codegen annotation; the census
    // wants the static shape (codegen spans, join strategy before runtime
    // re-plan). PlanAuditSpec covers the AQE-on shapes.
    val spark = LocalSession(defaultCpus = "8", logLevel = "ERROR",
      conf = Seq("spark.sql.adaptive.enabled" -> "false"))

    // same isolation knob as Bench/Verify: SPARK_GRAFT_QUERIES=a,b,c peeks
    // at a subset (subset runs print plans to stdout instead of rewriting
    // the committed census)
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (only.isDefined) {
      selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        println(s"===== $name =====")
        println(fn(spark, sfDir).queryExecution.executedPlan.toString)
      }
      spark.stop()
      sys.exit(0)
    }

    val rows = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val line =
        try {
          val p = fn(spark, sfDir).queryExecution.executedPlan.toString
          val ls = p.linesIterator.toSeq
          def c(pred: String => Boolean): Int = ls.count(pred)
          val hashEx = c(l => l.contains("Exchange hashpartitioning"))
          val rangeEx = c(l => l.contains("Exchange rangepartitioning"))
          val singleEx = c(l => l.contains("Exchange SinglePartition"))
          val bcast = c(l => l.contains("BroadcastExchange"))
          val cartesian = c(l => l.contains("CartesianProduct"))
          val bnlj = c(l => l.contains("BroadcastNestedLoopJoin"))
          val codegen = "\\*\\(\\d+\\)".r.findAllIn(p).map(_.toString).toSet.size
          val scans = ls.filter(_.contains("FileScan"))
          val pushed = scans.count(l =>
            l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
          val takeOrdered = c(l => l.contains("TakeOrderedAndProject"))
          val wgl = c(l => l.contains("WindowGroupLimit"))
          val dpp = scans.count(_.contains("dynamicpruning"))
          val extras = Seq(
            if (takeOrdered > 0) Seq("TakeOrdered") else Nil,
            if (wgl > 0) Seq("WindowGroupLimit") else Nil,
            if (dpp > 0) Seq("DPP-PRUNED") else Nil,
            if (cartesian + bnlj > 0) Seq("CARTESIAN") else Nil,
            if (singleEx > 0) Seq("SINGLE-PARTITION") else Nil
          ).flatten.mkString(" ")
          f"| $name | $hashEx | $rangeEx | $bcast | ${scans.size} | $pushed | $codegen | $extras |"
        } catch {
          case e: Throwable => s"| $name | — | — | — | — | — | — | ERROR ${e.getClass.getSimpleName} |"
        }
      // eager operators (localCheckpoint) leave blocks behind — drop them
      org.apache.spark.graft.PersistedBlocks.dropAll(spark)
      line
    }

    // NOTE: rows are appended OUTSIDE the stripMargin template — their
    // leading table pipes would otherwise be eaten as margin characters
    val header =
      s"""# Physical-plan census (`graft.PlanReport`, sf=$sfDir)
         |
         |Per-query counts from `queryExecution.executedPlan` (AQE off, so
         |the static join strategy and codegen spans are visible).
         |`hash`/`range` = shuffle exchanges, `bcast` = broadcast exchanges,
         |`scans` = parquet scans, `pushed` = scans with non-empty
         |PushedFilters, `wscg` = whole-stage-codegen spans. Flags:
         |CARTESIAN = cartesian/BNLJ present (only the documented all-pairs
         |oracle twins, broadcast-query ANN joins, 1-row totals joins,
         |bounded metadata grids (d_chi2_langsource's |langs|×|sources|
         |cells, q_tcloseness_audit's classes×bands cumulative grid — both
         |class/band-count-sized, never data-sized), bounded-sample
         |distortion audits (s_jl_distortion's ≤40-vector pair sample), and
         |the certificate rows' truth sides — s_mutual_knn's brute-force
         |twin and d_simhash_banding_parity's all-pairs hamming side —
         |should show it), SINGLE-PARTITION = a single-partition exchange
         |(only global 1-row aggregates, the oracle-only exact profile
         |path, and the documented bounded-set windows should show it:
         |d_pareto_docs' stage-2 sweep over the pruned frontier sliver,
         |d_setjoin_ppjoin's vocab-sized rarity-rank window,
         |q_global_rownum's ~30-row per-day offsets window,
         |q_rfm_segments' three per-metric coarse-prefix offsets windows,
         |d_sample_apportion's largest-remainder rank window over the
         |strata table (strata-count-sized, not corpus-sized),
         |and d_curriculum_order's globalNtile offsets window + 1-row
         |totals crossJoin — each over a prefix-count table or a 1-row
         |aggregate, never a corpus-sized side),
         |DPP-PRUNED = a scan with a dynamic partition-pruning filter (the
         |PQ/IVF-PQ re-rank fetch against the id-partitioned vector
         |store).
         |
         || query | hash | range | bcast | scans | pushed | wscg | flags |
         ||---|---|---|---|---|---|---|---|
         |""".stripMargin
    val md = header + rows.mkString("\n") + "\n"
    Files.writeString(Paths.get(outFile), md)
    println(s"[planreport] wrote ${rows.size} rows to $outFile")
    spark.stop()
  }
}
