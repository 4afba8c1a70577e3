package graft
import java.nio.file.{Files, Paths}
import graft.model.JsonText.str
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // same isolation knob as Bench: SPARK_GRAFT_QUERIES=a,b,c runs a subset
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop blocks operators checkpointed (CC rounds, LSH candidates):
      // they are per-query garbage and would accumulate across the run
      org.apache.spark.graft.PersistedBlocks.dropAll(spark)
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // audit-row provenance next to the oracle dump: query -> the
    // production row it grades (SparkEntry.twinOf) — so the correctness
    // surface reads as production + audit without cross-referencing the
    // source. tools/check.py folds this into its report.
    val twins = SparkEntry.twinOf.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/twin_of.json"), twins)
    spark.stop()
  }
}
