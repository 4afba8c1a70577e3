package graft.agent

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.plugins._
import graft.recipe.{PluginSpec, Recipe}

/** Run report (reference: agent/run.go:18-24). */
case class RunResult(
    recipe: Recipe,
    success: Boolean,
    error: Option[String],
    durationMs: Long,
    recordCount: Long,
    sinkCounts: Map[String, Long] = Map.empty)

/** Retry with exponential backoff — only RetryableException is retried,
  * anything else is permanent (reference: agent/retrier.go:12-58; schedule
  * 5s → ×5 per attempt, max 5 retries; classification at
  * plugins/errors.go:37-58).
  */
object Retrier {
  def retry[T](maxRetries: Int = 5, initialIntervalMs: Long = 5000L,
               multiplier: Double = 5.0)(body: => T): T = {
    var attempt = 0
    var interval = initialIntervalMs
    while (true) {
      try return body
      catch {
        case e: RetryableException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(interval)
          interval = (interval * multiplier).toLong
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** The agent: wire one recipe into a Spark job and run it (reference:
  * agent/agent.go:116-192).
  *
  * Spark-first translation of the reference's push-stream (SURVEY.md §3.1):
  * extractor pulls a DataFrame; processors fold over it; the frame is
  * materialized ONCE (persisted, unless the last processor already
  * checkpointed it) and fanned out to every sink (the reference's
  * single-pass channel broadcast ≙ cache + N actions, agent/stream.go:51-103);
  * sink errors are swallowed unless `stopOnSinkError` (agent/agent.go:270-275);
  * each sink write sits inside the retrier.
  */
class Agent(
    spark: SparkSession,
    stopOnSinkError: Boolean = false,
    maxRetries: Int = 5,
    retryInitialMs: Long = 5000L,
    monitor: Monitor = NoopMonitor) {

  Registries.populate()

  /** Pure config validation, no execution (reference: agent/agent.go:60-91). */
  def validate(recipe: Recipe): Seq[InvalidConfigError] =
    check("source", recipe.source, Registries.extractors.get) ++
      validateChain(recipe.processors, recipe.sinks)

  private def check(kind: String, spec: PluginSpec,
                    lookup: String => Plugin): Seq[InvalidConfigError] =
    try lookup(spec.name).validate(spec.config).map(e =>
      e.copy(key = s"$kind/${spec.name}/${e.key}"))
    catch {
      case _: NoSuchElementException =>
        Seq(InvalidConfigError(s"$kind/${spec.name}", s"could not find $kind plugin"))
    }

  private def validateChain(processors: Seq[PluginSpec],
                            sinks: Seq[PluginSpec]): Seq[InvalidConfigError] =
    processors.flatMap(p => check("processor", p, Registries.processors.get)) ++
      sinks.flatMap(s => check("sink", s, Registries.sinks.get))

  /** Write one materialized frame to every sink (agent/stream.go fan-out):
    * each write inside the retrier, the per-plugin metric recorded on
    * success and on failure, every sink closed. A failing sink throws
    * under `stopOnSinkError`; otherwise it is logged and counted -1.
    * Returns "name[i]" -> records written.
    */
  private def fanOut(recipeName: String, df: DataFrame,
                     sinks: Seq[PluginSpec]): Map[String, Long] =
    sinks.zipWithIndex.map { case (spec, i) =>
      val sinkPlugin = Registries.sinks.get(spec.name)
      val entry =
        try {
          val n = Retrier.retry(maxRetries, retryInitialMs) {
            sinkPlugin.sink(df, spec.config)
          }
          s"${spec.name}[$i]" -> n
        } catch {
          case e: Exception =>
            // per-plugin failure metric fires even when the error
            // propagates (agent.go:268 records unconditionally)
            monitor.recordPlugin(recipeName, spec.name, "sink", success = false)
            if (stopOnSinkError) throw e
            System.err.println(s"[agent] sink ${spec.name} failed: ${e.getMessage}")
            s"${spec.name}[$i]" -> -1L
        } finally sinkPlugin.close()
      if (entry._2 >= 0L)
        monitor.recordPlugin(recipeName, spec.name, "sink", success = true)
      entry
    }.toMap

  /** Job-group id for a recipe's runs — the cancellation handle. */
  private def jobGroup(recipeName: String): String = s"graft-run-$recipeName"

  /** Graceful cancel (reference agent/agent.go:160-164: ctx cancellation
    * force-closes the stream mid-run). Spark analogue: every run's jobs
    * execute under a job group keyed by recipe name; cancelling the group
    * interrupts the running tasks, the interrupted action raises, and the
    * run reports failure — the same observable outcome as the reference's
    * force-closed stream. Safe to call when no run is active (no-op).
    */
  def cancel(recipeName: String): Unit =
    spark.sparkContext.cancelJobGroup(jobGroup(recipeName))

  def run(recipe: Recipe): RunResult = {
    val t0 = System.nanoTime()
    // group is per-thread, so concurrent runMultiple recipes each get their
    // own cancellable group; interruptOnCancel reaches blocked tasks too
    spark.sparkContext.setJobGroup(jobGroup(recipe.name),
      s"graft recipe ${recipe.name}", interruptOnCancel = true)
    val result =
      try {
        val errors = validate(recipe)
        if (errors.nonEmpty) throw new ConfigException(errors)

        val extractor = Registries.extractors.get(recipe.source.name)
        val extracted = extractor.extract(spark, recipe.source.config)
        val processed = recipe.processors.foldLeft(extracted) { (df, spec) =>
          Registries.processors.get(spec.name).process(df, spec.config)
        }

        // one pass materialized, N sink reads (agent/stream.go fan-out);
        // a frame that already is one needs no second copy, and is counted
        // over its rows in one job: Dataset.count plans an aggregate whose
        // exchange adds a job. A persisted frame is counted by the job
        // that fills the cache.
        val cache = !Agent.materialized(processed)
        if (cache) processed.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val recordCount =
            if (cache) processed.count()
            else processed.queryExecution.toRdd.count()
          val sinkCounts = fanOut(recipe.name, processed, recipe.sinks)
          RunResult(recipe, success = true, None,
            (System.nanoTime() - t0) / 1000000L, recordCount, sinkCounts)
        } finally if (cache) processed.unpersist()
      } catch {
        case e: Exception =>
          RunResult(recipe, success = false, Some(e.getMessage),
            (System.nanoTime() - t0) / 1000000L, 0L)
      } finally spark.sparkContext.clearJobGroup()
    // run-level metrics on both success and failure (agent/agent.go:289-297)
    monitor.recordRun(result)
    result
  }

  /** Continuous recipe run over a STREAMING frame: processors apply to
    * the unbounded frame; each micro-batch fans out to every sink via
    * foreachBatch (persist + the batch path's [[fanOut]], with
    * `queryName` as the recipe name of its metrics). The processor and
    * sink configs are validated before the query starts, so a bad spec
    * fails here instead of on every micro-batch. The reference has no
    * event-time engine — this is the Spark-native "continuous recipe"
    * extension (SURVEY.md §2.5): same plugins, one more execution mode.
    * Returns the handle; caller owns lifecycle.
    */
  def runStreaming(stream: DataFrame,
                   processorSpecs: Seq[PluginSpec],
                   sinkSpecs: Seq[PluginSpec],
                   queryName: String = "graft-recipe"):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val errors = validateChain(processorSpecs, sinkSpecs)
    if (errors.nonEmpty) throw new ConfigException(errors)
    val processed = processorSpecs.foldLeft(stream) { (df, spec) =>
      Registries.processors.get(spec.name).process(df, spec.config)
    }
    processed.writeStream
      .queryName(queryName)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.persist(StorageLevel.MEMORY_AND_DISK)
        try { fanOut(queryName, batch, sinkSpecs); () }
        finally { batch.unpersist(); () }
      }
      .start()
  }

  /** Run recipes concurrently (reference: agent/agent.go:94-113). Spark
    * schedules the jobs onto the shared executor pool.
    */
  def runMultiple(recipes: Seq[Recipe]): Seq[RunResult] = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(recipes.map(r => Future(run(r)))), Duration.Inf)
  }
}

object Agent {
  /** Whether `df` already is one materialized pass: a checkpoint (a
    * `LogicalRDD`) under column selections only. Every read of it then
    * returns the same stored rows and values without recomputing
    * anything, so caching it would only copy it. A projection computing
    * any expression (a rename, a derived or nondeterministic column) is
    * not one: each sink's read would evaluate it again.
    */
  private[agent] def materialized(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
    def stored(p: LogicalPlan): Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case Project(list, child) =>
        list.forall(_.isInstanceOf[Attribute]) && stored(child)
      case _ => false
    }
    stored(df.queryExecution.analyzed)
  }
}
