package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plugins._

/** Timing wrappers around the plugins the workloads use, registered under
  * `traced-<name>` so the agent's own code stays untouched: a traced recipe
  * names the wrapper, the wrapper opens a span and calls the real plugin.
  *
  * Processors also record rows in and out. The counts run after the
  * processor span closes, inside a `trace.probe` span, so their jobs are
  * not charged to the processor; they are part of the tracing overhead.
  */
object Wrap {
  val Prefix = "traced-"

  /** (processor, rows in, rows out) for every traced processor call. */
  val keep = mutable.ArrayBuffer[(String, Long, Long)]()

  private var registered = false

  def register(tr: Tracer): Unit = synchronized {
    if (registered) return
    Registries.populate()
    val documents = Registries.extractors.get("documents")
    Registries.extractors.register(new Extractor {
      val info: PluginInfo = documents.info.copy(name = Prefix + "documents")
      override def validate(c: Map[String, Any]) = documents.validate(c)
      def extract(spark: SparkSession, c: Map[String, Any]): DataFrame =
        tr.span("sources.extract")(documents.extract(spark, c))
    })
    Layers.processors.foreach { n =>
      val inner = Registries.processors.get(n)
      Registries.processors.register(new Processor {
        val info: PluginInfo = inner.info.copy(name = Prefix + n)
        override def validate(c: Map[String, Any]) = inner.validate(c)
        def process(df: DataFrame, c: Map[String, Any]): DataFrame = {
          val out = tr.span(s"processors.$n")(inner.process(df, c))
          if (tr.on) tr.span("trace.probe") {
            keep += ((n, df.count(), out.count()))
          }
          out
        }
      })
    }
    Seq("file", "bm25-index").foreach { n =>
      val inner = Registries.sinks.get(n)
      Registries.sinks.register(new SinkPlugin {
        val info: PluginInfo = inner.info.copy(name = Prefix + n)
        override def validate(c: Map[String, Any]) = inner.validate(c)
        def sink(df: DataFrame, c: Map[String, Any]): Long =
          tr.span(s"sinks.$n")(inner.sink(df, c))
        override def close(): Unit = inner.close()
      })
    }
    registered = true
  }
}
