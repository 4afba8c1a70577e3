package graft.perfbench

/** Per-layer metrics of a traced run, computed from the spans and the jobs
  * the listener saw. Only traced ops count; `trace.probe` spans (the row
  * counts behind keep ratios) are left out of every layer figure.
  */
object Layers {
  val processors = Seq("quality-filter", "pii-scrub", "dedup-gate", "neardup-gate")

  /** Per span name: calls, wall ms, self ms and the counters of the jobs
    * submitted while it was the innermost open span.
    */
  final case class Roll(calls: Int, ms: Double, selfMs: Double, jobs: Int, tasks: Long,
                        runMs: Long, cpuMs: Double, shuffle: Long, spill: Long, input: Long)

  private def byName(tr: Tracer, assigned: Map[Int, Seq[JobRec]]): Map[String, Roll] = {
    val kids = tr.children
    tr.spans.toSeq.filter(_.endNs > 0).groupBy(_.name).map { case (n, ss) =>
      val js = ss.flatMap(s => assigned.getOrElse(s.id, Nil))
      n -> Roll(ss.size, ss.map(_.ms).sum, ss.map(s => tr.selfMs(s, kids)).sum, js.size,
        js.map(_.tasks).sum, js.map(_.runMs).sum, js.map(_.cpuNs).sum / 1e6,
        js.map(_.shuffleWrite).sum, js.map(_.spill).sum, js.map(_.input).sum)
    }
  }

  def rollup(o: Main.Opts, tr: Tracer, jobs: Seq[JobRec], samples: Seq[Main.Sample],
             wl: Workload, gcTracedMs: Long): Map[String, (Double, String)] = {
    val assigned = Trace.assign(tr, jobs)
    val roll = byName(tr, assigned)
    val none = Roll(0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    def r(n: String) = roll.getOrElse(n, none)
    val ops = tr.spans.filter(_.name == "op").toSeq
    val nOps = math.max(ops.size, 1).toDouble
    val opMs = math.max(ops.map(_.ms).sum, 1e-9)
    val work = roll.filter(_._1 != "trace.probe").values.toSeq
    def perOp(f: Roll => Double) = work.map(f).sum / nOps
    def share(n: String) = r(n).selfMs / opMs

    // time inside op spans while no (non-probe) job was running
    val jobsByOp = assigned.toSeq
      .filter { case (id, _) => tr.spans(id).name != "trace.probe" }
      .flatMap { case (id, js) => js.map(tr.spans(id).op -> _) }
      .groupBy(_._1)
    val driverOnly = ops.map { s =>
      val a = tr.wallMs(s.startNs)
      val b = tr.wallMs(s.endNs)
      val iv = jobsByOp.getOrElse(s.op, Nil).map(_._2)
        .map(j => (math.max(a, j.submitMs.toDouble), math.min(b, if (j.endMs > 0) j.endMs.toDouble else b)))
        .filter(x => x._2 > x._1)
      s.ms - Trace.unionMs(iv)
    }.sum / nOps

    val store = Main.listing(wl.storeDirs)
    val storeBytes = store.values.sum.toDouble
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val tracedP50 = Main.median(traced.map(_.ms))
    val untracedP50 = Main.median(untraced.map(_.ms))
    val keep = Wrap.keep.groupBy(_._1)

    val m = Seq.newBuilder[(String, (Double, String))]
    m += "recipe.parse_share" -> (share("recipe.parse"), "ratio")
    m += "agent.validate_share" -> (share("agent.validate"), "ratio")
    m += "agent.self_share" -> (share("agent.run"), "ratio")
    m += "agent.jobs" -> (r("agent.run").jobs / nOps, "count")
    m += "sources.extract_share" -> (share("sources.extract"), "ratio")
    m += "sources.extract_jobs" -> (r("sources.extract").jobs / nOps, "count")
    processors.foreach { p =>
      val k = keep.getOrElse(p, Nil)
      val in = k.map(_._2).sum
      m += s"processors.$p.share" -> (share(s"processors.$p"), "ratio")
      m += s"processors.$p.jobs" -> (r(s"processors.$p").jobs / nOps, "count")
      m += s"processors.$p.keep_ratio" -> (if (in == 0) 0.0 else k.map(_._3).sum.toDouble / in, "ratio")
    }
    m += "sinks.file.share" -> (share("sinks.file"), "ratio")
    m += "sinks.bm25-index.share" -> (share("sinks.bm25-index"), "ratio")
    m += "sinks.bm25-index.jobs" -> (r("sinks.bm25-index").jobs / nOps, "count")
    m += "spark.jobs_per_op" -> (perOp(_.jobs.toDouble), "count")
    m += "spark.tasks_per_op" -> (perOp(_.tasks.toDouble), "count")
    m += "spark.driver_only_ms" -> (driverOnly, "ms")
    m += "spark.executor_run_ms" -> (perOp(_.runMs.toDouble), "ms")
    m += "spark.executor_cpu_ms" -> (perOp(_.cpuMs), "ms")
    m += "spark.shuffle_write_bytes" -> (perOp(_.shuffle.toDouble), "B")
    m += "spark.spill_bytes" -> (perOp(_.spill.toDouble), "B")
    m += "spark.gc_ms" -> (gcTracedMs / nOps, "ms")
    m += "spark.input_bytes" -> (perOp(_.input.toDouble), "B")
    m += "spark.task_busy_share" -> (work.map(_.runMs).sum / (opMs * o.cpus), "ratio")
    m += "store.files" -> (store.size.toDouble, "count")
    m += "store.bytes_per_doc_byte" -> (if (wl.docBytes == 0) 0.0 else storeBytes / wl.docBytes, "ratio")
    m += "store.rewrite_bytes_per_op" -> (traced.map(_.rewriteBytes).sum / nOps, "B")
    Graded.names.foreach { q =>
      val c = r(s"graded.$q.construct")
      val a = r(s"graded.$q.action")
      m += s"graded.$q.construct_share" -> (c.selfMs / opMs, "ratio")
      m += s"graded.$q.action_share" -> (a.selfMs / opMs, "ratio")
      m += s"graded.$q.jobs" -> (if (c.calls == 0) 0.0 else (c.jobs + a.jobs).toDouble / c.calls, "count")
    }
    m += "trace.traced_op_ms_p50" -> (tracedP50, "ms")
    m += "trace.untraced_op_ms_p50" -> (untracedP50, "ms")
    // every pass runs the same inputs from the same state and each input
    // is traced in every other pass (Workload.traced), so traced and
    // untraced ops time the same inputs and their mean latencies compare
    m += "trace.overhead_share" ->
      (traced.map(_.ms).sum / traced.size / (untraced.map(_.ms).sum / untraced.size) - 1.0, "ratio")
    m.result().toMap
  }

  /** Spans, the per-name rollup and the per-layer metrics, as one JSON
    * document (`perfbench/trace_diff.py` compares two of them).
    */
  def spanFile(o: Main.Opts, tr: Tracer, jobs: Seq[JobRec],
               perLayer: Map[String, (Double, String)]): String = {
    val roll = byName(tr, Trace.assign(tr, jobs))
    def layer(n: String) = if (n.startsWith("graded.") || n.startsWith("processors.") ||
      n.startsWith("sinks.")) n.split('.').take(2).mkString(".") else n.takeWhile(_ != '.')
    val rollJson = roll.toSeq.sortBy(_._1).map { case (n, x) =>
      n -> Map("layer" -> layer(n), "calls" -> x.calls, "ms" -> x.ms, "self_ms" -> x.selfMs,
        "jobs" -> x.jobs, "tasks" -> x.tasks, "executor_run_ms" -> x.runMs,
        "executor_cpu_ms" -> x.cpuMs, "shuffle_write_bytes" -> x.shuffle,
        "spill_bytes" -> x.spill, "input_bytes" -> x.input)
    }.toMap
    val spans = tr.spans.toSeq.filter(_.endNs > 0).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.startNs - tr.spans.head.startNs) / 1e6, "ms" -> s.ms))
    Main.jval(Map(
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
      "rollup" -> rollJson,
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "spans" -> spans))
  }
}
