package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agent.Agent
import graft.recipe.RecipeReader

/** Outcome of one timed op: items finished and, on failure, why. */
final case class OpOut(items: Long, error: Option[String] = None)

/** One workload. `generate` writes the inputs under `dir`; `warmUp` builds
  * the stores or layouts the timed ops read and runs the timed code paths
  * once; `startPass` resets what a pass changes, outside every
  * timed op; `op(i)` is one timed operation; `check` verifies outputs after
  * the timed window and returns one message per mismatch.
  */
trait Workload {
  def generate(): Unit
  def warmUp(): Unit
  def startPass(): Unit = ()
  def op(i: Int, traced: Boolean): OpOut
  def check(): Seq[String]
  /** Directories holding persisted stores or layouts (store metrics). */
  def storeDirs: Seq[Path] = Nil
  /** Bytes of document text in the stores. */
  def docBytes: Long = 0L
  /** Ops per pass. Every pass runs the same inputs from the same state and
    * the timed window ends on a pass boundary, so every run times the same
    * mix of inputs.
    */
  def cycle: Int
  /** Fewest passes the timed window runs: at least two, because a traced
    * run traces each input in every other pass.
    */
  def passes: Int = 2
  /** Ops of a traced run that record spans: each input in every other pass,
    * so traced and untraced ops time the same inputs.
    */
  def traced(i: Int): Boolean = (i / cycle + i % cycle) % 2 == 1
  /** Extra key/values for the result file (input sizes, records). */
  def info: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, dir: Path,
            tr: Tracer, records: Path, layouts: Path): Workload = name match {
    case "curate" => new Curate(spark, seed, dir, tr, records)
    case "graded" => new Graded(spark, seed, dir, tr, layouts)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def lines(p: Path): Seq[String] =
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty) else Nil

  def json(s: String): java.util.Map[String, Object] =
    new org.yaml.snakeyaml.Yaml().load[java.util.Map[String, Object]](s)
}

/** Shared recipe runner: parse the YAML and run it through `Agent.run`,
  * with the parse, validate and run calls timed in a traced op.
  */
abstract class RecipeWorkload(spark: SparkSession, tr: Tracer) extends Workload {
  protected val agent = new Agent(spark, stopOnSinkError = true, maxRetries = 0)

  protected def plugin(name: String, traced: Boolean): String =
    if (traced) Wrap.Prefix + name else name

  protected def runRecipe(yaml: String, traced: Boolean): graft.agent.RunResult = {
    val recipe = tr.span("recipe.parse")(RecipeReader.parse(yaml))
    if (traced) {
      val errs = tr.span("agent.validate")(agent.validate(recipe))
      require(errs.isEmpty, errs.mkString("; "))
    }
    tr.span("agent.run")(agent.run(recipe))
  }

  protected def failure(r: graft.agent.RunResult): Option[String] =
    if (!r.success) Some(s"run failed: ${r.error.getOrElse("")}") else None
}

// --------------------------------------------------------------- curate

final class Curate(spark: SparkSession, seed: Long, dir: Path, tr: Tracer,
                   records: Path) extends RecipeWorkload(spark, tr) {
  private val batchSize = 150
  /** Batches the stores are built from in set-up, as one ingest (part 0).
    * The batch every op ingests (part 1) then merges into stores eight
    * times its own size.
    */
  private val baseBatches = 8
  private val corpus = Gen.curateCorpus(seed, baseBatches + 1, batchSize)
  private val data = dir.resolve("parts")
  /** Stores and output of the base build. */
  private val base = dir.resolve("base")
  /** A copy of the base stores, taken before every op, and the op's
    * output: every op ingests the same batch into the same stores.
    */
  private val pass = dir.resolve("pass")
  private var baseCount = -1L
  private var warmCount = -1L
  /** recordCount of every op. */
  private val opCounts = scala.collection.mutable.ArrayBuffer[Long]()

  private def part(id: Long): Int = if (id / batchSize < baseBatches) 0 else 1

  private def partBytes(k: Int): Long = corpus.docs.collect {
    case (id, t) if part(id) == k => t.getBytes("UTF-8").length.toLong
  }.sum

  private def yaml(k: Int, root: Path, traced: Boolean): String = {
    val stores = root.resolve("stores")
    s"""name: curate
       |version: v1beta1
       |source:
       |  name: ${plugin("documents", traced)}
       |  config: {path: ${data.resolve(s"part=$k")}}
       |processors:
       |  - name: ${plugin("quality-filter", traced)}
       |    config: {min_tokens: 8, max_stopword_ratio: 1.0, max_punct_ratio: 1.0,
       |             min_mean_token_len: 0, max_mean_token_len: 100}
       |  - name: ${plugin("pii-scrub", traced)}
       |    config: {text_column: text}
       |  - name: ${plugin("dedup-gate", traced)}
       |    config: {index_path: ${stores.resolve("fp")}}
       |  - name: ${plugin("neardup-gate", traced)}
       |    config: {index_path: ${stores.resolve("lsh")}}
       |sinks:
       |  - name: ${plugin("bm25-index", traced)}
       |    config: {index_path: ${stores.resolve("bm25")}, buckets: 8}
       |  - name: ${plugin("file", traced)}
       |    config: {path: ${root.resolve("out").resolve(s"part_$k.ndjson")}, format: ndjson}
       |""".stripMargin
  }

  /** Ingest part k into the stores under root: (recordCount, failure). */
  private def ingest(k: Int, root: Path, traced: Boolean): (Long, Option[String]) = {
    val r = runRecipe(yaml(k, root, traced), traced)
    (r.recordCount, failure(r).orElse(
      if (r.sinkCounts.values.exists(_ != r.recordCount))
        Some(s"part $k: recordCount=${r.recordCount} sinks=${r.sinkCounts}")
      else None))
  }

  def generate(): Unit = {
    val rows = corpus.docs.map { case (id, t) => Row(id, t, part(id)) }
    Gen.writeParts(spark, data, rows, Gen.docSchema.add(StructField("part", IntegerType)))
  }

  override def startPass(): Unit = {
    Main.deleteTree(pass)
    Main.copyTree(base.resolve("stores"), pass.resolve("stores"))
  }

  /** Builds the stores from the base batches, then runs the op once,
    * untimed, so the merge path is compiled before the window.
    */
  def warmUp(): Unit = {
    def untimed(k: Int, root: Path): Long = {
      val (n, err) = ingest(k, root, traced = false)
      err.foreach(e => throw new IllegalStateException(s"set-up ingest of part $k failed: $e"))
      n
    }
    baseCount = untimed(0, base)
    startPass()
    warmCount = untimed(1, pass)
  }

  override def cycle: Int = 1
  /** Three ops, so that the median is one of them. */
  override def passes: Int = 3

  def op(i: Int, traced: Boolean): OpOut = {
    val (n, err) = ingest(1, pass, traced)
    opCounts += n
    OpOut(batchSize.toLong, err)
  }

  override def storeDirs: Seq[Path] = Seq("fp", "lsh", "bm25").map(pass.resolve("stores").resolve)
  override def docBytes: Long = partBytes(0) + partBytes(1)

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    // every op starts from the same stores, so it keeps the same docs
    opCounts.zipWithIndex.filter(_._1 != warmCount).take(3).foreach { case (n, i) =>
      errs += s"op $i recordCount $n, the warm-up gave $warmCount"
    }
    // the output of the base build and of the last op
    val outs = Seq(base, pass).map(_.resolve("out"))
    val kept = Workload.lines(outs(0).resolve("part_0.ndjson")) ++
      Workload.lines(outs(1).resolve("part_1.ndjson"))
    val keptIds = kept.map(l => Workload.json(l).get("doc_id").toString.toLong)
    keptIds.filter(corpus.dups).take(3).foreach(id => errs += s"planted duplicate $id survived")
    kept.filter(_.contains("@example.com")).take(3).foreach(l => errs += s"email leaked: ${l.take(80)}")
    val counted = baseCount + opCounts.lastOption.getOrElse(0L)
    if (keptIds.size != counted) errs += s"ndjson rows ${keptIds.size} != recordCounts $counted"
    val bm25 = pass.resolve("stores").resolve("bm25").toString
    graft.operators.Fsck.audit(spark, bm25).filterNot(_.ok)
      .foreach(f => errs += s"fsck ${f.check}: ${f.detail}")
    // sampled queries: stored index == inline BM25 over the survivors
    val survivors = spark.read.schema(Gen.docSchema).json(outs.map(_.toString): _*)
    val queries = spark.createDataFrame(
      Gen.queries(seed, 20).map(r => Row(r.getLong(0), r.getString(1))).asJava,
      StructType(Seq(StructField("q_id", LongType), StructField("qt", StringType))))
    val stored = graft.operators.Retrieval.bm25TopKStored(
      graft.operators.Retrieval.readBm25Store(spark, bm25), queries,
      "doc_id", "q_id", "qt").collect().map(_.toSeq).toSet
    val inline = graft.operators.Retrieval.bm25TopK(survivors, queries,
      "doc_id", "text", "q_id", "qt").collect().map(_.toSeq).toSet
    if (stored != inline)
      errs += s"stored bm25 != inline over survivors (${stored.size} vs ${inline.size} rows)"
    // each part's recordCount must repeat exactly in every run of this seed
    val counts = Seq(baseCount, warmCount)
    val rec = records.resolve(s"curate-seed$seed.txt")
    val prior = Workload.lines(rec).map(_.toLong)
    prior.zip(counts).zipWithIndex.filter { case ((a, b), _) => a != b }.take(3).foreach {
      case ((a, b), k) => errs += s"part $k recordCount $b, an earlier run gave $a"
    }
    val res = errs.result()
    if (res.isEmpty && prior.isEmpty) {
      Files.createDirectories(records)
      Files.write(rec, counts.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    res
  }

  override def info: Map[String, Any] = Map(
    "batch_docs" -> batchSize, "base_batches" -> baseBatches,
    "docs" -> corpus.docs.size,
    "planted_dups" -> corpus.dups.size, "planted_near_dups" -> corpus.nearDups.size,
    "planted_emails" -> corpus.emails.size, "planted_low_quality" -> corpus.lowQuality.size,
    "record_counts" -> s"$baseCount,$warmCount")
}

// --------------------------------------------------------------- graded

object Graded {
  /** The graded rows timed here: inline BM25, the PPJoin set join, the
    * stored-IVF mutual kNN, and TPC-H Q1 as the control with no
    * checkpoints. Every pass runs them in this order, the same for
    * every seed: a query that follows itself runs up to 45 % faster
    * (d_bm25_topk 1.2 s against 2.1 s), so an order drawn from the seed
    * made the op costs differ from seed to seed.
    */
  val names: Seq[String] =
    Seq("d_bm25_topk", "q1_pricing_summary", "d_setjoin_ppjoin", "s_mutual_knn_stored")
}

final class Graded(spark: SparkSession, seed: Long, dir: Path, tr: Tracer,
                   layouts: Path) extends Workload {
  import Graded.names
  val data: Path = dir.resolve("sf")
  private val outDir = dir.resolve("graded_out")
  private val ref = scala.collection.mutable.Map[String, (Long, Long)]()

  /** The graft.Bench checksum: xxhash64 of every column, folded by bit_xor. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val row = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
  }

  /** Blocks that checkpointing operators leave behind (graft.Bench drops
    * them between queries too).
    */
  def dropLeftoverBlocks(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def generate(): Unit = Gen.writeGradedTables(spark, data, seed, dir.resolve("tmp"))

  /** Runs each query once, which builds its stored layouts, and writes its
    * output for the DuckDB oracle check; the checksum of that output is
    * the reference every timed run must reproduce.
    */
  def warmUp(): Unit = names.foreach { n =>
    val out = outDir.resolve(n).toString
    graft.SparkEntry.queries(n)(spark, data.toString).coalesce(1).write.parquet(out)
    ref(n) = checksum(spark.read.parquet(out))
    dropLeftoverBlocks()
  }

  override def cycle: Int = names.size

  def op(i: Int, traced: Boolean): OpOut = {
    val n = names(i % names.size)
    val df = tr.span(s"graded.$n.construct")(graft.SparkEntry.queries(n)(spark, data.toString))
    val got = tr.span(s"graded.$n.action")(checksum(df))
    OpOut(1L, if (got == ref(n)) None else Some(s"$n: (hash, rows) $got != ${ref(n)}"))
  }

  /** The oracle comparison itself runs in perfbench/run.py (DuckDB); this
    * leaves it the SQL.
    */
  def check(): Seq[String] = {
    val oracle = graft.SparkEntry.oracleSql
    val sql = names.filter(oracle.contains).map(n => Main.jval(n) + ":" + Main.jval(oracle(n)))
    Files.write(dir.resolve("oracle_sql.json"), sql.mkString("{", ",", "}").getBytes("UTF-8"))
    Nil
  }

  override def storeDirs: Seq[Path] = Seq(layouts)

  override def info: Map[String, Any] = Map(
    "queries" -> names, "sf_dir" -> data.toString, "graded_out" -> outDir.toString,
    "oracle_sql" -> dir.resolve("oracle_sql.json").toString) ++ Gen.gradedRows
}
