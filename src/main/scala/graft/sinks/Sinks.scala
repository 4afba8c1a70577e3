package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plugins._

/** Built-in sinks (reference roster: plugins/sinks/populate.go:4-9 —
  * console, file, http, kafka, compass, stencil).
  *
  * Asset metadata streams are KB-MB-sized, so push-style sinks (console,
  * single-file, http) intentionally run on the driver via
  * `toJSON.toLocalIterator` — constant memory, no collect() of the whole
  * frame. Data-sized writes (ndjson directories, kafka topics) go through
  * `DataFrameWriter`, which scales out.
  */

object ConsoleSink extends SinkPlugin {
  val info: PluginInfo = PluginInfo("console",
    "JSON-print every record to stdout", tags = Seq("sink"))

  /** reference: plugins/sinks/console/sink.go:43-60 */
  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    var n = 0L
    df.toJSON.toLocalIterator().forEachRemaining { j => println(j); n += 1 }
    n
  }
}

object FileSink extends SinkPlugin {
  val info: PluginInfo = PluginInfo("file",
    "Write records as NDJSON or YAML to a single file",
    sampleConfig =
      """path: ./out.ndjson
        |format: ndjson
        |overwrite: true""".stripMargin,
    tags = Seq("sink"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] = {
    val missing = requireKeys(config, "path", "format")
    val badFormat = config.get("format").map(_.toString).filter(f =>
      f != "ndjson" && f != "yaml").map(f =>
      InvalidConfigError("format", s"unsupported format: $f"))
    missing ++ badFormat
  }

  /** reference: plugins/sinks/file/file.go:57-118 — ndjson or yaml, one
    * file, overwrite default true (file.go:22-26).
    */
  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    val path = Paths.get(config("path").toString)
    val format = config.getOrElse("format", "ndjson").toString
    val overwrite = config.getOrElse("overwrite", true).toString.toBoolean
    if (path.getParent != null) Files.createDirectories(path.getParent)
    val opts =
      if (overwrite) Seq(StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      else Seq(StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8, opts: _*)
    var n = 0L
    try {
      if (format == "yaml") {
        val yaml = new org.yaml.snakeyaml.Yaml()
        jsonLines(df).forEachRemaining { j =>
          val obj = yaml.load[Object](j) // JSON is a YAML subset
          out.write("- " + yaml.dump(obj).replace("\n", "\n  ").trim + "\n")
          n += 1
        }
      } else {
        jsonLines(df).forEachRemaining { j =>
          out.write(j); out.write("\n"); n += 1
        }
      }
    } finally out.close()
    n
  }

  /** Each row as one JSON object, byte for byte the text `Dataset.toJSON`
    * gives, through one `to_json(struct(*))` projection of the frame,
    * streamed to the driver a partition at a time. */
  private def jsonLines(df: DataFrame): java.util.Iterator[String] =
    df.select(to_json(struct(col("*")))).as[String](
      org.apache.spark.sql.Encoders.STRING).toLocalIterator()
}

/** HTTP poster indirection so tests (and the offline container) can swap
  * the transport (reference mirrors this with its httpClient interface,
  * compass/sink.go:43-45).
  */
trait HttpPoster {
  /** Returns the response status code. */
  def post(url: String, method: String, headers: Map[String, String], body: String): Int
}

object JdkHttpPoster extends HttpPoster {
  def post(url: String, method: String, headers: Map[String, String], body: String): Int = {
    val client = java.net.http.HttpClient.newHttpClient()
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode()
  }
}

/** Per-sink record batching (reference: agent/batch.go:10-48, default size 1
  * at agent/agent.go:17; 0 = unbounded). Chunks the driver-side JSON record
  * iterator into the groups the agent would hand a reference sink's
  * `Sink(ctx, batch)` call. The HTTP-family sinks still POST one request
  * per record regardless of batch size (http.go:74-88 loops the batch;
  * same at compass/sink.go:79-98 and stencil.go:87) — batch_size is
  * iteration chunking only, never the wire shape (a JSON-array body would
  * be a shape meteor-compatible receivers never see). "Unbounded" (0)
  * therefore caps at a bounded chunk: with per-record posting there is no
  * observable difference, and buffering the whole frame driver-side would
  * be the same OOM cliff `toLocalIterator` exists to avoid.
  */
private[sinks] object Batching {
  private val UnboundedChunk = 1024

  def batches(df: DataFrame, batchSize: Int): Iterator[Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val it = df.toJSON.toLocalIterator().asScala
    it.grouped(if (batchSize == 0) UnboundedChunk else batchSize)
  }

  def size(config: Map[String, Any]): Int =
    config.getOrElse("batch_size", 1).toString.toInt

  def validateSize(config: Map[String, Any]): Seq[InvalidConfigError] =
    try {
      if (size(config) < 0)
        Seq(InvalidConfigError("batch_size", "batch_size must be >= 0"))
      else Nil
    } catch {
      case _: NumberFormatException =>
        Seq(InvalidConfigError("batch_size", "batch_size must be an integer"))
    }
}

class HttpSink(poster: HttpPoster = JdkHttpPoster) extends SinkPlugin {
  val info: PluginInfo = PluginInfo("http",
    "POST records as JSON to a URL (batch_size records per request, 0 = all)",
    sampleConfig =
      """url: http://host/api
        |method: POST
        |success_code: 200
        |batch_size: 1""".stripMargin,
    tags = Seq("sink"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "url") ++ Batching.validateSize(config)

  /** reference: plugins/sinks/http/http.go:74-131 — JSON per record;
    * success_code default 200; 5xx raises a retryable error
    * (http.go:123-128). Batching per agent/batch.go: batch_size records per
    * request (default 1 = the reference's per-record behavior).
    */
  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    val url = config("url").toString
    val method = config.getOrElse("method", "POST").toString
    val successCode = config.getOrElse("success_code", 200).toString.toInt
    val batchSize = Batching.size(config)
    val headers = config.get("headers") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v.toString }
      case _ => Map("Content-Type" -> "application/json")
    }
    var n = 0L
    Batching.batches(df, batchSize).foreach { batch =>
      batch.foreach { record =>
        val code = poster.post(url, method, headers, record)
        // success check FIRST (http.go:110-112): a 5xx success_code counts
        // as success, not as a retryable failure
        if (code != successCode) {
          if (code >= 500)
            throw new RetryableException(s"http sink: server error $code")
          throw new RuntimeException(s"http sink: unexpected status $code (want $successCode)")
        }
        n += 1
      }
    }
    n
  }
}

object KafkaSink extends SinkPlugin {
  val info: PluginInfo = PluginInfo("kafka",
    "Serialize records to a Kafka topic (protobuf asset payload; key from a dotted key_path)",
    sampleConfig =
      """brokers: host:9092
        |topic: assets
        |key_path: resource.urn
        |format: protobuf""".stripMargin,
    tags = Seq("sink"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] = {
    val badFormat = config.get("format").map(_.toString)
      .filter(f => f != "protobuf" && f != "json")
      .map(f => InvalidConfigError("format", s"unsupported format: $f"))
    requireKeys(config, "brokers", "topic") ++ badFormat
  }

  /** Build the (key, value) payload frame (reference:
    * plugins/sinks/kafka/sink.go:88-152). Value = the asset's protobuf
    * bytes (`proto.Marshal`, sink.go:110-116) via [[AssetProto.tableBytes]]
    * — per-row imperative encoding, so a typed `map` is the right tool;
    * non-Table frames (and `format: json`) fall back to full-record JSON.
    * Key = dotted-path field as UTF-8 (the reference's dynamic-proto key
    * needs a top-level string field, which the Table message doesn't have;
    * a plain string key is what partitioners consume anyway).
    */
  def payload(df: DataFrame, keyPath: Option[String],
              format: String = "protobuf"): DataFrame = {
    val all = struct(df.columns.toIndexedSeq.map(col): _*)
    val key = keyPath match {
      case Some(p) =>
        // dotted paths into struct columns resolve directly — serializing
        // the whole row to JSON per record just to read one field is pure
        // overhead; the JSON route stays as the fallback for paths that
        // aren't plain nested columns
        try df.col(p).cast("string")
        catch { case _: org.apache.spark.sql.AnalysisException =>
          get_json_object(to_json(all), "$." + p)
        }
      case None => lit(null).cast("string")
    }
    val protoEncoder =
      if (format == "protobuf") AssetProto.encoderFor(df.schema) else None
    protoEncoder match {
      case Some(encode) =>
        import org.apache.spark.sql.Encoders
        val enc = Encoders.tuple(Encoders.STRING, Encoders.BINARY)
        df.select(key.as("key"), all.as("asset"))
          .map((r: Row) => (r.getString(0), encode(r.getStruct(1))))(enc)
          .toDF("key", "value")
      case None =>
        df.select(key.as("key"), to_json(all).as("value"))
    }
  }

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    val out = payload(df, config.get("key_path").map(_.toString),
      config.getOrElse("format", "protobuf").toString)
    // ONE pass: Observation counts rows inside the write action itself —
    // kafka writes exactly one message per input row, so this is the sunk
    // record count with no second scan (a trailing df.count() would
    // re-execute the whole upstream pipeline when the frame isn't the
    // agent-persisted one)
    val obs = org.apache.spark.sql.Observation()
    // output_format is a test seam (same convention as the jdbc family's
    // `runner` injection): this container has no kafka connector jars, so
    // tests write "noop"; format("kafka") is the real path on a cluster
    // with spark-sql-kafka on the classpath
    out.observe(obs, count(lit(1)).as("n"))
      .write.format(config.getOrElse("output_format", "kafka").toString)
      .option("kafka.bootstrap.servers", config("brokers").toString)
      .option("topic", config("topic").toString)
      .mode("append")
      .save()
    obs.get("n").asInstanceOf[Long]
  }
}

class CompassSink(poster: HttpPoster = JdkHttpPoster) extends SinkPlugin {
  val info: PluginInfo = PluginInfo("compass",
    "PATCH assets into a Compass catalog, lineage included",
    sampleConfig =
      """host: http://compass
        |labels:
        |  team: $properties.attributes.team""".stripMargin,
    tags = Seq("sink"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "host") ++ Batching.validateSize(config)

  /** Compass payload: urn/type/name/service/description + data + labels,
    * upstreams/downstreams from the lineage facet (reference:
    * plugins/sinks/compass/sink.go:143-197). Label values support
    * `$properties.attributes.X` / `$properties.labels.X` templating
    * (sink.go:222-300).
    */
  def payload(df: DataFrame, labelTemplates: Map[String, String]): DataFrame = {
    val full = to_json(struct(df.columns.toIndexedSeq.map(col): _*))
    // label templates resolve against the PROPERTIES facet: attributes is
    // a JSON-string column (queried with get_json_object), labels a map
    // (sink.go:222-300); non-$ values are literals
    val labelCols = labelTemplates.toSeq.sortBy(_._1).map { case (k, tpl) =>
      val v = tpl match {
        case t if t.startsWith("$properties.attributes.") =>
          get_json_object(col("properties.attributes"),
            "$." + t.stripPrefix("$properties.attributes."))
        case t if t.startsWith("$properties.labels.") =>
          element_at(col("properties.labels"), t.stripPrefix("$properties.labels."))
        case t if t.startsWith("$") =>
          get_json_object(full, "$." + t.stripPrefix("$"))
        case t => lit(t)
      }
      struct(lit(k).as("key"), v.as("value"))
    }
    val labels =
      if (labelCols.isEmpty) Nil
      else Seq(map_from_entries(array(labelCols: _*)).as("labels"))
    // labels are computed in the SAME projection — they reference the
    // asset columns, which no longer exist after this select
    df.select(Seq(
      col("resource.urn").as("urn"),
      col("resource.type").as("type"),
      col("resource.name").as("name"),
      col("resource.service").as("service"),
      col("resource.description").as("description"),
      full.as("data"),
      when(col("lineage").isNotNull, col("lineage.upstreams.urn"))
        .otherwise(array().cast("array<string>")).as("upstreams"),
      when(col("lineage").isNotNull, col("lineage.downstreams.urn"))
        .otherwise(array().cast("array<string>")).as("downstreams")) ++ labels: _*)
  }

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    val host = config("host").toString
    val labels = config.get("labels") match {
      case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v.toString }
      case _ => Map.empty[String, String]
    }
    val batchSize = Batching.size(config)
    var n = 0L
    Batching.batches(payload(df, labels), batchSize).foreach { batch =>
      batch.foreach { record =>
        val code = poster.post(s"$host/v1beta1/assets", "PATCH",
          Map("Content-Type" -> "application/json"), record)
        // compass/sink.go:124-138: 200 = success, 5xx retryable, else permanent
        if (code != 200) {
          if (code >= 500) throw new RetryableException(s"compass: server error $code")
          throw new RuntimeException(s"compass: unexpected status $code")
        }
        n += 1
      }
    }
    n
  }
}

class StencilSink(poster: HttpPoster = JdkHttpPoster) extends SinkPlugin {
  val info: PluginInfo = PluginInfo("stencil",
    "Upload table schemas as JSON-Schema or Avro to a Stencil registry",
    sampleConfig =
      """host: http://stencil
        |namespace_id: ns
        |format: json""".stripMargin,
    tags = Seq("sink"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "host", "namespace_id")

  /** Table assets only (stencil.go:88-91); urn dots→path
    * (stencil.go:151-176); format json|avro (stencil.go:120-148).
    */
  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    val host = config("host").toString
    val ns = config("namespace_id").toString
    val format = config.getOrElse("format", "json").toString
    var n = 0L
    // schema documents are built from each asset's column facet — streamed
    // one partition at a time like every driver-side sink (never collect():
    // a pathological asset count must not OOM the driver)
    val rows = df.select(col("resource.urn"), col("resource.name"),
        col("schema.name"), col("schema.dataType"), col("schema.isNullable"))
      .toLocalIterator()
    rows.forEachRemaining { r =>
      val rawUrn = r.getString(0)
      val tableName = r.getString(1)
      // schema id = urn with ONLY '/' dotted — '::' stays (stencil.go:157)
      val schemaId = rawUrn.replace("/", ".")
      val cols = r.getSeq[String](2)
        .lazyZip(r.getSeq[String](3)).lazyZip(r.getSeq[Boolean](4)).toSeq
      // payloads mirror stencil.go:119-148: json $id = urn + ".json",
      // title = table name; avro record name = table name, namespace = ns
      val body =
        if (format == "avro") SchemaFormats.columnsToAvroSchema(cols, tableName, ns)
        else SchemaFormats.columnsToJsonSchema(cols, rawUrn + ".json", tableName)
      // json schemas carry the compatibility header (stencil.go:164-166)
      val headers = Map("Content-Type" -> "application/json") ++
        (if (format == "json") Map("X-Compatibility" -> "COMPATIBILITY_UNSPECIFIED")
         else Map.empty)
      val code = poster.post(s"$host/v1beta1/namespaces/$ns/schemas/$schemaId",
        "POST", headers, body)
      // stencil.go:173-187: 201 Created = success, 5xx retryable, else
      // permanent
      if (code != 201) {
        if (code >= 500) throw new RetryableException(s"stencil: server error $code")
        throw new RuntimeException(s"stencil: unexpected status $code")
      }
      n += 1
    }
    n
  }
}

/** What the index sinks share: `index_path` is required, `mode` is
  * `ingest` (the default) or `forget` (the rows are tombstones), and
  * every batch goes through one intake.
  */
private[graft] trait IndexSink extends SinkPlugin {
  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "index_path") ++
      config.get("mode").map(_.toString)
        .filter(m => m != "ingest" && m != "forget")
        .map(m => InvalidConfigError("mode", s"unsupported mode: $m"))

  protected def forgets(config: Map[String, Any]): Boolean =
    config.getOrElse("mode", "ingest").toString == "forget"

  /** The batch intake: the sink's `cols` materialized once and counted;
    * `write` runs only on a non-empty batch (streaming recipes deliver
    * empty micro-batches routinely). Returns the row count.
    */
  protected def intake(df: DataFrame, cols: String*)(
      write: DataFrame => Unit): Long = {
    val batch = df.select(cols.map(col): _*).localCheckpoint()
    val n = batch.count()
    if (n > 0) write(batch)
    n
  }
}

/** bm25-index: terminal write of the incoming rows into the engine's
  * stored BM25 postings layout ([[graft.operators.Retrieval.Bm25Store]])
  * — the retrieval-index sibling of the fingerprint/LSH indexes the
  * curation gates build, so a YAML recipe can displace index building to
  * ingest (`documents → gates → bm25-index`, then every query scores the
  * frozen store). Past config parsing and the [[IndexProtocol]] geometry
  * check, every batch is one call to
  * [[graft.operators.Retrieval.mergeBm25StoreAt]], which refuses a marked
  * store, builds at an empty `index_path` and otherwise FOLDS the batch
  * IN (postings append, df/stats integer adds — historical text is never
  * re-read), so the indexed corpus only ever widens.
  *
  * Read once: the sink hands the batch to the merge as it arrives, and
  * the merge (or build) reads it exactly once, into its checkpointed
  * per-document frame, whose job also counts it. Inside the merge,
  * independent writes run at the same time under the caller's job
  * group, and `stats` is still replaced last as the commit signal (see
  * the merge's own doc).
  *
  * Concurrency contract: the index is SINGLE-WRITER, like
  * [[graft.processors.CurationProcessors.DedupGate]] — the merge is a
  * read-then-replace of the two small stats tables with no atomic
  * check-and-swap on a parquet directory, so run one ingest recipe per
  * index. Batches must carry ids DISJOINT from the store (the
  * arriving-batch contract every incremental gate shares); chain a
  * `dedup-gate` upstream when re-deliveries are possible.
  */
object Bm25IndexSink extends IndexSink {
  val info: PluginInfo = PluginInfo("bm25-index",
    "Build or incrementally extend a stored BM25 postings index from the incoming rows (mode: forget erases them instead)",
    sampleConfig =
      """index_path: /indexes/bm25
        |id_column: doc_id
        |text_column: text
        |buckets: 16
        |# after a `chunk` processor: pack (id, chunk) into one index key
        |# chunk_id_column: chunk_id
        |# mode: forget   # rows are TOMBSTONES: erase their ids in place""".stripMargin,
    tags = Seq("sink", "curation", "retrieval"))

  /** mode: forget — the incoming rows are TOMBSTONES (only `id_column`
    * is read): erase them from the store in place, right-to-erasure on
    * the recipe surface (`tombstones.parquet → bm25-index(mode:
    * forget)`). One forget serves plain and fielded stores (it reads the
    * layout off the store); chunk grain erases by PARENT doc id through
    * the cid sidecar. Returns the tombstone count processed.
    */
  private def forget(df: DataFrame, config: Map[String, Any]): Long = {
    val spark = df.sparkSession
    val path = config("index_path").toString
    val idc = config.getOrElse("id_column", "doc_id").toString
    // chunk grain and bits from the STORE's frozen config, never the
    // forget recipe's: a GDPR recipe is exactly the later batch that
    // _graft_index_config exists to keep from mis-specifying them. Only
    // library-built stores that carry no config fall back to the keys
    val frozen = IndexProtocol.storedLayoutConfig(spark, path)
    val chunked = frozen.map(_.contains("chunk_grain=true")).getOrElse(
      config.contains("chunk_id_column") ||
        config.getOrElse("chunk_grain", false).toString.toBoolean)
    val bits = frozen.flatMap(
        _.split(",").find(_.startsWith("chunk_bits="))
          .map(_.stripPrefix("chunk_bits=").toInt))
      .getOrElse(config.getOrElse("chunk_id_bits", 20).toString.toInt)
    intake(df, idc) { tomb =>
      if (chunked)
        graft.operators.Retrieval.forgetBm25ChunkStoreAt(spark, path, tomb,
          idc, chunkIdBits = bits)
      else
        graft.operators.Retrieval.forgetBm25StoreAt(spark, path, tomb, idc)
    }
  }

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    if (forgets(config)) return forget(df, config)
    val spark = df.sparkSession
    val path = config("index_path").toString
    val idc = config.getOrElse("id_column", "doc_id").toString
    val tc = config.getOrElse("text_column", "text").toString
    val buckets = config.getOrElse("buckets", 16).toString.toInt
    // chunk-grain composition (`documents → chunk → bm25-index`): the
    // chunk processor emits (id, chunk_id) at chunk grain; pack them
    // into the engine's cid convention (id·2^bits + chunk, parent =
    // cid >> bits) so the indexed key matches what hard-negative mining
    // and chunk retrieval expect — the d_chunk_bm25 id space
    val chunkCol = config.get("chunk_id_column").map(_.toString)
    val bits = config.getOrElse("chunk_id_bits", 20).toString.toInt
    val keyCol = chunkCol.map(_ => "cid").getOrElse(idc)
    val keyed = chunkCol match {
      // cast the id to LONG before shifting: an IntegerType id column
      // would wrap at ids >= 2^(31-bits) (2048 at the default 20 bits),
      // silently colliding different docs' chunk keys
      case Some(cc) => df.withColumn("cid",
        org.apache.spark.sql.functions.shiftleft(
          org.apache.spark.sql.functions.col(idc).cast("long"), bits) +
          org.apache.spark.sql.functions.col(cc))
      case None => df
    }
    // fielded: true builds/extends the BM25F layout instead (title
    // window from title_tokens; field weights stay query-time knobs)
    val fielded = config.getOrElse("fielded", false).toString.toBoolean
    val titleTokens = config.getOrElse("title_tokens", 8).toString.toInt
    val layoutCfg = s"fielded=$fielded,title_tokens=$titleTokens," +
      s"buckets=$buckets,chunk_grain=${chunkCol.isDefined},chunk_bits=$bits"
    val adopt = IndexProtocol.checkLayoutConfig(spark, path, layoutCfg)
    // the merge refuses a marked store, builds or merges, and reads the
    // batch once: into its checkpointed per-document frame, whose job
    // also counts it
    val n = graft.operators.Retrieval.mergeBm25StoreAt(spark, path, keyed,
      keyCol, tc, buckets, fielded, titleTokens)
    // fresh stores, and pre-protocol stores, record the batch's config
    // only once an ingest under it actually succeeded
    if (adopt) IndexProtocol.writeLayoutConfig(spark, path, layoutCfg)
    n
  }
}

/** The two parquet-has-no-transactions mitigations shared by the index
  * sinks. Neither makes a multi-file mutation atomic — nothing on a
  * plain object store can — but together they turn the silent failure
  * modes into loud ones:
  *
  *  - A MERGE/APPEND that died between its writes must never be
  *    retried blindly (the postings-append half would run twice and
  *    double every tf it carries, breaking merged ≡ rebuild with no
  *    error). The operator that owns each store fences its own ingest:
  *    it refuses a store carrying a stale `_graft_merge_pending` marker
  *    BEFORE its build-vs-merge dispatch, and mutates an existing store
  *    under the staged marker
  *    ([[graft.operators.Layout.withPendingMarkerStaged]]) — so a sink,
  *    a streaming append and a library call all refuse alike. Build
  *    paths need no marker: they are static overwrites, and their commit
  *    signal (stats/codebook written last) means a half-built store
  *    simply rebuilds.
  *
  *  - A later batch run with DIFFERENT layout parameters (fielded flag,
  *    title window, chunk grain/bits, buckets) would merge components
  *    computed under another geometry — silently wrong scores.
  *    [[writeLayoutConfig]] freezes the build-time parameters in the
  *    store; [[checkLayoutConfig]] rejects a mismatched merge loudly.
  *    Stores written before this protocol (no config file) adopt the
  *    current batch's config on their next successful merge.
  */
private[graft] object IndexProtocol {
  def writeLayoutConfig(spark: org.apache.spark.sql.SparkSession,
                        path: String, cfg: String): Unit = {
    import spark.implicits._
    graft.operators.Layout.writeRecord(Seq(cfg).toDF("cfg"),
      s"$path/_graft_index_config")
  }

  /** The frozen layout config, None for stores predating the protocol. */
  def storedLayoutConfig(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[String] =
    graft.operators.Layout.readRecord(spark, s"$path/_graft_index_config",
      "cfg STRING").map(_.getString(0))

  /** Reject a merge whose batch is configured with a different layout
    * than the store was built with. Returns true when the store
    * PREDATES the protocol (no config file): the caller adopts the
    * batch's config by writing it AFTER its merge completes — stamping
    * it up front would freeze a possibly mismatched geometry as
    * official even when the merge refuses or dies.
    */
  def checkLayoutConfig(spark: org.apache.spark.sql.SparkSession,
                        path: String, cfg: String): Boolean = {
    val stored = storedLayoutConfig(spark, path) match {
      case Some(c) => c
      case None => return true
    }
    require(stored == cfg,
      s"$path was built with layout ($stored) but this batch is " +
        s"configured ($cfg) — merging mixed geometries silently corrupts " +
        "scores. Align the recipe config or rebuild the index.")
    false
  }
}

/** ivf-index: terminal write of the incoming (id, vector) rows into the
  * engine's centroid-partitioned ANN layout — the vector-search sibling
  * of [[Bm25IndexSink]], so a YAML recipe can displace vector-index
  * building to ingest (`embeddings → ivf-index`, then every query probes
  * the frozen store). First batch at an empty `index_path` auto-sizes
  * the codebook from the data (C = √N, blind — the
  * [[graft.operators.Similarity.autoTwoLevelCodebook]] policy) and
  * persists it INSIDE the store
  * ([[graft.operators.Similarity.writeCodebookAt]]); later batches
  * reload that frozen codebook from disk and APPEND — assignment is
  * O(2√C·d) per row against the reloaded centroids, historical
  * directories are never read or rewritten, and any micro-batching of
  * the ingest stream lands identical rows (the append-parity contract).
  *
  * `two_level: true` (default) builds the past-the-clamp hierarchical
  * layout — on disk indistinguishable from a flat store, probes stay
  * directory-pruned, and C tracks √N to ~4.3B vectors; `two_level:
  * false` opts into the flat codebook (clamped at 4096 centroids — the
  * regime where a flat literal-array assignment is still cheap).
  * `grow: true` additionally runs one
  * [[graft.operators.Similarity.splitHotChildrenAt]] round after each
  * append (two-level only): children above `max_share_pct` split in
  * place — only affected tops' directories rewrite — and the GROWN
  * codebook is persisted back, so the index keeps the share audit's
  * balance as the corpus widens without ever re-laying-out.
  *
  * Past config parsing, every batch is one call to
  * [[graft.operators.Similarity.ingestIvfStoreAt]], which owns the
  * marker refusal, the raw/PQ and flat/two-level dispatch, the
  * cross-layout refusals, the meta columns, the rerank linkage and
  * `grow`, and runs every append under one staged pending marker.
  *
  * Concurrency contract: SINGLE-WRITER per index, like [[Bm25IndexSink]]
  * (append + codebook replace have no atomic check-and-swap); batches
  * must carry ids DISJOINT from the store — chain a `dedup-gate`
  * upstream when re-deliveries are possible. The codebook parquet is
  * written LAST on the build path, so its _SUCCESS marker is the
  * store's commit signal.
  */
object IvfIndexSink extends IndexSink {
  val info: PluginInfo = PluginInfo("ivf-index",
    "Build or incrementally extend a centroid-partitioned ANN vector index from the incoming rows",
    sampleConfig =
      """index_path: /indexes/ivf
        |id_column: vec_id
        |vector_column: embedding
        |two_level: true
        |max_share_pct: 5.0
        |# meta_columns: [label, lang]
        |#                # carry metadata columns alongside each vector,
        |#                # so ann-search can PRE-filter candidates
        |#                # (filter: "label <= 3") — raw stores only;
        |#                # appends derive the set from the store itself
        |# grow: true     # split hot children in place after each append
        |# mode: forget   # rows are TOMBSTONES: erase their ids in place
        |# quantize: pq   # store 8-byte PQ codes (pq_m: 8, pq_k: 16)
        |#                # routed by the two-level hierarchy
        |# rerank_store_path: /indexes/ivf_vectors
        |#                # with quantize: pq — ALSO write the exact
        |#                # vectors id-partitioned, so ann-search can
        |#                # re-rank the ADC shortlist. The store RECORDS
        |#                # this linkage: mode: forget cascades to the
        |#                # sidecar automatically and ann-search defaults
        |#                # to it, so later recipes may omit the key""".stripMargin,
    tags = Seq("sink", "curation", "similarity"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] = {
    // grow runs split rounds over the two-level hierarchy only — on the
    // flat layout it would silently no-op, so the unsupported combination
    // fails at recipe lint time, not as an index that quietly stops
    // rebalancing
    val growFlat =
      if (config.getOrElse("grow", false).toString.toBoolean &&
          !config.getOrElse("two_level", true).toString.toBoolean)
        Seq(InvalidConfigError("grow",
          "grow: true requires two_level: true (the flat layout has no " +
            "split path — drop grow or switch to the two-level layout)"))
      else Nil
    val badQuant = config.get("quantize").map(_.toString)
      .filter(q => q != "none" && q != "pq")
      .map(q => InvalidConfigError("quantize", s"unsupported quantize: $q"))
    val pqConflicts =
      if (config.getOrElse("quantize", "none").toString == "pq") {
        val flat = config.get("two_level").map(_.toString.toBoolean)
          .contains(false)
        val grow = config.getOrElse("grow", false).toString.toBoolean
        (if (flat) Seq(InvalidConfigError("two_level",
          "quantize: pq always routes through the two-level hierarchy"))
         else Nil) ++
        (if (grow) Seq(InvalidConfigError("grow",
          "grow is unsupported on a codes store (splits re-assign raw " +
            "vectors, which PQ codes no longer carry)"))
         else Nil) ++
        (if (config.contains("meta_columns")) Seq(InvalidConfigError(
          "meta_columns",
          "meta_columns pairs with raw-vector stores only (PQ codes " +
            "rows carry no filterable attributes — drop quantize or " +
            "drop meta_columns)"))
         else Nil)
      } else Nil
    // the rerank store only pairs with a codes layout: a raw-vector
    // store re-ranks against itself, so the key on a non-pq recipe is a
    // config mistake (likely a quantize: pq line lost in an edit)
    val rerankRaw =
      if (config.contains("rerank_store_path") &&
          config.getOrElse("quantize", "none").toString != "pq" &&
          config.getOrElse("mode", "ingest").toString != "forget")
        Seq(InvalidConfigError("rerank_store_path",
          "rerank_store_path pairs with quantize: pq (raw-vector stores " +
            "re-rank against their own exact vectors)"))
      else Nil
    super.validate(config) ++ growFlat ++ badQuant ++ pqConflicts ++
      rerankRaw
  }

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    import graft.operators.Similarity
    val spark = df.sparkSession
    val path = config("index_path").toString
    val idc = config.getOrElse("id_column", "vec_id").toString
    // mode: forget — rows are TOMBSTONES (only id_column read): erase
    // them from the vector store in place, and from a codes store's
    // exact-vector sidecar with it (forgetIvfStoreAt's cascade, which
    // the store's recorded linkage drives). Right-to-erasure on the
    // recipe surface.
    if (forgets(config))
      return intake(df, idc) { tomb =>
        Similarity.forgetIvfStoreAt(spark, path, tomb, idc,
          config.get("rerank_store_path").map(_.toString))
      }
    val metaCols: Seq[String] = config.get("meta_columns").map {
      case l: java.util.List[_] =>
        scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
          .map(_.toString.trim).filter(_.nonEmpty).toSeq
      // the recipe reader hands plugins SCALA collections — a toString
      // fall-through would silently parse "List(label)"
      case l: Iterable[_] => l.map(_.toString.trim).filter(_.nonEmpty).toSeq
      case s => s.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Nil)
    val quantize =
      if (config.getOrElse("quantize", "none").toString != "pq") None
      else Some((config.getOrElse("pq_m", 8).toString.toInt,
        config.getOrElse("pq_k", 16).toString.toInt))
    Similarity.ingestIvfStoreAt(spark, path, df, idc,
      config.getOrElse("vector_column", "embedding").toString,
      twoLevel = config.getOrElse("two_level", true).toString.toBoolean,
      maxSharePct = config.getOrElse("max_share_pct", 5.0).toString.toDouble,
      grow = config.getOrElse("grow", false).toString.toBoolean,
      metaCols = metaCols, quantize = quantize,
      rerankStorePath = config.get("rerank_store_path").map(_.toString))
  }
}

/** winnow-index: terminal write of the incoming rows' winnowed span
  * fingerprints into the ERASABLE refcounted winnow store — the index
  * half of the span-reuse (plagiarism) gate on the recipe surface. First
  * batch at an empty `index_path` builds the (fp, refs) + attribution
  * sidecar layout ([[graft.operators.Dedup.writeWinnowStoreAt]]); later
  * batches MERGE (refcount adds, sidecar appends — merged ≡ rebuild
  * spec-pinned). `mode: forget` treats the rows as TOMBSTONES (only
  * `id_column` read): refcounts decrement through the attribution
  * sidecar and fps at zero leave the gate
  * ([[graft.operators.Dedup.forgetWinnowStoreAt]]) — right-to-erasure
  * for the plagiarism gate in one YAML recipe. Same arriving-batch +
  * single-writer contract as [[Bm25IndexSink]]; mutations run under the
  * staged pending marker.
  */
object WinnowIndexSink extends IndexSink {
  val info: PluginInfo = PluginInfo("winnow-index",
    "Build or incrementally extend the refcounted span-fingerprint (plagiarism) index from the incoming rows (mode: forget erases them instead)",
    sampleConfig =
      """index_path: /indexes/winnow
        |id_column: doc_id
        |text_column: text
        |k: 4
        |w: 4
        |# mode: forget   # rows are TOMBSTONES: decrement their fps in place""".stripMargin,
    tags = Seq("sink", "curation", "dedup"))

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    import graft.operators.Dedup
    val spark = df.sparkSession
    val path = config("index_path").toString
    val idc = config.getOrElse("id_column", "doc_id").toString
    if (forgets(config))
      return intake(df, idc)(Dedup.forgetWinnowStoreAt(spark, path, _, idc))
    val tc = config.getOrElse("text_column", "text").toString
    val k = config.getOrElse("k", 4).toString.toInt
    val w = config.getOrElse("w", 4).toString.toInt
    intake(df, idc, tc)(
      Dedup.mergeWinnowStoreAt(spark, path, _, idc, tc, k, w))
  }
}

/** nb-index: train or incrementally extend the stored NB classifier from
  * the incoming LABELED rows — the model-registry half of the `nb-filter`
  * processor, completing the trained-classifier lifecycle on the recipe
  * surface: train (first batch builds), extend (later batches merge —
  * count adds re-derived through the shared expressions, merged ≡
  * retrain), and UNLEARN (`mode: forget`). Forget-mode rows must carry
  * the erased docs' CONTENT (text + label): unlearning subtracts exactly
  * what the doc contributed, so run the model forget BEFORE erasing the
  * doc from the corpus. Same arriving-batch + single-writer contract as
  * every index sink; staged pending marker; base written LAST (commit).
  */
object NbIndexSink extends IndexSink {
  val info: PluginInfo = PluginInfo("nb-index",
    "Train or incrementally extend the stored NB classifier from the incoming labeled rows (mode: forget unlearns them instead)",
    sampleConfig =
      """index_path: /models/nb
        |id_column: doc_id
        |text_column: text
        |label_column: lang
        |# mode: forget   # rows are erased TRAIN DOCS (with text+label):
        |#                # subtract them from the model exactly""".stripMargin,
    tags = Seq("sink", "curation", "classify"))

  def sink(df: DataFrame, config: Map[String, Any]): Long = {
    import graft.operators.Classify
    val spark = df.sparkSession
    val path = config("index_path").toString
    val idc = config.getOrElse("id_column", "doc_id").toString
    val tc = config.getOrElse("text_column", "text").toString
    val lc = config.getOrElse("label_column", "lang").toString
    intake(df, idc, tc, lc) { batch =>
      if (forgets(config))
        Classify.forgetNbStoreAt(spark, path, batch, idc, tc, lc)
      else
        Classify.mergeNbStoreAt(spark, path, batch, idc, tc, lc)
    }
  }
}

object Populate {
  def register(r: Registry[SinkPlugin]): Unit = {
    r.register(ConsoleSink)
    r.register(FileSink)
    r.register(new HttpSink())
    r.register(KafkaSink)
    r.register(new CompassSink())
    r.register(new StencilSink())
    // project additions on the same SPI: retrieval/vector index ingest
    r.register(Bm25IndexSink)
    r.register(IvfIndexSink)
    r.register(WinnowIndexSink)
    r.register(NbIndexSink)
  }
}
