package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plugins._

/** Query-side recipe surface for the stored retrieval indexes — the
  * symmetry the ingest sinks ([[graft.sinks.Bm25IndexSink]],
  * [[graft.sinks.IvfIndexSink]]) were missing: the stores are BUILT from
  * YAML recipes, but ranking against them used to require Scala. These
  * extractors read a frozen index plus a query table and emit the ranked
  * rows into the normal processor/sink fan-out, so
  * `queries.parquet → bm25-search → file` is a complete retrieval
  * deployment in one recipe. Project additions on the reference's Source
  * SPI (the [[graft.processors.DocumentsExtractor]] pattern); scoring is
  * the SAME stored-index code the graded d_bm25_topk_stored /
  * s_ann_ivf2_stored rows pin, so recipe output is row-identical to the
  * library calls by construction.
  */
private[sources] object SearchConfig {
  /** Query tables load like any data-plane input: parquet by default,
    * json (NDJSON) / csv for hand-written query files. */
  def readQueries(spark: SparkSession, config: Map[String, Any]): DataFrame = {
    val path = config("queries_path").toString
    config.getOrElse("queries_format", "parquet").toString match {
      case "parquet" => spark.read.parquet(path)
      case "json" => spark.read.json(path)
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(path)
      case other => throw new ConfigException(Seq(InvalidConfigError(
        "queries_format", s"unsupported format: $other")))
    }
  }

  def int(config: Map[String, Any], key: String, dflt: Int): Int =
    config.getOrElse(key, dflt).toString.toInt

  def dbl(config: Map[String, Any], key: String, dflt: Double): Double =
    config.getOrElse(key, dflt).toString.toDouble
}

/** bm25-search: rank a stored BM25 index (plain, fielded, or chunk-grain
  * — the layout is auto-detected from what the store carries) against a
  * query table. Emits (q_id, rnk, id, score) through the sink fan-out.
  * The query plan is the stored-postings shape: only query-term postings
  * rows load, corpus text never does.
  */
object Bm25SearchExtractor extends Extractor {
  val info: PluginInfo = PluginInfo("bm25-search",
    "Rank a stored BM25 index against a query table (top-k per query)",
    sampleConfig =
      """index_path: /indexes/bm25
        |queries_path: ./queries.parquet   # columns: q_id, text
        |query_id_column: q_id
        |query_text_column: text
        |top_k: 10
        |# prf: true          # pseudo-relevance-feedback expansion
        |# fb_docs: 10
        |# fb_terms: 5""".stripMargin,
    tags = Seq("extractor", "retrieval", "curation"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] = {
    val badPrf =
      if (config.getOrElse("prf", false).toString.toBoolean &&
          config.contains("fielded") &&
          config("fielded").toString.toBoolean)
        Seq(InvalidConfigError("prf",
          "prf expansion runs on the plain-postings layout only"))
      else Nil
    requireKeys(config, "index_path", "queries_path") ++ badPrf
  }

  def extract(spark: SparkSession, config: Map[String, Any]): DataFrame =
    serve(spark, config, SearchConfig.readQueries(spark, config))

  /** The extractor body over an already-loaded query table — shared with
    * [[HybridSearchExtractor]], whose two legs rank the SAME query rows
    * (one read, every config guard still applies per leg). */
  private[sources] def serve(spark: SparkSession, config: Map[String, Any],
                             queries: DataFrame): DataFrame = {
    import graft.operators.Retrieval
    val path = config("index_path").toString
    val qid = config.getOrElse("query_id_column", "q_id").toString
    val qtext = config.getOrElse("query_text_column", "text").toString
    val topK = SearchConfig.int(config, "top_k", 10)
    val k1 = SearchConfig.dbl(config, "k1", 1.2)
    val b = SearchConfig.dbl(config, "b", 0.75)
    // layout dispatch without redundant config: a plain store carries a
    // dfreq table, a fielded one does not (it derives whole-doc df at
    // score time) — the same on-disk signal readBm25Store/readBm25fStore
    // key on. id_column still configures the OUTPUT key name (doc_id for
    // doc stores, cid for chunk stores).
    val fielded = config.get("fielded").map(_.toString.toBoolean)
      .getOrElse(!Retrieval.isPlainBm25StoreAt(spark, path))
    // prf on a fielded store must fail HERE too, not only when the
    // fielded flag was spelled out — auto-detection silently dropping
    // the expansion config would hand back non-expanded rankings
    if (fielded && config.getOrElse("prf", false).toString.toBoolean)
      throw new ConfigException(Seq(InvalidConfigError("prf",
        s"$path holds a fielded store — prf expansion runs on the " +
          "plain-postings layout only")))
    val idCol = config.getOrElse("id_column", "doc_id").toString
    if (fielded) {
      Retrieval.bm25fTopKStored(Retrieval.readBm25fStore(spark, path),
        queries, idCol, qid, qtext,
        wTitle = SearchConfig.dbl(config, "w_title", 2.0),
        wBody = SearchConfig.dbl(config, "w_body", 1.0),
        k1 = k1, b = b, topK = topK)
    } else {
      val store = Retrieval.readBm25Store(spark, path)
      if (config.getOrElse("prf", false).toString.toBoolean)
        Retrieval.bm25PrfTopKStored(store, queries, idCol, qid, qtext,
          fbDocs = SearchConfig.int(config, "fb_docs", 10),
          fbTerms = SearchConfig.int(config, "fb_terms", 5),
          k1 = k1, b = b, topK = topK)
      else
        Retrieval.bm25TopKStored(store, queries, idCol, qid, qtext,
          k1 = k1, b = b, topK = topK)
    }
  }
}

/** ann-search: probe a stored IVF vector index with a query vector table
  * — ALL four persisted geometries dispatch off what the store carries:
  * raw-vector stores (flat or two-level codebook) score exact cosine
  * under centroid-directory pruning (the graded s_ann_ivf2_stored
  * plan); PQ CODES stores (flat-routed or two-level-routed — the
  * billion-vector layout) run the ADC shortlist over the pruned codes
  * directories and re-rank exact against the id-partitioned vector
  * store named by `rerank_store_path` (the graded s_ann_ivfpq2_stored
  * plan). Emits (q_id, c_id, rank, sim).
  */
object AnnSearchExtractor extends Extractor {
  val info: PluginInfo = PluginInfo("ann-search",
    "Probe a stored IVF vector index with query vectors (top-k per query)",
    sampleConfig =
      """index_path: /indexes/ivf
        |queries_path: ./queries.parquet   # columns: vec_id, embedding
        |# id_column: vec_id  # defaults from the store's own record
        |vector_column: embedding
        |top_k: 10
        |nprobe: 3
        |# nprobe_top: 2      # two-level stores only
        |# exclude_self: false
        |# filter: "label <= 3"
        |#                # PRE-filter candidates by the store's metadata
        |#                # columns (ivf-index meta_columns) — the
        |#                # predicate reaches the parquet scan under the
        |#                # probe-directory pruning, so every query fills
        |#                # its k slots from VALID rows (a post-filter
        |#                # would silently underfetch). Raw stores only.
        |# PQ codes stores (ivf-index built with quantize: pq) re-rank
        |# their ADC shortlist against exact vectors — point this at the
        |# vector store the ingest recipe wrote via rerank_store_path.
        |# rerank_store_path: /indexes/ivf_vectors
        |# shortlist: 50""".stripMargin,
    tags = Seq("extractor", "similarity", "curation"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "index_path", "queries_path")

  def extract(spark: SparkSession, config: Map[String, Any]): DataFrame =
    serve(spark, config, SearchConfig.readQueries(spark, config))

  /** The extractor body over an already-loaded query table — shared with
    * [[HybridSearchExtractor]] (see [[Bm25SearchExtractor.serve]]). */
  private[sources] def serve(spark: SparkSession, config: Map[String, Any],
                             queries: DataFrame): DataFrame = {
    import graft.operators.Similarity
    val path = config("index_path").toString
    // the store RECORDS its id column (the _graft_ids sidecar schema) —
    // default from it so the recipe need not re-spell what the layout
    // already knows; an explicit key still wins (it also names the
    // query table's id column), and pre-sidecar stores keep the old
    // default
    val idc = config.get("id_column").map(_.toString)
      .orElse(Similarity.storeIdColumnAt(spark, path)).getOrElse("vec_id")
    val vc = config.getOrElse("vector_column", "embedding").toString
    val k = SearchConfig.int(config, "top_k", 10)
    val nprobe = SearchConfig.int(config, "nprobe", 3)
    val nprobeTop = SearchConfig.int(config, "nprobe_top", 2)
    // external queries are usually NOT store members, so self-exclusion
    // defaults OFF (the library default serves self-kNN, where they are)
    val excludeSelf =
      config.getOrElse("exclude_self", false).toString.toBoolean
    val store = spark.read.parquet(path)
    // the exact-vector fetch side of a codes store's re-rank: REQUIRED
    // for pq layouts (codes cannot re-rank themselves), rejected loudly
    // when absent instead of returning ADC-only approximations. Stores
    // built by ivf-index RECORD their sidecar linkage, so the key
    // defaults from the store itself (resolveRerankLink also refuses a
    // key contradicting the record and a recorded-but-unreachable
    // sidecar); only pre-record stores still require it spelled out.
    def rerankStore: (org.apache.spark.sql.DataFrame, Int) = {
      val explicit = Some(config.getOrElse("rerank_store_path", "")
        .toString).filter(_.nonEmpty)
      Similarity.resolveRerankLink(spark, path, explicit) match {
        case Some(rp) => Similarity.readVectorStore(spark, rp)
        case None => throw new ConfigException(Seq(InvalidConfigError(
          "rerank_store_path",
          s"$path holds a PQ CODES store with no reachable exact-vector " +
            "sidecar — the ADC shortlist re-ranks against exact vectors. " +
            "Stores written by ivf-index with rerank_store_path record " +
            "the linkage and need no key here; this one does not, so " +
            "set rerank_store_path to the id-partitioned vector store " +
            "written at ingest (or rebuild the index with the key set " +
            "from the first batch).")))
      }
    }
    val kind = Similarity.codebookKindAt(spark, path)
    // a rerank key on a RAW store is a config mistake (raw stores
    // re-rank against their own exact vectors) — reject loudly instead
    // of silently ignoring it, the ivf-index sink's validate rule
    if ((kind == "flat" || kind == "two_level") &&
        config.contains("rerank_store_path"))
      throw new ConfigException(Seq(InvalidConfigError("rerank_store_path",
        s"$path holds a raw-vector store, which re-ranks against its own " +
          "exact vectors — rerank_store_path pairs with PQ codes stores " +
          "only")))
    // filter: PRE-filter over the store's metadata columns (ivf-index
    // meta_columns) — applied to store rows BEFORE scoring, so top-k
    // fills from valid candidates and the predicate lands in the
    // parquet scan under the probe-directory pruning. Codes stores
    // carry no filterable attributes: refuse loudly rather than return
    // rankings that silently ignored the predicate.
    val candFilter = Some(config.getOrElse("filter", "").toString)
      .filter(_.nonEmpty)
    if (candFilter.isDefined && (kind == "pq" || kind == "two_level_pq"))
      throw new ConfigException(Seq(InvalidConfigError("filter",
        s"$path holds a PQ CODES store — codes rows carry no filterable " +
          "attributes, so a filtered search here would have to post-" +
          "filter (silently underfetching). Rebuild a raw-vector index " +
          "with meta_columns, or drop the filter.")))
    val cStore = candFilter
      .map(f => store.filter(org.apache.spark.sql.functions.expr(f)))
      .getOrElse(store)
    kind match {
      case "two_level_pq" =>
        val (cb, codebooks) = Similarity.readPq2CodebooksAt(spark, path)
        Similarity.ivfPqTopKStoredTwoLevel(store, queries, idc, vc, k, cb,
          codebooks, vectorStore = rerankStore, nprobeTop = nprobeTop,
          nprobe = nprobe,
          shortlist = SearchConfig.int(config, "shortlist", 50),
          excludeSelf = excludeSelf)
      case "pq" =>
        val (coarse, codebooks) = Similarity.readPqCodebooksAt(spark, path)
        Similarity.ivfPqTopKStored(store, queries, idc, vc, k, coarse,
          codebooks, vectorStore = rerankStore, nprobe = nprobe,
          shortlist = SearchConfig.int(config, "shortlist", 50),
          excludeSelf = excludeSelf)
      case "flat" =>
        Similarity.ivfTopKStored(cStore, queries, idc, vc, k,
          Similarity.readCoarseCodebookAt(spark, path),
          nprobe = nprobe, excludeSelf = excludeSelf)
      case "two_level" =>
        Similarity.ivfTopKStoredTwoLevel(cStore, queries, idc, vc, k,
          Similarity.readTwoLevelCodebookAt(spark, path),
          nprobeTop = nprobeTop, nprobe = nprobe,
          excludeSelf = excludeSelf)
      case other => throw new ConfigException(Seq(InvalidConfigError(
        "index_path", s"$path holds an unrecognized codebook kind " +
          s"'$other' — not a probeable store")))
    }
  }
}

/** hybrid-search: dense+sparse retrieval from one recipe — the lexical
  * leg ranks a stored BM25 index ([[Bm25SearchExtractor]] semantics,
  * every knob and guard included), the dense leg probes a stored IVF
  * index ([[AnnSearchExtractor]] semantics, all four persisted
  * geometries), and a fusion stage combines the two incommensurable
  * score scales: `fusion: rrf` (default) at rank level, `fusion:
  * linear` as the alpha-weighted convex sum over per-leg min-max
  * normalized scores. A ZERO-COPY composition of the two indexes the
  * ingest recipes already build: no third store, one query-table read
  * feeding both legs, fusion cost bounded by the two top-k lists. Emits
  * (q_id, rnk, <id_column>, rrf_micro|fused_micro) — the graded
  * `s_hybrid_dense_sparse` / `s_hybrid_linear` shapes. The query table
  * carries BOTH modalities of each query (its text and its embedding).
  */
object HybridSearchExtractor extends Extractor {
  val info: PluginInfo = PluginInfo("hybrid-search",
    "Fuse stored BM25 and stored IVF rankings (RRF or alpha-linear)",
    sampleConfig =
      """bm25_index_path: /indexes/bm25
        |ann_index_path: /indexes/ivf
        |queries_path: ./queries.parquet   # columns: q_id, text, embedding
        |query_id_column: q_id
        |query_text_column: text
        |vector_column: embedding
        |id_column: doc_id     # the bm25 store's id + the fused output key
        |# ann_id_column: vec_id  # the ivf store's id column name;
        |#                        # defaults from the store's own record
        |top_k: 10             # fused list depth
        |leg_top_k: 10         # per-leg depth entering the fusion
        |fusion: rrf           # rrf | linear
        |rrf_k0: 60            # rrf only
        |# alpha: 0.5          # linear only: dense weight in [0, 1]
        |# bm25 leg: k1, b, prf, fb_docs, fb_terms, fielded,
        |#           w_title, w_body
        |# ann leg: nprobe, nprobe_top, exclude_self, filter,
        |#          rerank_store_path, shortlist""".stripMargin,
    tags = Seq("extractor", "retrieval", "similarity", "curation"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] = {
    val fusion = config.getOrElse("fusion", "rrf").toString
    val badFusion =
      if (fusion != "rrf" && fusion != "linear")
        Seq(InvalidConfigError("fusion", s"unknown fusion mode '$fusion' " +
          "— rrf or linear"))
      else Nil
    // a knob naming the OTHER mode is a config slip — refuse it loudly
    // rather than silently fuse differently than the recipe reads
    val crossed =
      if (fusion == "rrf" && config.contains("alpha"))
        Seq(InvalidConfigError("alpha", "alpha weights linear fusion — " +
          "set fusion: linear or drop the key"))
      else if (fusion == "linear" && config.contains("rrf_k0"))
        Seq(InvalidConfigError("rrf_k0", "rrf_k0 shapes rrf fusion — " +
          "set fusion: rrf or drop the key"))
      else Nil
    // out-of-range alpha fails HERE with the key named, not mid-run
    // after both index scans via linearFuse's bare require
    val badAlpha = config.get("alpha").toSeq.flatMap { a =>
      scala.util.Try(a.toString.toDouble).toOption match {
        case Some(v) if v >= 0.0 && v <= 1.0 => Nil
        case Some(v) => Seq(InvalidConfigError("alpha",
          s"dense weight must be in [0, 1]: $v"))
        case None => Seq(InvalidConfigError("alpha",
          s"not a number: $a"))
      }
    }
    // the legs' own lint rules (e.g. bm25-search's prf-on-fielded
    // refusal) apply to hybrid recipes at lint time too, not first at
    // run — delegate with the hybrid keys mapped onto each leg's config
    val legLint =
      if (config.contains("bm25_index_path") &&
          config.contains("ann_index_path") && config.contains("queries_path"))
        Bm25SearchExtractor.validate(legless(config) ++ Map(
          "index_path" -> config("bm25_index_path").toString,
          "queries_path" -> config("queries_path").toString)) ++
        AnnSearchExtractor.validate(legless(config) ++ Map(
          "index_path" -> config("ann_index_path").toString,
          "queries_path" -> config("queries_path").toString))
      else Nil
    requireKeys(config, "bm25_index_path", "ann_index_path",
      "queries_path") ++ badFusion ++ crossed ++ badAlpha ++ legLint
  }

  // hybrid-only keys stripped before delegating to a leg's validate, so
  // a leg never mistakes fusion config for one of its own knobs
  private def legless(config: Map[String, Any]): Map[String, Any] =
    config -- Seq("bm25_index_path", "ann_index_path", "fusion", "alpha",
      "rrf_k0", "leg_top_k", "top_k", "id_column", "ann_id_column")

  private def passthrough(config: Map[String, Any],
                          keys: String*): Map[String, Any] =
    keys.flatMap(k => config.get(k).map(k -> _)).toMap

  def extract(spark: SparkSession, config: Map[String, Any]): DataFrame = {
    import graft.operators.Retrieval
    val queries = SearchConfig.readQueries(spark, config)
    val qid = config.getOrElse("query_id_column", "q_id").toString
    val vecCol = config.getOrElse("vector_column", "embedding").toString
    val idCol = config.getOrElse("id_column", "doc_id").toString
    // the ivf store's own id column name — the dense leg's query frame is
    // renamed to it so one query table serves both legs unchanged;
    // defaults from the store's own _graft_ids sidecar record
    val annIdc = config.get("ann_id_column").map(_.toString)
      .getOrElse(graft.operators.Similarity.storeIdColumnAt(spark,
        config("ann_index_path").toString).getOrElse("vec_id"))
    val legK = SearchConfig.int(config, "leg_top_k", 10)
    val topK = SearchConfig.int(config, "top_k", 10)
    val bm = Bm25SearchExtractor.serve(spark,
        passthrough(config, "k1", "b", "prf", "fb_docs", "fb_terms",
          "fielded", "w_title", "w_body") ++ Map(
          "index_path" -> config("bm25_index_path").toString,
          "queries_path" -> config("queries_path").toString,
          "query_id_column" -> qid,
          "query_text_column" ->
            config.getOrElse("query_text_column", "text").toString,
          "id_column" -> idCol, "top_k" -> legK.toString), queries)
    val dense = AnnSearchExtractor.serve(spark,
        passthrough(config, "nprobe", "nprobe_top", "exclude_self",
          "filter", "rerank_store_path", "shortlist") ++ Map(
          "index_path" -> config("ann_index_path").toString,
          "queries_path" -> config("queries_path").toString,
          "id_column" -> annIdc, "vector_column" -> vecCol,
          "top_k" -> legK.toString),
        queries.select(col(qid).as(annIdc), col(vecCol)))
    config.getOrElse("fusion", "rrf").toString match {
      case "rrf" =>
        Retrieval.rrfFuse(Seq(
            bm.select(col("q_id"), col("rnk"), col(idCol)),
            dense.select(col("q_id"), col("rank").as("rnk"),
              col("c_id").as(idCol))), idCol,
          k0 = SearchConfig.int(config, "rrf_k0", 60), topK = topK)
      case "linear" =>
        Retrieval.linearFuse(
          bm.select(col("q_id"), col(idCol), col("score")),
          dense.select(col("q_id"), col("c_id").as(idCol),
            col("sim").as("score")), idCol,
          alpha = SearchConfig.dbl(config, "alpha", 0.5), topK = topK)
      case other => throw new ConfigException(Seq(InvalidConfigError(
        "fusion", s"unknown fusion mode '$other' — rrf or linear")))
    }
  }
}
