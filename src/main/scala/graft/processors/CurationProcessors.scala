package graft.processors

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Layout, TextAnalysis}
import graft.plugins._

/** Data-plane curation processors: the LLM-training-data operators exposed
  * on the RECIPE surface, so a YAML pipeline can run
  * `documents → quality-filter → pii-scrub → dedup-gate → file` the same
  * way the reference runs `source → enrich → sink`
  * (reference processor SPI: plugins/plugin.go:49-52; its only built-in
  * processor is enrich, plugins/processors/populate.go:4 — these are
  * project additions on the same contract).
  *
  * Every processor is schema-preserving (same columns out as in, minus
  * dropped rows / scrubbed text), so they chain in any order — except
  * `chunk`, which is documented GRAIN-CHANGING (doc rows in, chunk rows
  * out) and therefore belongs at the end of a chain, after the gates.
  * All compute is map-side or one bounded shuffle (the dedup gate's
  * per-fingerprint window), never a collect.
  */
object CurationProcessors {

  private[processors] def textCol(config: Map[String, Any]): String =
    config.getOrElse("text_column", "text").toString

  private def dbl(config: Map[String, Any], key: String, default: Double): Double =
    config.get(key).map(_.toString.toDouble).getOrElse(default)

  /** quality-filter: keep rows passing the token-statistics thresholds —
    * the [[TextAnalysis.tokenStats]] fused kernel computes all four
    * quality columns in one pass; helper columns are dropped so the
    * schema survives. Defaults mirror the graded `d_quality_filter` gate.
    */
  object QualityFilter extends Processor {
    val info: PluginInfo = PluginInfo("quality-filter",
      "Drop rows failing token-count / stopword / punctuation / token-length quality thresholds",
      sampleConfig =
        """text_column: text
          |min_tokens: 25
          |max_stopword_ratio: 0.1
          |max_punct_ratio: 0.2
          |min_mean_token_len: 2.0
          |max_mean_token_len: 12.0""".stripMargin,
      tags = Seq("processor", "curation"))

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val tc = textCol(config)
      val minTok = dbl(config, "min_tokens", 25)
      val maxTok = dbl(config, "max_tokens", Double.MaxValue)
      val minStop = dbl(config, "min_stopword_ratio", 0.0)
      val maxStop = dbl(config, "max_stopword_ratio", 0.1)
      val maxPunct = dbl(config, "max_punct_ratio", 0.2)
      val minLen = dbl(config, "min_mean_token_len", 2.0)
      val maxLen = dbl(config, "max_mean_token_len", 12.0)
      val withTs = df.withColumn("__ts", TextAnalysis.tokenStats(col(tc)))
      val cols = TextAnalysis.qualityColumnsFromStats(col(tc), col("__ts")).toMap
      withTs
        .filter(cols("n_tokens").between(minTok, maxTok) &&
          cols("stopword_ratio").between(minStop, maxStop) &&
          cols("punct_ratio") <= maxPunct &&
          cols("mean_token_len").between(minLen, maxLen))
        .drop("__ts")
    }
  }

  /** pii-scrub: rewrite the text column through the
    * [[TextAnalysis.scrubPii]] masking chain (emails, URLs, long digit
    * runs) — map-side regexp_replace stack, schema unchanged.
    */
  object PiiScrub extends Processor {
    val info: PluginInfo = PluginInfo("pii-scrub",
      "Mask emails, URLs and long digit runs in the text column",
      sampleConfig = "text_column: text",
      tags = Seq("processor", "curation"))

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val tc = textCol(config)
      df.withColumn(tc, TextAnalysis.scrubPii(col(tc)))
    }
  }

  /** lang-filter: keep rows whose marker-token language prediction (the
    * `d_lang_predict` argmax, deterministic tie-break on language code,
    * zero-score → "und") is in the allowed set. Map-side; schema
    * unchanged.
    */
  object LangFilter extends Processor {
    val info: PluginInfo = PluginInfo("lang-filter",
      "Keep rows whose predicted language is in the allowed set",
      sampleConfig =
        """text_column: text
          |allowed: [en, de]""".stripMargin,
      tags = Seq("processor", "curation"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "allowed")

    private[processors] def allowedSet(config: Map[String, Any]): Seq[String] =
      config.getOrElse("allowed", "") match {
        case l: java.util.List[_] =>
          scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
            .map(_.toString.trim).filter(_.nonEmpty).toSeq
        // the recipe reader converts YAML sequences to SCALA collections —
        // falling through to toString would quietly produce the unmatched
        // literal "List(en, de)" and the filter would drop EVERY row (a
        // latent bug the nb-filter e2e caught)
        case l: Iterable[_] =>
          l.map(_.toString.trim).filter(_.nonEmpty).toSeq
        case s => s.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val tc = textCol(config)
      val allowed = allowedSet(config)
      val ts = TextAnalysis.tokenStats(col(tc))
      val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
      val scores = TextAnalysis.langScoresFromStats(col("__ts")).toMap
      val best = langs.map(l => struct(scores(l).as("score"), lit(l).as("lang")))
        .reduce((a, b) =>
          when(b.getField("score") > a.getField("score"), b).otherwise(a))
      df.withColumn("__ts", ts)
        .withColumn("__lang",
          when(best.getField("score") > 0, best.getField("lang"))
            .otherwise(lit("und")))
        .filter(col("__lang").isInCollection(allowed))
        .drop("__ts", "__lang")
    }
  }

  /** dedup-gate: the stored-fingerprint exact-dedup ingest gate. Drops
    * rows whose canonical fingerprint already exists in the parquet index
    * at `index_path` (anti-join on the map-side fingerprint — the corpus
    * itself is never rescanned), drops in-batch duplicates (keep lowest
    * id), and by default APPENDS the survivors' fingerprints so the next
    * batch gates against them. Survivors are materialized (localCheckpoint)
    * before the append, so the returned frame cannot re-gate against its
    * own newly-written fingerprints.
    *
    * Concurrency contract: the index is SINGLE-WRITER. The gate is a
    * read-then-append (no atomic check-and-insert exists on a parquet
    * directory), so two agents appending to the same `index_path`
    * concurrently can both admit the same fingerprint — run one ingest
    * recipe per index, the same way the reference runs one agent per
    * recipe. Readers are safe at any point: parquet appends are
    * task-committed files, and the gate only ever widens.
    *
    * Fingerprint version: the canonical form NFC-composes as of fpv=nfc
    * ([[graft.functions.CanonicalizeKernel]]), so canonically-equivalent
    * spellings ("café" NFC vs NFD) now share one digest. An index whose
    * fingerprints were written by a PRE-NFC build holds digests of
    * un-composed text — rebuild it (re-run the ingest from the source
    * corpus) before gating new batches against it; mixing the two
    * generations silently re-admits previously-gated decomposed docs.
    */
  object DedupGate extends Processor {
    val info: PluginInfo = PluginInfo("dedup-gate",
      "Drop rows whose text fingerprint exists in the stored index; append survivors' fingerprints",
      sampleConfig =
        """index_path: /indexes/fp
          |id_column: doc_id
          |text_column: text
          |update_index: true""".stripMargin,
      tags = Seq("processor", "curation"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "index_path")

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val spark = df.sparkSession
      val tc = textCol(config)
      val idc = config.getOrElse("id_column", "doc_id").toString
      val path = config("index_path").toString
      val update = config.getOrElse("update_index", true).toString.toBoolean
      val withFp = df.withColumn("__fp", TextAnalysis.fingerprint(col(tc)))
      val gated =
        if (Layout.indexExists(spark, path))
          withFp.join(spark.read.schema("fp STRING").parquet(path)
            .select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
        else withFp
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__fp")).orderBy(col(idc))
      val survivors = gated
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__rn")
        .localCheckpoint()
      if (update)
        Layout.writer(survivors.select(col("__fp").as("fp")))
          .mode("append").parquet(path)
      survivors.drop("__fp")
    }
  }

  /** chunk: explode each surviving doc into overlapping token-window
    * chunk rows ([[TextAnalysis.slidingChunks]]) — the RAG front end on
    * the recipe surface, so `documents → quality-filter → chunk → file`
    * emits an embed-ready chunk table. GRAIN-CHANGING by contract (the
    * one processor that is): output schema is (id, chunk_id, tok_start,
    * n_tokens, chunk_text); run it after the per-doc gates. Entirely
    * map-side, stateless per row — streaming-safe like its operator.
    */
  object Chunk extends Processor {
    val info: PluginInfo = PluginInfo("chunk",
      "Explode docs into overlapping token-window chunk rows (grain-changing; run after gates)",
      sampleConfig =
        """id_column: doc_id
          |text_column: text
          |size: 128
          |stride: 64""".stripMargin,
      tags = Seq("processor", "curation"))

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val tc = textCol(config)
      val idc = config.getOrElse("id_column", "doc_id").toString
      val size = config.getOrElse("size", 128).toString.toInt
      val stride = config.getOrElse("stride", 64).toString.toInt
      TextAnalysis.slidingChunks(df, idc, tc, size, stride)
    }
  }

  /** normalize: Unicode NFC composition of the text column — the cleanup
    * step that belongs FIRST in a curation chain, so every downstream
    * token/shingle/fingerprint operator sees one spelling per logical
    * string. The exact-dedup fingerprint already NFC-composes internally
    * (fpv=nfc, [[graft.functions.CanonicalizeKernel]]); running this
    * processor additionally aligns the SHINGLE/MinHash path ("café" NFC
    * vs NFD shingle to different 64-bit hashes, so un-normalized
    * decomposed near-dups can slip the [[NearDupGate]] banding) and the
    * persisted text itself. Map-side codegen'd expression, ASCII rows
    * allocation-free, schema-preserving, streaming-safe.
    */
  object Normalize extends Processor {
    val info: PluginInfo = PluginInfo("normalize",
      "Unicode NFC-compose the text column (run before gates so all spellings align)",
      sampleConfig = """text_column: text""",
      tags = Seq("processor", "curation"))

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val tc = textCol(config)
      df.withColumn(tc, graft.functions.NormalizeNfc(col(tc)))
    }
  }

  /** semdedup-gate: the EMBEDDING-space near-duplicate ingest gate — the
    * vector sibling of [[NearDupGate]] (SemDeDup at ingest): a batch row
    * is dropped iff its nearest stored vector's cosine similarity
    * reaches `threshold` — compared on the TRUE cosine, and with
    * self-exclusion OFF, so a re-delivered row that kept its stored id
    * still collides with its own stored copy (the same-id re-delivery
    * NearDupGate also gates). The index is an ivf-index sink layout
    * (the centroid-partitioned store WITH its persisted codebook), so
    * the probe is the stored-ANN query: one kernel pass assigns each
    * batch vector its probe centroids and only probed-directory
    * candidates reach the cosine — the corpus is never re-scanned or
    * re-assigned. The batch side is NOT broadcast-hinted (an ingest
    * batch is unbounded): the probe join plans as a shuffle equi-join,
    * which AQE turns back into a broadcast (with directory pruning)
    * whenever the batch is actually small.
    *
    * Contracts mirrored from [[NearDupGate]]: decisions depend ONLY on
    * the static index, never on other rows of the same batch (in-batch
    * near-duplicates all survive — batch-split invariance); a missing
    * index passes everything. The gate READS the index and never writes
    * it — chain the `ivf-index` sink after it, which appends exactly the
    * survivors and maintains the codebook (the processor→sink order
    * within one recipe run keeps the single-writer contract: the batch
    * gates against history, not against itself).
    *
    * Approximation floor (inherited from IVF probing, same as the graded
    * semdedup row): a near-duplicate whose nearest neighbor lives
    * OUTSIDE the probed centroids is missed — raise `nprobe` (and
    * `nprobe_top` on two-level stores) to trade scan for recall; the
    * recall gate on the auto codebook bounds this at the defaults.
    */
  object SemDedupGate extends Processor {
    val info: PluginInfo = PluginInfo("semdedup-gate",
      "Drop rows whose embedding near-duplicates the stored vector index (cosine >= threshold)",
      sampleConfig =
        """index_path: /indexes/ivf
          |id_column: vec_id
          |vector_column: embedding
          |threshold: 0.99
          |nprobe: 3
          |# nprobe_top: 2  # two-level stores: tops probed per query""".stripMargin,
      tags = Seq("processor", "curation", "similarity"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "index_path")

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      import graft.operators.Similarity
      val spark = df.sparkSession
      val path = config("index_path").toString
      val idc = config.getOrElse("id_column", "vec_id").toString
      val vc = config.getOrElse("vector_column", "embedding").toString
      val threshold = config.getOrElse("threshold", 0.99).toString.toDouble
      val nprobe = config.getOrElse("nprobe", 3).toString.toInt
      val nprobeTop = config.getOrElse("nprobe_top", 2).toString.toInt
      if (!Layout.indexExists(spark, s"$path/_graft_codebook")) return df
      val store = spark.read.parquet(path)
      // nearest STORED neighbor per batch row (k=1 — the max cosine is
      // what the threshold tests), probed with the persisted geometry
      // read ONCE and dispatched on its stored kind. Gate-specific
      // probe knobs: excludeSelf=false so a re-delivered row that KEPT
      // its stored id still sees its own stored copy (the self-exclusion
      // default serves self-kNN, where every query IS in the store);
      // broadcastQueries=false so an unbounded ingest batch plans as a
      // shuffle equi-join instead of hitting the broadcast size wall
      // (AQE still broadcasts small batches); roundSim=false so the
      // threshold compares the TRUE cosine, not the 4-decimal display
      // rounding (a 0.99995 threshold must not quantize to 1.0)
      val nn = Similarity.readAnyCodebookAt(spark, path) match {
        case Right(cb) =>
          Similarity.ivfTopKStoredTwoLevel(store, df, idc, vc, k = 1, cb,
            nprobeTop = nprobeTop, nprobe = nprobe, excludeSelf = false,
            broadcastQueries = false, roundSim = false)
        case Left(coarse) =>
          Similarity.ivfTopKStored(store, df, idc, vc, k = 1, coarse,
            nprobe = nprobe, excludeSelf = false,
            broadcastQueries = false, roundSim = false)
      }
      val dropIds = nn.filter(col("sim") >= threshold)
        .select(col("q_id").as(idc))
      df.join(dropIds, Seq(idc), "left_anti")
    }
  }

  /** neardup-gate: the stored-LSH NEAR-duplicate ingest gate — the fuzzy
    * sibling of [[DedupGate]], wrapping [[Dedup.lshIngest]] on the recipe
    * surface. A row is dropped iff ANY of its minhash-LSH band keys
    * collides with the stored band index at `index_path` (one semi-join
    * of batch bands against the index, then an anti-join back — no pair
    * expansion); by default survivors APPEND their bands so the next
    * batch gates against them too.
    *
    * Batch-split invariance is the contract inherited from `lshIngest`:
    * decisions depend ONLY on the static index, never on other rows of
    * the same batch — so in-batch near-duplicates all survive (and all
    * index). Chain `dedup-gate` first for exact in-batch copies; a batch
    * that must also self-near-dedup is a different operator
    * ([[Dedup.minhashLsh]]) with a different (non-incremental) contract.
    *
    * Scale shape: only the BATCH is shingled/signed, once — its band
    * keys ride each row of the checkpointed batch
    * ([[Dedup.withPortableBandKeys]]), gate it, and on the survivors are
    * what the index appends; the index side is a
    * stored parquet band table (bucketable by band_hash — the
    * [[Dedup.lshIngest]] store contract) consumed by one semi-join. The
    * corpus is never re-signed. Same single-writer index contract as
    * [[DedupGate]].
    *
    * Coverage floor (inherited from `portableMinhash`): docs with fewer
    * than 3 tokens produce NO shingles, hence no bands — they always
    * pass the gate AND are never indexed, so short near-duplicates
    * bypass it permanently. Chain a min-token `quality-filter` before
    * this gate (as the sample curation recipe does) if sub-3-token rows
    * can reach it; exact short copies are still caught by a preceding
    * `dedup-gate`.
    */
  object NearDupGate extends Processor {
    val info: PluginInfo = PluginInfo("neardup-gate",
      "Drop rows near-duplicating the stored LSH band index; append survivors' bands",
      sampleConfig =
        """index_path: /indexes/lsh
          |id_column: doc_id
          |text_column: text
          |k: 8
          |bands: 4
          |update_index: true""".stripMargin,
      tags = Seq("processor", "curation"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "index_path")

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val spark = df.sparkSession
      val tc = textCol(config)
      val idc = config.getOrElse("id_column", "doc_id").toString
      val path = config("index_path").toString
      val k = config.getOrElse("k", 8).toString.toInt
      val nBands = config.getOrElse("bands", 4).toString.toInt
      val update = config.getOrElse("update_index", true).toString.toBoolean
      val indexed = Layout.indexExists(spark, path)
      if (!indexed && !update) return df
      // the batch is signed ONCE: each row carries its band keys, which
      // gate it and, on the survivors, are exactly the rows appended (a
      // doc's bands depend only on its own text)
      val signed = Dedup.withPortableBandKeys(df, tc, k, nBands, "__bands")
        .localCheckpoint()
      def bandRows(rows: DataFrame): DataFrame =
        rows.select(col(idc).as("id"),
          posexplode(col("__bands")).as(Seq("band_id", "band_hash")))
      // materialize before the append so the returned frame cannot
      // re-gate against its own newly-written bands
      val survivors =
        if (indexed)
          // the two join columns with their known types (band_id is
          // posexplode's int, band_hash an md5 string): no inference job
          Dedup.lshSurvivors(signed, bandRows(signed),
            spark.read.schema("band_id INT, band_hash STRING").parquet(path),
            idc).localCheckpoint()
        else signed
      if (update)
        Layout.writer(bandRows(survivors)).mode("append").parquet(path)
      survivors.drop("__bands")
    }
  }

  /** nb-filter: the TRAINED-classifier filter — the fastText/CCNet
    * pattern where one trained model gates many corpus drops, here the
    * stored NB model ([[graft.operators.Classify]]): each row scores
    * against the frozen integer weights (one batch scan + two broadcast
    * weight tables — the train split never re-reads) and survives iff
    * its argmax label is in `allowed`. Optionally annotates the
    * prediction instead of/next to filtering (`label_as`). Unlike the
    * ingest gates, a MISSING model is a loud error, never a pass-through
    * — a filter cannot train itself, and silently admitting everything
    * is exactly the failure a gated pipeline must not have. Train/extend
    * /unlearn the model with the `nb-index` sink.
    */
  object NbFilter extends Processor {
    val info: PluginInfo = PluginInfo("nb-filter",
      "Keep rows whose stored-NB-model predicted label is in the allowed set (trained classifier filter)",
      sampleConfig =
        """index_path: /models/nb
          |id_column: doc_id
          |text_column: text
          |allowed: [en, de]
          |# label_as: pred_lang   # also attach the prediction column""".stripMargin,
      tags = Seq("processor", "curation"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "index_path", "allowed")

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val spark = df.sparkSession
      val path = config("index_path").toString
      val tc = textCol(config)
      val idc = config.getOrElse("id_column", "doc_id").toString
      val allowed = LangFilter.allowedSet(config)
      require(Layout.indexExists(spark, s"$path/base"),
        s"$path holds no trained NB model (no base/_SUCCESS) — a " +
          "classifier filter cannot pass rows unscored; train one first " +
          "(nb-index sink) or point index_path at an existing model.")
      val (model, base) = graft.operators.Classify.readNbStore(spark, path)
      // internal name: an input frame may legitimately carry 'pred'
      // already — joining a duplicate name would make the filter column
      // ambiguous and fail valid recipes
      val pred = graft.operators.Classify
        .nbPredict(df, model, base, idc, tc)
        .select(col(idc), col("pred").as("__nb_pred"))
      val kept = df.join(pred, Seq(idc))
        .filter(col("__nb_pred").isInCollection(allowed))
      config.get("label_as").map(_.toString) match {
        case Some(name) =>
          // a rename onto an existing input column would leave TWO
          // columns with that name — every downstream reference turns
          // ambiguous. Refuse here (the pred-collision guard above only
          // covers the internal join name).
          require(!df.columns.contains(name),
            s"nb-filter: label_as '$name' collides with an input column " +
              "of the same name — pick a fresh name or drop/rename the " +
              "input column upstream.")
          kept.withColumnRenamed("__nb_pred", name)
        case None => kept.drop("__nb_pred")
      }
    }
  }

  /** winnow-gate: the span-reuse (plagiarism) ingest gate on the recipe
    * surface — [[Dedup.winnowIngest]] against the ERASABLE refcounted
    * winnow store. A row is dropped iff it shares >= `min_shared`
    * selected fingerprints with stored content (the winnowing guarantee:
    * any copied run of w+k-1 tokens surfaces at least one shared
    * fingerprint); by default survivors MERGE their fingerprints in
    * (refcount adds + attribution-sidecar appends via
    * [[Dedup.mergeWinnowStoreAt]]), so later batches gate against them
    * and a GDPR tombstone batch (`winnow-index` sink, mode: forget) can
    * decrement them back out. A missing store initializes from the
    * first batch's survivors. Batch-split invariant (decisions depend
    * only on the static index); single-writer per index like every gate.
    */
  object WinnowGate extends Processor {
    val info: PluginInfo = PluginInfo("winnow-gate",
      "Drop rows whose winnowed span fingerprints match the stored index (plagiarism gate); merge survivors' fingerprints in",
      sampleConfig =
        """index_path: /indexes/winnow
          |id_column: doc_id
          |text_column: text
          |k: 4
          |w: 4
          |min_shared: 2
          |update_index: true""".stripMargin,
      tags = Seq("processor", "curation"))

    override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
      requireKeys(config, "index_path")

    def process(df: DataFrame, config: Map[String, Any]): DataFrame = {
      val spark = df.sparkSession
      val tc = textCol(config)
      val idc = config.getOrElse("id_column", "doc_id").toString
      val path = config("index_path").toString
      val k = config.getOrElse("k", 4).toString.toInt
      val w = config.getOrElse("w", 4).toString.toInt
      val minShared = config.getOrElse("min_shared", 2).toString.toInt
      val update = config.getOrElse("update_index", true).toString.toBoolean
      val survivorIds =
        if (Dedup.winnowStoreExistsAt(spark, path)) {
          // a k/w mismatch at QUERY time is as silent as at merge time
          // (wrong-geometry fingerprints match nothing — every
          // plagiarist passes) — refuse loudly against the frozen config
          Dedup.requireWinnowLayout(spark, path, k, w)
          Dedup.winnowIngest(df, Dedup.readWinnowStoreFps(spark, path),
            idc, tc, k, w, minShared)
        } else df.select(col(idc))
      // semi-join the verdicts back so all columns flow on; materialize
      // before the merge so the returned frame cannot re-gate against
      // its own newly-written fingerprints
      val survivors = df.join(survivorIds, Seq(idc), "left_semi")
        .localCheckpoint()
      if (update)
        Dedup.mergeWinnowStoreAt(spark, path, survivors, idc, tc, k, w)
      survivors
    }
  }
}

/** documents: data-plane parquet source — emits the file's rows verbatim
  * (optionally column-pruned), the input of a curation recipe. Unlike the
  * `parquet` extractor (one Table ASSET row describing the file), this is
  * the data itself.
  */
object DocumentsExtractor extends Extractor {
  val info: PluginInfo = PluginInfo("documents",
    "Read raw data rows from parquet (the data-plane source for curation recipes)",
    sampleConfig =
      """path: /data/documents.parquet
        |columns: doc_id, text""".stripMargin,
    tags = Seq("file", "extractor", "curation"))

  override def validate(config: Map[String, Any]): Seq[InvalidConfigError] =
    requireKeys(config, "path")

  def extract(spark: SparkSession, config: Map[String, Any]): DataFrame = {
    val df = spark.read.parquet(config("path").toString)
    config.get("columns") match {
      case Some(l: java.util.List[_]) =>
        df.select(scala.jdk.CollectionConverters.ListHasAsScala(l).asScala
          .map(c => col(c.toString.trim)).toSeq: _*)
      case Some(s) =>
        df.select(s.toString.split(",").map(c => col(c.trim)).toIndexedSeq: _*)
      case None => df
    }
  }
}
