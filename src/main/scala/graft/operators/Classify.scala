package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trained text classification — the fastText/CCNet-style linear classifier
  * stage of a large-scale training-data pipeline, here as a multinomial
  * Naive Bayes with Laplace smoothing trained distributed and applied
  * distributed.
  *
  * All model weights are FIXED-POINT INTEGERS: each log-probability is
  * rounded once, pointwise, to `round(1e6 * ln(...))` as a BIGINT, and every
  * downstream doc score is an integer SUM of integer terms. Floating point
  * never crosses an aggregation boundary, so scores are bit-exact and
  * order-independent — the same contract as the gopher/familiarity kernels,
  * which makes the whole train → predict pipeline oracle-checkable in SQL.
  *
  * Scoring identity (per doc d, class c, vocab size V, class token mass
  * tok_c, class term count cnt_tc, class doc count nd_c over N train docs):
  *
  *   score(d,c) = P_c + n_d * D_c + Σ_{t ∈ d ∩ model_c} tf_t * W_tc
  *
  * where P_c  = round(S*ln(nd_c / N))            (class prior)
  *       D_c  = round(S*ln(1 / (tok_c + V)))     (unseen-term weight)
  *       L_tc = round(S*ln((cnt_tc+1)/(tok_c+V)))
  *       W_tc = L_tc - D_c                        (seen-term lift, >= 0)
  *
  * The rewrite via D_c means unseen terms never need a join row: the inner
  * join against the model only carries terms the class has seen, and the
  * `n_d * D_c` correction is a scalar per (doc, class).
  *
  * Scale: term counts are one explode + partially-aggregated groupBy (the
  * tf-idf shape); the finished model is |V|x|classes| rows — small enough to
  * broadcast at any corpus size (the vocab saturates) — so prediction
  * shuffles only the (doc, term) tf stream, never the corpus text.
  */
object Classify {

  private val S = 1e6

  /** The (label, term, cnt) exact term counts everything else derives
    * from — shared by training and unlearning so both sides are the same
    * integers through the same expressions by construction. */
  private def termCounts(docs: DataFrame, textCol: String,
                         labelCol: String): DataFrame =
    docs.select(col(labelCol).as("label"),
        explode(TextAnalysis.tokens(lower(trim(col(textCol))))).as("term"))
      .groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("cnt"))

  /** The model table as a pure function of the count table: weights are
    * deterministic rounded functions of exact integers (cnt, tok = Σcnt
    * per class, v = |distinct terms|), so ANY count table with the same
    * integers yields bit-identical weights — the fact NB unlearning
    * ([[forgetNbStoreAt]]) rests on. */
  private[operators] def modelFromCounts(cnt: DataFrame): DataFrame = {
    val tok = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("tok"))
    val v = cnt.agg(countDistinct(col("term")).as("v"))
    val llr = round(lit(S) *
      log((col("cnt") + lit(1.0)) / (col("tok") + col("v")).cast("double")))
      .cast("bigint")
    val dw = round(lit(S) *
      log(lit(1.0) / (col("tok") + col("v")).cast("double"))).cast("bigint")
    cnt.join(tok, "label").crossJoin(broadcast(v))
      .withColumn("llr", llr)
      .withColumn("w", llr - dw)
      .select(col("label"), col("term"), col("cnt"), col("llr"), col("w"))
  }

  /** The per-class scalars as a pure function of (counts, class doc
    * counts): tok/v derive from the count table exactly as training
    * derives them from the token stream (Σcnt per class ≡ token count;
    * distinct terms identical), n = Σnd. Labels whose surviving docs
    * carry zero tokens drop via the inner join — matching what a retrain
    * would produce. */
  private[operators] def baseFromCounts(cnt: DataFrame, nd: DataFrame): DataFrame = {
    val tok = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("tok"))
    val v = cnt.agg(countDistinct(col("term")).as("v"))
    val n = nd.agg(sum(col("nd")).as("n"))
    nd.join(tok, "label").crossJoin(broadcast(v)).crossJoin(broadcast(n))
      .select(col("label"), col("nd"),
        round(lit(S) * log(col("nd").cast("double") / col("n")))
          .cast("bigint").as("prior"),
        round(lit(S) * log(lit(1.0) / (col("tok") + col("v")).cast("double")))
          .cast("bigint").as("def_w"))
  }

  /** Per-(class, term) integer weights: label, term, llr (absolute
    * log-prob), w (lift over the unseen-term weight). Derived counts ride
    * along for audit: cnt (term count in class), tok (class token mass).
    */
  def nbModel(train: DataFrame, textCol: String, labelCol: String): DataFrame =
    modelFromCounts(termCounts(train, textCol, labelCol))

  /** Per-class scalars: label, prior P_c, unseen-term weight D_c (both
    * fixed-point BIGINT), plus nd (train docs in class). Derives through
    * [[baseFromCounts]] so inline training and stored unlearning share
    * the scalar expressions verbatim (n = Σnd ≡ |train| — every train
    * doc carries a label).
    */
  def nbClassBase(train: DataFrame, idCol: String, textCol: String,
                  labelCol: String): DataFrame =
    baseFromCounts(termCounts(train, textCol, labelCol),
      train.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nd")))

  /** DEFAULT id-hash directory modulus of the membership sidecar. A code
    * constant at build time, but every store FREEZES the count it was
    * built with inside `_graft_layout` and every mutation reads it back
    * (the [[graft.operators.Retrieval]] persisted-buckets discipline):
    * a mutation recomputing dbucket under a CHANGED constant would probe
    * the wrong sidecar directories of every existing store — tombstoned
    * members would read as absent, and the forget would silently no-op
    * while the model still carries their counts. */
  private val NbDocBuckets = 16

  /** The NB store's frozen sidecar modulus, read back from
    * `_graft_layout`. Stores written before the record existed fall back
    * to the code default they were necessarily built under —
    * documented-weaker: they adopt the record on their next rebuild. */
  def nbLayoutAt(spark: SparkSession, path: String): Int =
    Layout.readRecord(spark, s"$path/_graft_layout", "dbuckets INT")
      .fold(NbDocBuckets)(_.getInt(0))

  /** Write-once trained model: `path/model` ((label, term) integer
    * weights — tiny: |V|·|classes| rows regardless of corpus size),
    * `path/docs` (the trained-doc MEMBERSHIP sidecar — one id per train
    * doc, id-hash-bucketed: what makes unlearning exact for ids never
    * trained on and idempotent across re-runs), and `path/base`
    * (per-class scalars, written LAST — its _SUCCESS is the commit
    * signal). Training (two tokenize aggregates over the train split) is
    * paid once at ingest; every later prediction reads ONLY the frozen
    * weights — the model-registry pattern for the 100 TB pipeline, where
    * one trained classifier filters many corpus drops.
    */
  def writeNbStore(train: DataFrame, idCol: String, textCol: String,
                   labelCol: String, path: String,
                   docBuckets: Int = NbDocBuckets): Unit = {
    val spark = train.sparkSession
    Layout.writer(nbModel(train, textCol, labelCol).coalesce(4))
      .mode("overwrite").parquet(s"$path/model")
    Layout.writer(train.select(col(idCol))
        .withColumn("dbucket",
          pmod(xxhash64(col(idCol)), lit(docBuckets)).cast("int"))
        .repartition(2, col("dbucket"))
        .sortWithinPartitions(col("dbucket"), col(idCol)))
      .mode("overwrite").partitionBy("dbucket").parquet(s"$path/docs")
    // freeze the sidecar modulus INSIDE the store, before the commit
    // signal — mutations read it back instead of trusting the constant
    import spark.implicits._
    Layout.writeRecord(Seq(docBuckets).toDF("dbuckets"),
      s"$path/_graft_layout")
    Layout.writer(nbClassBase(train, idCol, textCol, labelCol).coalesce(1))
      .mode("overwrite").parquet(s"$path/base")
  }

  /** (model, base) handles onto a written store — feed to [[nbPredict]];
    * identical integer weights make stored prediction row-identical to
    * training inline (pinned in ClassifySpec).
    */
  def readNbStore(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (spark.read.parquet(s"$path/model"), spark.read.parquet(s"$path/base"))

  /** Fold a batch of NEW labeled docs into a written NB model — the
    * ingest half of [[forgetNbStoreAt]], and exact for the same reason:
    * every weight is a rounded function of exact integer counts, and
    * counts ADD — merging the batch's (label, term) counts and per-class
    * doc counts then re-deriving through the shared
    * [[modelFromCounts]]/[[baseFromCounts]] expressions is bit-identical
    * to retraining on the union (merged ≡ retrain, spec-pinned and
    * graded by the retrain oracle). Builds the store when `path` is
    * empty. Same arriving-batch contract as every incremental gate (ids
    * DISJOINT from the store — the membership sidecar records them, so
    * unlearning and idempotence keep working); staged single-writer
    * marker; base replaced LAST (commit signal).
    */
  def mergeNbStoreAt(spark: SparkSession, path: String, batch: DataFrame,
                     idCol: String, textCol: String,
                     labelCol: String): Unit = {
    // refuse BEFORE the build-vs-merge dispatch: a crashed mutation can
    // have destroyed the very base/_SUCCESS this dispatch keys on, and
    // the build branch would then static-overwrite away the accumulated
    // model with one batch — the exact failure the marker exists to stop
    Layout.refuseIfPending(spark, path)
    if (!Layout.exists(spark, s"$path/base/_SUCCESS")) {
      writeNbStore(batch, idCol, textCol, labelCol, path)
      return
    }
    // a committed model with NO membership sidecar predates the erasure
    // protocol: merging onto it would CREATE a partial sidecar holding
    // only this batch's ids, and a later forget would silently no-op on
    // every historical train doc while the model still carries its
    // counts — a silent unlearning miss. Refuse with a rebuild
    // instruction instead (the requireErasableLayout posture).
    require(Layout.exists(spark, s"$path/docs/_SUCCESS"),
      s"$path holds a trained NB model but no membership sidecar " +
        "(docs/_SUCCESS) — it predates the erasure protocol, and a merge " +
        "would leave historical train docs silently unforgettable. " +
        "Rebuild the store from its full training corpus first.")
    Layout.withPendingMarkerStaged(spark, path)({
      val model = spark.read.parquet(s"$path/model")
      val tAdd = termCounts(batch, textCol, labelCol)
        .withColumnRenamed("cnt", "__add")
      val newCnt = model.select(col("label"), col("term"), col("cnt"))
        .join(tAdd, Seq("label", "term"), "full_outer")
        .select(col("label"), col("term"),
          (coalesce(col("cnt"), lit(0L)) + coalesce(col("__add"), lit(0L)))
            .as("cnt")).localCheckpoint()
      val ndAdd = batch.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("__ndadd"))
      val newNd = spark.read.parquet(s"$path/base")
        .select(col("label"), col("nd"))
        .join(ndAdd, Seq("label"), "full_outer")
        .select(col("label"),
          (coalesce(col("nd"), lit(0L)) + coalesce(col("__ndadd"), lit(0L)))
            .as("nd"))
      val newModel = modelFromCounts(newCnt).localCheckpoint()
      val newBase = baseFromCounts(newCnt, newNd).localCheckpoint()
      val sideAdd = batch.select(col(idCol))
        .withColumn("dbucket",
          pmod(xxhash64(col(idCol)), lit(nbLayoutAt(spark, path)))
            .cast("int"))
        .repartition(2, col("dbucket"))
        .sortWithinPartitions(col("dbucket"), col(idCol))
        .localCheckpoint()
      (newModel, newBase, sideAdd)
    }) { case (newModel, newBase, sideAdd) =>
      Layout.replaceDir(newModel.coalesce(4), s"$path/model")
      Layout.writer(sideAdd).mode("append").partitionBy("dbucket")
        .parquet(s"$path/docs")
      Layout.replaceDir(newBase.coalesce(1), s"$path/base")
    }
  }

  /** EXACT unlearning of the tombstoned docs from a written NB model —
    * the erasure-matrix cell a stored aggregate model usually cannot
    * close, closed here because every weight is a deterministic rounded
    * function of EXACT INTEGER COUNTS: decrement the (label, term)
    * counts by the erased docs' own term counts (count additivity —
    * cnt' is exactly what retraining on the survivors would count),
    * decrement the per-class doc counts, drop rows reaching zero, and
    * re-derive every weight from the new integers through the SHARED
    * [[modelFromCounts]]/[[baseFromCounts]] expressions. Forget ≡
    * retrain-on-survivors bit-for-bit — the d_nb_forget_stored oracle
    * replays the retrain in SQL and hash-checks it.
    *
    * Contract: `tombDocs` carries the erased docs WITH text and label
    * (unlearning needs the content to know what to subtract — run the
    * model forget BEFORE erasing the docs from the corpus). Ids never
    * trained on are ignored via the membership sidecar (one id-hash
    * directory sliver per tombstone bucket), which also makes a re-run
    * a no-op. Staged pending marker like every store mutation.
    */
  def forgetNbStoreAt(spark: SparkSession, path: String,
                      tombDocs: DataFrame, idCol: String, textCol: String,
                      labelCol: String): Unit = {
    Layout.findTombstones(spark, path, s"$path/docs", tombDocs, idCol,
        "dbucket", Some(nbLayoutAt(spark, path))).foreach { t =>
      // the erased docs WITH their content, restricted to actual members;
      // id-deduped so a twice-delivered tombstone cannot double-subtract
      val erased = tombDocs
        .join(broadcast(t.present.select(col(idCol))), Seq(idCol), "left_semi")
        .dropDuplicates(idCol)
        .localCheckpoint()
      Layout.withPendingMarkerStaged(spark, path)({
        val model = spark.read.parquet(s"$path/model")
        val tDec = termCounts(erased, textCol, labelCol)
          .withColumnRenamed("cnt", "__dec")
        val newCnt = model.select(col("label"), col("term"), col("cnt"))
          .join(tDec, Seq("label", "term"), "left_outer")
          .select(col("label"), col("term"),
            (col("cnt") - coalesce(col("__dec"), lit(0L))).as("cnt"))
          .filter(col("cnt") > 0).localCheckpoint()
        val ndDec = erased.groupBy(col(labelCol).as("label"))
          .agg(count(lit(1)).as("__nddec"))
        val newNd = spark.read.parquet(s"$path/base")
          .select(col("label"), col("nd"))
          .join(broadcast(ndDec), Seq("label"), "left_outer")
          .select(col("label"),
            (col("nd") - coalesce(col("__nddec"), lit(0L))).as("nd"))
          .filter(col("nd") > 0)
        val newModel = modelFromCounts(newCnt).localCheckpoint()
        val newBase = baseFromCounts(newCnt, newNd).localCheckpoint()
        val docsPlan = Layout.planCompaction(spark, s"$path/docs", "dbucket",
          t.sidecar, t.ids, idCol, Layout.partitionHits(t.present, "dbucket"),
          sortCols = Seq(idCol))
        (newModel, newBase, docsPlan)
      }) { case (newModel, newBase, docsPlan) =>
        Layout.replaceDir(newModel.coalesce(4), s"$path/model")
        docsPlan.foreach(Layout.execDirRewrite(spark, _))
        // base is the commit signal — replaced LAST
        Layout.replaceDir(newBase.coalesce(1), s"$path/base")
      }
    }
  }

  /** Classify `test` docs against a frozen model: one row per doc with the
    * argmax class (ties broken by label ascending) and its integer score.
    * Docs with no token in any class's vocabulary still score (prior +
    * n_d * D_c); empty docs fall back to the prior alone.
    */
  def nbPredict(test: DataFrame, model: DataFrame, base: DataFrame,
                idCol: String, textCol: String): DataFrame = {
    val tf = TextAnalysis.termFrequencies(test, idCol,
      lower(trim(col(textCol))))
    val lift = tf.join(broadcast(model.select(col("label"), col("term"), col("w"))),
        Seq("term"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("tf") * col("w")).as("lift"))
    val nTok = test.select(col(idCol),
      TextAnalysis.tokenCount(lower(trim(col(textCol)))).cast("bigint").as("n_tok"))
    val scored = nTok.crossJoin(broadcast(base))
      .join(lift, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior") + col("n_tok") * col("def_w") +
          coalesce(col("lift"), lit(0L))).as("score"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(desc("score"), asc("label"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col(idCol), col("label").as("pred"), col("score"))
  }
}
