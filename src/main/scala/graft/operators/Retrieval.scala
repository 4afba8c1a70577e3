package graft.operators

import scala.util.chaining._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sparse lexical retrieval — Okapi BM25 top-k, the term-match sibling of
  * the dense ANN family in [[Similarity]].
  *
  * Bit-exactness contract: every per-(doc, term) BM25 contribution
  *   idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  * is computed pointwise from exact integer corpus statistics (tf, df, dl,
  * N, total tokens) and rounded ONCE to a 1e6 fixed-point BIGINT; a
  * (query, doc) score is then an integer SUM of those contributions, so it
  * is order-independent and oracle-checkable — the same fixed-point rule as
  * [[Classify]] and the gopher kernels. Because the stored path scores
  * from the SAME integer statistics through the SAME expressions, inline
  * and stored spellings are row-identical by construction.
  *
  * Scale: tf and dl are counted per document map-side (one projection,
  * no shuffle — [[postingsRaw]]), df is one partially-aggregated groupBy
  * over those postings; the query term set is broadcast, so only (doc, term) rows matching some
  * query term ever reach the scoring join, and the final top-k is a
  * row_number window that plans as WindowGroupLimit — the corpus text is
  * read once and never re-shuffled. With a WRITTEN store
  * ([[writeBm25Store]]) even that single read disappears from the query
  * path, and because the layout keeps the three statistics SEPARATE —
  * postings (term, doc, tf, dl), dfreq (term, df), stats (N, total) —
  * every component is MERGEABLE: a batch of new documents folds in by
  * union + integer adds ([[bm25ApplyDelta]]), never a rebuild. Postings
  * are term-hashed so any term's list stays in one file; dfreq is |V|
  * rows (vocabulary saturates — effectively constant vs corpus size) and
  * only the QUERY TERMS' df rows are ever read (semi-join then
  * broadcast).
  */
object Retrieval {

  /** The query-path materialization gate (optimization round 16): the
    * inline BM25-family spellings localCheckpoint their first corpus
    * aggregate so broadcast builds stop recomputing the tokenize (the
    * round's O1/O3 changes). `spark.graft.retrieval.materialize = off`
    * disables ONLY these query-path checkpoints — it exists so plan
    * audits (PlanAuditSpec, plan dumps) can see the full lineage that a
    * checkpoint otherwise truncates to a LogicalRDD leaf; results are
    * identical either way, off is strictly slower, and store MUTATIONS
    * ignore it (their staged-write protocol requires materialization
    * before the first write — see [[mergeBm25StoreAt]]). Whitelisted
    * like spark.graft.scan.spread: a typo fails loudly.
    */
  private def maybeCkpt(df: DataFrame): DataFrame = {
    val v = df.sparkSession.conf.get("spark.graft.retrieval.materialize", "on")
    require(v == "on" || v == "off",
      s"spark.graft.retrieval.materialize must be 'on' or 'off', got '$v'")
    if (v == "off") df else df.localCheckpoint()
  }

  /** Raw postings: one row per (doc, term) with term frequency `tf` and
    * document length `dl`, both bigint. One projection over the corpus:
    * the [[docTerms]] frame inlined, so neither tf nor dl costs a shuffle
    * (each is a value of one document). Exact integers only; no floats
    * are frozen anywhere in the store, so k1/b stay query-time knobs.
    * Document frequency deliberately lives in its OWN table
    * ([[dfreqOf]]): denormalizing df onto postings would make every old
    * row stale the moment a new doc mentions its term — this split is
    * what makes the store mergeable.
    */
  def postingsRaw(corpus: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    postingsOf(docTerms(corpus, idCol, textCol), idCol)

  /** A document's tokens; a null text tokenizes to the empty array, so
    * every per-document count below reads 0 for it. */
  private def docTokens(textCol: String): Column =
    coalesce(TextAnalysis.tokens(lower(trim(col(textCol)))),
      array().cast(ArrayType(StringType, containsNull = false)))

  /** One row per document, map-side: `terms` its (term, tf) list
    * ([[graft.functions.TermCounts]]) and `dl` its token count (bigint).
    * Each corpus row is one document — ids are unique, as every corpus,
    * chunk-cid frame and arriving batch here is keyed. A zero-token or
    * null-text doc keeps its row with an empty list and dl 0: it still
    * counts in n_docs and in the id sidecar, and yields no postings.
    */
  private def docTerms(corpus: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    corpus.select(col(idCol), docTokens(textCol).as("__tk"))
      .select(col(idCol), graft.functions.TermCounts(col("__tk")).as("terms"),
        size(col("__tk")).cast("bigint").as("dl"))

  /** The postings rows (id, term, tf, dl) of a [[docTerms]] frame. */
  private def postingsOf(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol), inline(col("terms")), col("dl"))

  /** (term, df) document frequencies from a raw postings stream. */
  def dfreqOf(postings: DataFrame): DataFrame =
    postings.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** One-row global statistics: document count (INCLUDING zero-token docs,
    * which produce no postings — a column-pruned count over the corpus)
    * and total token count (sum of tf over the postings: no second
    * tokenize pass).
    */
  def corpusStats(corpus: DataFrame, postings: DataFrame): DataFrame =
    corpus.agg(count(lit(1)).as("n_docs"))
      .crossJoin(postings.agg(coalesce(sum(col("tf")), lit(0L)).as("tot")))

  /** Query term sets (standard BM25: query-side multiplicity ignored). */
  private def queryTerms(queries: DataFrame, qIdCol: String,
                         qTextCol: String): DataFrame =
    queries.select(col(qIdCol).as("q_id"),
        explode(TextAnalysis.tokens(lower(trim(col(qTextCol))))).as("term"))
      .distinct()

  /** THE fixed-point contribution, shared verbatim by the inline and
    * stored paths — identical integer inputs through identical expressions
    * make the two spellings bit-identical (pinned in RetrievalSpec).
    * Expects columns tf, dl, df, n_docs, tot in scope.
    */
  private def contribExpr(k1: Double, b: Double): Column = {
    val avgdl = col("tot").cast("double") / col("n_docs")
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val sat = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl)))
    round(lit(1e6) * (idf * sat)).cast("bigint")
  }

  /** Integer score sum per (query, candidate) — the scored stream BEFORE
    * any ranking. */
  private def scoredOf(contrib: DataFrame, idCol: String): DataFrame =
    contrib.groupBy(col("q_id"), col(idCol))
      .agg(sum(col("c")).as("score"))

  /** ONE bounded top-k window over an already-scored (q_id, id, score)
    * stream: row_number with a LITERAL k plans as WindowGroupLimit, so
    * each partition prunes to k rows map-side before the sort — never a
    * full per-query rank. This is the composition point for consumers
    * that filter or cap candidates between scoring and ranking
    * (hard-negative mining's own-doc exclusion, diversification's
    * per-parent cap): run the predicate on [[bm25Scores]] output, then
    * call this with the REAL k, instead of ranking everything with
    * topK = MaxValue and filtering after.
    */
  def topKOf(scored: DataFrame, idCol: String, topK: Int,
             rankName: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("score"), asc(idCol))
    scored.withColumn(rankName, row_number().over(w))
      .filter(col(rankName) <= topK)
      .select(col("q_id"), col(rankName), col(idCol), col("score"))
  }

  /** Shared integer-sum + top-k tail over contribution rows. */
  private def rankTopK(contrib: DataFrame, idCol: String,
                       topK: Int): DataFrame =
    topKOf(scoredOf(contrib, idCol), idCol, topK)

  /** Top-k docs per query by BM25, index built inline. `queries` supplies
    * (qIdCol, qTextCol); query term sets are broadcast against the corpus
    * contribution stream, and the dl/df joins run only on matched rows.
    * Returns (q_id, rnk, doc id, score) with ties broken by doc id
    * ascending.
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame,
               idCol: String, textCol: String,
               qIdCol: String, qTextCol: String,
               k1: Double = 1.2, b: Double = 0.75,
               topK: Int = 10): DataFrame =
    rankTopK(contribOf(corpus, queries, idCol, textCol, qIdCol, qTextCol,
      k1, b), idCol, topK)

  /** Per-(query, candidate) integer BM25 scores with NO top-k window —
    * the scored stream [[topKOf]] consumers compose over. Identical
    * integer contributions to [[bm25TopK]] (same [[contribExpr]], same
    * statistics), so `topKOf(bm25Scores(...), id, k)` is row-identical
    * to `bm25TopK(..., topK = k)`.
    */
  def bm25Scores(corpus: DataFrame, queries: DataFrame,
                 idCol: String, textCol: String,
                 qIdCol: String, qTextCol: String,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scoredOf(contribOf(corpus, queries, idCol, textCol, qIdCol, qTextCol,
      k1, b), idCol)

  /** The inline contribution stream: the corpus postings (tf and dl per
    * document, map-side), df/stats aggregates over them, query-term
    * broadcast semi-restriction, fixed-point math. */
  private def contribOf(corpus: DataFrame, queries: DataFrame,
                        idCol: String, textCol: String,
                        qIdCol: String, qTextCol: String,
                        k1: Double, b: Double): DataFrame = {
    // the corpus postings MATERIALIZE once (optimization round 16):
    // dfreq and stats sit inside broadcast builds below, and Spark does no
    // stage reuse across broadcast-subtree boundaries, so the un-checkpointed
    // plan recomputed this subtree — a full corpus tokenize — once per
    // broadcast build (d_bm25_topk planned 12 parquet scans; at 100 TB each
    // duplicate is a full corpus pass). One checkpoint leaves exactly one
    // tokenize plus the column-pruned n_docs count on the corpus. Same-JVM
    // A/B min-of-5: d_bm25_topk 2.33→2.19 s, d_bm25_prf 4.11→3.21 s,
    // row-identical hashes at sf0.001 and sf0.1
    // (f5c0667:probes/ScratchTfAB.scala). The postings count tf and dl per
    // document map-side ([[postingsRaw]]), so neither an (id, term)
    // aggregate nor a dl aggregate and its join run here.
    val tf = postingsRaw(corpus, idCol, textCol).pipe(maybeCkpt)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("tot")))
    // ONE fused broadcast (the scoresStoredOf move): query terms, their
    // df rows, and the 1-row stats collapse into a |query-terms|-row
    // broadcast, so the corpus-sized postings stream pays one term join.
    // Inner semantics unchanged: a hit term always has a dfreq row. Only
    // (doc, term) rows matching some query term reach the float math.
    val qmeta = queryTerms(queries, qIdCol, qTextCol)
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
    tf.join(broadcast(qmeta), Seq("term"))
      .withColumn("c", contribExpr(k1, b))
  }

  /** Fielded BM25 (the BM25F shape, Robertson–Zaragoza): documents carry
    * a TITLE field (first `titleTokens` tokens) and a BODY (the rest);
    * term frequency is field-normalized then weight-combined BEFORE
    * saturation —
    *   tf̃(t,d) = Σ_f w_f · tf_f / (1 − b + b · dl_f/avgdl_f)
    *   score(q,d) = Σ_t idf(t) · tf̃ / (k1 + tf̃)
    * so a title hit counts ~wTitle× a body hit without double-counting
    * saturation (summing two independent BM25 scores would). Field
    * split is deterministic in both engines (array slice vs list
    * slice), df stays whole-document, and each (doc, term) contribution
    * rounds ONCE to 1e6 fixed point — the same exactness discipline as
    * [[bm25TopK]], so the oracle replays it bit-for-bit.
    *
    * Scale shape identical to [[bm25TopK]]: the two fields are two slices
    * of the one token array, each counted per document map-side
    * ([[fieldTerms]]), avgdl is a 2-row broadcast, and only query-term
    * rows reach the float math.
    */
  def bm25fTopK(corpus: DataFrame, queries: DataFrame,
                idCol: String, textCol: String,
                qIdCol: String, qTextCol: String,
                titleTokens: Int = 8, wTitle: Double = 2.0,
                wBody: Double = 1.0, k1: Double = 1.2, b: Double = 0.75,
                topK: Int = 10): DataFrame = {
    val store = bm25fComponents(corpus, idCol, textCol, titleTokens)
    bm25fTopKStored(store, queries, idCol, qIdCol, qTextCol,
      wTitle, wBody, k1, b, topK)
  }

  /** The two mergeable components of a fielded index: postings =
    * (id, f, term, tf, dl) with dl the FIELD length, stats =
    * (f, n_docs, tot_f) — field weights and k1/b stay query-time knobs,
    * and whole-doc df derives from the postings (distinct (id, term)),
    * so nothing in the layout freezes a tunable.
    */
  final case class Bm25fStore(postings: DataFrame, stats: DataFrame,
                              bucketed: Option[DataFrame] = None,
                              buckets: Option[Int] = None)

  /** Build the fielded components inline (the [[bm25fTopK]] body): the
    * corpus's [[fieldTerms]] frame,
    * materialized once through the query-path gate ([[maybeCkpt]]) —
    * every consumer (the hit stream, the whole-doc df inside the qmeta
    * broadcast build, the stats build) otherwise re-runs the tokenize per
    * broadcast subtree — then [[bm25fComponentsOf]].
    */
  private def bm25fComponents(corpus: DataFrame, idCol: String,
                              textCol: String, titleTokens: Int): Bm25fStore =
    bm25fComponentsOf(
      maybeCkpt(fieldTerms(corpus, idCol, textCol, titleTokens)), idCol)

  /** One row per document, map-side: `fields` holds the title slice (the
    * first `titleTokens` tokens) and the body slice (the rest) of the ONE
    * token array, each as (f, its (term, tf) list, dl = the slice's size).
    * A token's field is its position, so this is the same (id, f, term)
    * multiset the positional tag gave, without the (id, f, term) and
    * (id, f) shuffles or the dl join.
    */
  private def fieldTerms(corpus: DataFrame, idCol: String, textCol: String,
                         titleTokens: Int): DataFrame = {
    val tk = col("__tk")
    def field(f: String, slice: Column): Column =
      struct(lit(f).as("f"), graft.functions.TermCounts(slice).as("terms"),
        size(slice).cast("bigint").as("dl"))
    corpus.select(col(idCol), docTokens(textCol).as("__tk"))
      .select(col(idCol), array(
        field("t", slice(tk, lit(1), lit(titleTokens))),
        field("b", slice(tk, lit(titleTokens + 1),
          greatest(size(tk) - titleTokens, lit(0))))).as("fields"))
  }

  /** The field tags of a [[fieldTerms]] frame, in `fields` order. */
  private val FieldTags = Seq("t", "b")

  /** Σ dl of the `i`-th field over a [[fieldTerms]] frame's documents with
    * tokens in it: the field's tot_f in [[bm25fComponentsOf]]'s stats. */
  private def fieldTokens(i: Int): Column = {
    val dl = col("fields")(i)("dl")
    sum(when(dl > 0, dl))
  }

  /** A document's distinct terms across both fields of a [[fieldTerms]]
    * frame. */
  private val fieldedTermsCol: Column =
    flatten(col("fields.terms")).getField("term")

  /** The fielded components of a [[fieldTerms]] frame: postings
    * (id, f, term, tf, dl) — a field with no tokens yields no rows — and
    * stats (f, n_docs, tot_f). tot_f is Σ dl_f over the docs with tokens
    * in f (== Σ tf of f's postings, the identity the persisted fielded
    * merge relies on), so a field no doc has tokens in gets no stats row;
    * n_docs counts EVERY doc (zero-token docs too, the corpusStats
    * convention: avgdl_f's denominator).
    */
  private def bm25fComponentsOf(docs: DataFrame, idCol: String): Bm25fStore = {
    val fields = docs.select(col(idCol), explode(col("fields")).as("__fd"))
    val postings = fields.select(col(idCol), col("__fd.f").as("f"),
      inline(col("__fd.terms")), col("__fd.dl").as("dl"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val stats = fields.filter(col("__fd.dl") > 0)
      .groupBy(col("__fd.f").as("f")).agg(sum(col("__fd.dl")).as("tot_f"))
      .crossJoin(broadcast(nDocs))
      .select(col("f"), col("n_docs"), col("tot_f"))
    Bm25fStore(postings, stats)
  }

  /** Write-once fielded index: `path/postings` ((id, f, term, tf, dl)
    * rows, term-hashed files) and `path/stats` (2 rows). The same
    * displacement [[writeBm25Store]] gives plain BM25: every query after
    * ingest reads only the store — no re-tokenize, no field re-split.
    * The batch is tokenized once into its checkpointed [[fieldTerms]]
    * frame, which the postings, the id sidecar and the stats all read.
    * Returns the corpus's document count, taken on that checkpoint job.
    */
  def writeBm25fStore(corpus: DataFrame, idCol: String, textCol: String,
                      path: String, titleTokens: Int = 8,
                      buckets: Int = 16): Long = {
    val (docs, n, _) =
      observedDocs(fieldTerms(corpus, idCol, textCol, titleTokens))
    val c = bm25fComponentsOf(docs, idCol)
    writePostings(c.postings, buckets, path, "overwrite")
    writeSidecarRows(docsSidecarRows(docs, idCol, buckets, fieldedTermsCol),
      s"$path/docs", "overwrite")
    writeLayoutMeta(corpus.sparkSession, path, buckets)
    Layout.writer(c.stats.coalesce(1)).mode("overwrite")
      .parquet(s"$path/stats")
    n
  }

  def readBm25fStore(spark: SparkSession, path: String): Bm25fStore = {
    val raw = spark.read.parquet(s"$path/postings")
    val b = readLayoutMeta(spark, path)
      .filter(_ => raw.columns.contains("bucket"))
    Bm25fStore(raw.drop("bucket"),
      spark.read.schema(FieldedStatsSchema).parquet(s"$path/stats"),
      bucketed = b.map(_ => raw), buckets = b)
  }

  /** [[bm25fTopK]] against fielded components — the SHARED scoring tail
    * of the inline and stored spellings, so the two are row-identical by
    * construction (the [[bm25TopKStored]] discipline).
    */
  def bm25fTopKStored(store: Bm25fStore, queries: DataFrame,
                      idCol: String, qIdCol: String, qTextCol: String,
                      wTitle: Double = 2.0, wBody: Double = 1.0,
                      k1: Double = 1.2, b: Double = 0.75,
                      topK: Int = 10): DataFrame = {
    val qt = queries.select(col(qIdCol).as("q_id"),
        explode(TextAnalysis.tokens(lower(trim(col(qTextCol))))).as("term"))
      .distinct()
    val qterms = qt.select(col("term")).distinct()
    // directory-pruned restriction when the store exposes its bucket
    // layout (the storedHits mechanism, fielded spelling)
    val hits = (store.bucketed, store.buckets) match {
      case (Some(bp), Some(nb)) =>
        bp.join(broadcast(qterms.withColumn("bucket", termBucket(nb))),
          Seq("bucket", "term"), "left_semi").drop("bucket")
      case _ =>
        store.postings.join(broadcast(qterms), Seq("term"), "left_semi")
    }
    val avg = store.stats.select(col("f"),
      (col("tot_f").cast("double") / col("n_docs")).as("avgdl_f"))
    // both field rows carry the same n_docs today, but limit(1) with no
    // ordering would turn a future per-field divergence into silent
    // nondeterminism — aggregate so the choice is deterministic by
    // construction
    val nDocs = store.stats.agg(max(col("n_docs")).as("n_docs"))
    val part = hits
      .join(broadcast(avg), Seq("f"))
      .select(col(idCol), col("term"),
        (when(col("f") === "t", lit(wTitle)).otherwise(lit(wBody)) *
          col("tf") /
          (lit(1.0 - b) + lit(b) * (col("dl") / col("avgdl_f"))))
          .as("part"))
    // tft MATERIALIZES once and feeds BOTH consumers (optimization round
    // 16): the hit stream used to be consumed twice — the whole-doc dfreq
    // aggregate inside the qmeta broadcast build AND this part/tft stream
    // — and each pass re-ran the store scan/union + semi-join + per-row
    // math (the two dominant ~4.4 s stages in d_bm25f_incremental's r16
    // profile). df is DERIVED from tft: tft's (id, term) grain is exactly
    // the distinct (id, term) pair set dfreq counted — a term occurring
    // in both fields makes two hit rows but one tft row — so
    // count-per-term over tft is the same whole-document frequency
    // integer. Same-JVM A/B min-of-5
    // (f5c0667:probes/ScratchTftAB.scala): d_bm25f_stored
    // shape 2.21→1.76 s, incremental shape 3.73→3.40 s, every B rep under
    // every A rep, row-identical hashes at sf0.001 and sf0.1.
    val tft = part.groupBy(col(idCol), col("term"))
      .agg(sum(col("part")).as("tft"))
      .pipe(maybeCkpt)
    val dfreq = tft.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    // ONE fused broadcast on the tft stream (the scoresStoredOf move):
    // qt ⋈ dfreq ⋈ nDocs collapse into a single |query-terms|-row
    // broadcast — tft only carries hit terms, and hit terms always have
    // a dfreq row, so the inner joins keep identical rows while the
    // per-row stream pays one join instead of three
    val qmeta = qt.join(dfreq, Seq("term")).crossJoin(broadcast(nDocs))
    val contrib = tft
      .join(broadcast(qmeta), Seq("term"))
      .withColumn("c", round(lit(1e6) *
        (idf * (col("tft") / (lit(k1) + col("tft"))))).cast("bigint"))
    rankTopK(contrib, idCol, topK)
  }

  /** Pseudo-relevance-feedback query expansion (the RM3-lite recipe):
    * run BM25, take each query's top `fbDocs` documents as implicit
    * relevance feedback, mine the `fbTerms` highest-weight NEW terms
    * from them (weight = feedback tf × idf — both exact integers, idf in
    * 1e6 fixed point, ties by term string), add them to the query's term
    * set, score again. Vocabulary-mismatch repair with zero training:
    * a query about "ducks" picks up "ponds" from what it retrieved.
    *
    * Scale shape: pass 1 is [[bm25TopK]]; the feedback join is
    * |Q|·fbDocs rows against the tf stream (broadcast); term mining is
    * one WindowGroupLimit over the per-query candidate terms; pass 2 is
    * the same restricted scoring with a slightly larger broadcast term
    * set. The postings (tf and dl per document, map-side) materialize
    * once and feed both passes, the mining, df and stats.
    */
  def bm25PrfTopK(corpus: DataFrame, queries: DataFrame,
                  idCol: String, textCol: String,
                  qIdCol: String, qTextCol: String,
                  fbDocs: Int = 10, fbTerms: Int = 5,
                  k1: Double = 1.2, b: Double = 0.75,
                  topK: Int = 10): DataFrame = {
    // ONE materialized tokenize (optimization round 16, the contribOf
    // move): this tf frame feeds BOTH ranking passes, the feedback term
    // mining, dfreq (inside every pass's broadcast build) and stats —
    // without the checkpoint the plan recomputed the corpus tokenize once
    // per broadcast subtree (32 parquet scans in the r15 plan). Same-JVM
    // A/B min-of-5: 4.11 s → 3.21 s, row-identical hashes at two SFs.
    // The frame is the postings, dl included ([[postingsRaw]]).
    val tf = postingsRaw(corpus, idCol, textCol).pipe(maybeCkpt)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // corpusStats carries the coalesce(sum,0) guard: a corpus whose docs
    // all tokenize empty must yield empty results, not NULL-total scores
    val stats = corpusStats(corpus, tf)
    val qt = queryTerms(queries, qIdCol, qTextCol)
    // fused broadcast per pass (the scoresStoredOf move): term set ⋈ df
    // ⋈× stats ride ONE broadcast onto the postings stream
    def scoreOf(terms: DataFrame): DataFrame =
      tf.join(broadcast(terms.join(dfreq, Seq("term"))
          .crossJoin(broadcast(stats))), Seq("term"))
        .withColumn("c", contribExpr(k1, b))
        .groupBy(col("q_id"), col(idCol)).agg(sum(col("c")).as("score"))
    // pass 1: feedback set
    val fb = topKOf(scoreOf(qt), idCol, fbDocs)
      .select(col("q_id"), col(idCol))
    // expansion mining: per query, the fbTerms best new terms by
    // (Σ feedback tf) · idf_micro — integer arithmetic end to end
    val idfMicro = dfreq.crossJoin(broadcast(
        corpus.agg(count(lit(1)).as("n_docs"))))
      .select(col("term"), round(lit(1e6) *
        log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))).cast("bigint").as("idf_micro"))
    val cand = tf.join(broadcast(fb), Seq(idCol))
      .groupBy(col("q_id"), col("term")).agg(sum(col("tf")).as("fbtf"))
      .join(qt, Seq("q_id", "term"), "left_anti")
      .join(idfMicro, Seq("term"))
      .withColumn("w", col("fbtf") * col("idf_micro"))
    val wExp = Window.partitionBy(col("q_id"))
      .orderBy(desc("w"), asc("term"))
    val expansion = cand.withColumn("__rn", row_number().over(wExp))
      .filter(col("__rn") <= fbTerms)
      .select(col("q_id"), col("term"))
    val qt2 = qt.unionByName(expansion).distinct()
    topKOf(scoreOf(qt2), idCol, topK)
  }

  /** The three mergeable components of a written BM25 index. A store
    * read back from disk additionally carries `bucketed` — the postings
    * WITH their physical bucket partition column — and the frozen bucket
    * count, which together let the stored scoring path prune term-hash
    * DIRECTORIES at query time ([[scoresStoredOf]]); logical merges
    * ([[bm25ApplyDelta]]) produce plain-postings stores and score
    * through the unpruned path.
    */
  final case class Bm25Store(postings: DataFrame, dfreq: DataFrame,
                             stats: DataFrame,
                             bucketed: Option[DataFrame] = None,
                             buckets: Option[Int] = None)

  /** Freeze the physical layout knob the query side needs (bucket
    * count) inside the store — the vector store's `_graft_layout`
    * discipline: deriving it any other way (listing directories) breaks
    * on empty buckets, and asking the user to repeat it in query config
    * invites a silent mismatch that would prune live directories.
    */
  private def writeLayoutMeta(spark: SparkSession, path: String,
                              buckets: Int): Unit = {
    import spark.implicits._
    Layout.writeRecord(Seq(buckets).toDF("buckets"), s"$path/_graft_layout")
  }

  /** The store's frozen bucket count; None for stores predating it. */
  private[graft] def readLayoutMeta(spark: SparkSession,
                                    path: String): Option[Int] =
    Layout.readRecord(spark, s"$path/_graft_layout", "buckets INT")
      .map(_.getInt(0))

  /** The fixed schemas of the store's small tables (the plain layout's
    * df and stats, the fielded layout's stats). Reading with them skips
    * the footer-sampling job a schema inference launches; the plain stats
    * schema is also the one a merge writes its driver-built row with,
    * which is the one [[corpusStats]] gives a build (non-null longs).
    */
  private val DfreqSchema = StructType(Seq(
    StructField("term", StringType), StructField("df", LongType)))
  private val StatsSchema = StructType(Seq(
    StructField("n_docs", LongType, nullable = false),
    StructField("tot", LongType, nullable = false)))
  private val FieldedStatsSchema = StructType(Seq(StructField("f", StringType),
    StructField("n_docs", LongType), StructField("tot_f", LongType)))

  /** Directory key of a term's posting rows: `bucket = pmod(xxhash64(
    * term), buckets)`. Making the term-hash bucket a PARTITION COLUMN
    * (not just a file-count repartition) is what gives the store a
    * surgical mutation grain: a merge appends files into existing bucket
    * directories, and an erasure ([[forgetBm25StoreAt]]) rewrites only
    * the buckets that actually hold a tombstoned doc's terms via dynamic
    * partition overwrite — the same directory discipline as the
    * centroid-partitioned vector store.
    */
  private def termBucket(buckets: Int): Column =
    pmod(xxhash64(col("term")), lit(buckets)).cast("int")

  private def idBucket(idCol: String, buckets: Int): Column =
    pmod(xxhash64(col(idCol)), lit(buckets)).cast("int")

  /** The id SIDECAR every erasable store carries (`path/docs`, one row
    * per indexed doc, id-hash-bucketed directories): postings rows only
    * exist for docs with >= 1 token, but n_docs counts EVERY doc (the
    * [[corpusStats]] convention — zero-token docs still dilute avgdl),
    * so erasure cannot learn "how many tombstoned docs were actually in
    * the store" from postings alone. The sidecar is 1 id per row — noise
    * next to the postings — and doubles as the membership table that
    * makes forget idempotent and exact for ids never ingested.
    *
    * Each row additionally carries `tbuckets`: the doc's DISTINCT
    * postings-bucket list, ascending, recorded at ingest from the doc's
    * own terms (`terms`, an array<string> column of the per-document
    * frame `docs`: [[docTerms]] or [[fieldTerms]]) — the buckets its
    * postings rows land in. This is what lets the forget FINDER restrict
    * its hit-row scan to exactly the tombstoned docs' term-hash
    * directories instead of every postings bucket — the `_graft_ids`
    * sidecar discipline, applied to the lexical layout (the round-13 IVF
    * fix's missing postings half). Zero-token docs carry an empty list.
    * Rows sort by id within files so the tombstone semi-join
    * row-group-prunes.
    */
  private def docsSidecarRows(docs: DataFrame, idCol: String, buckets: Int,
                              terms: Column): DataFrame =
    docs.select(col(idCol),
        sort_array(array_distinct(transform(terms,
          t => pmod(xxhash64(t), lit(buckets)).cast("int")))).as("tbuckets"))
      .withColumn("dbucket", idBucket(idCol, buckets))
      .repartition(math.min(buckets, 4), col("dbucket"))
      .sortWithinPartitions(col("dbucket"), col(idCol))

  private def writeSidecarRows(rows: DataFrame, path: String,
                               mode: String): Unit =
    Layout.writer(rows).mode(mode).partitionBy("dbucket").parquet(path)

  /** Write-once BM25 index: `path/postings` ((doc, term, tf, dl) rows in
    * term-hash bucket DIRECTORIES so any term's posting list stays in one
    * directory and mutations stay per-directory), `path/dfreq`
    * ((term, df)), `path/docs` (the erasure id sidecar), `path/stats`
    * (one row, written LAST — its _SUCCESS is the commit signal).
    * The corpus is tokenized once, into its checkpointed [[docTerms]]
    * frame; the postings, sidecar and stats read that frame, df the
    * written postings. Returns the corpus's document count, taken on the
    * tokenize's checkpoint job.
    * Every query after reads ONLY this store, and new corpus drops merge
    * in via [[bm25ApplyDelta]] without touching historical text.
    */
  def writeBm25Store(corpus: DataFrame, idCol: String, textCol: String,
                     path: String, buckets: Int = 16): Long = {
    val (docs, n, _) = observedDocs(docTerms(corpus, idCol, textCol))
    val post = postingsOf(docs, idCol)
    writePostings(post, buckets, path, "overwrite")
    // df off the WRITTEN postings, which arrive term-sorted per bucket, so
    // the df files come out in the same row order whatever order the
    // batch's docs arrived in
    Layout.writer(dfreqOf(corpus.sparkSession.read.parquet(s"$path/postings"))
        .repartition(math.min(buckets, 4), col("term")))
      .mode("overwrite").parquet(s"$path/dfreq")
    writeSidecarRows(docsSidecarRows(docs, idCol, buckets,
      col("terms.term")), s"$path/docs", "overwrite")
    writeLayoutMeta(corpus.sparkSession, path, buckets)
    Layout.writer(docCounts(docs)).mode("overwrite").parquet(s"$path/stats")
    n
  }

  /** The [[corpusStats]] pair of a [[docTerms]] frame in one aggregate:
    * n_docs its row count (zero-token docs included), tot Σ dl. */
  private def docCounts(docs: DataFrame): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("tot"))

  /** Handles onto a written store. The physical bucket partition column
    * is dropped on read: it is derivable from term, and keeping the
    * logical postings schema bucket-free is what lets the in-memory
    * merge ([[bm25ApplyDelta]]) union stored and fresh postings
    * directly. Pre-bucketed (v2) stores read unchanged — drop of a
    * missing column is a no-op.
    */
  def readBm25Store(spark: SparkSession, path: String): Bm25Store = {
    val raw = spark.read.parquet(s"$path/postings")
    val b = readLayoutMeta(spark, path)
      .filter(_ => raw.columns.contains("bucket"))
    Bm25Store(raw.drop("bucket"),
      spark.read.schema(DfreqSchema).parquet(s"$path/dfreq"),
      spark.read.schema(StatsSchema).parquet(s"$path/stats"),
      bucketed = b.map(_ => raw), buckets = b)
  }

  /** Fold a batch of NEW documents (ids disjoint from the store — the
    * arriving-batch contract every incremental gate in this engine
    * shares) into a BM25 store: postings union (the batch's
    * [[postingsRaw]], tf and dl counted per document map-side), df
    * integer adds via one full-outer merge on term, stats adds. Pure
    * multiset arithmetic, so
    * the merge is associative and batch-split invariant, and the merged
    * store is ROW-IDENTICAL to rebuilding from scratch on the combined
    * corpus — which is exactly what the d_bm25_incremental oracle
    * hash-checks (the [[DataCard.applyDelta]] pattern).
    */
  def bm25ApplyDelta(store: Bm25Store, added: DataFrame, idCol: String,
                     textCol: String): Bm25Store = {
    // the batch postings MATERIALIZE once (optimization round 16, the
    // contribOf move): the un-checkpointed frame was recomputed — a full
    // batch tokenize each — in the scoring stream, inside mergedDfreq's
    // broadcast build and inside mergedStats' broadcast build.
    // Row-identical by construction: same frame, same downstream
    // expressions.
    val addP = maybeCkpt(postingsRaw(added, idCol, textCol))
    Bm25Store(store.postings.unionByName(addP),
      mergedDfreq(store.dfreq, addP),
      mergedStats(store.stats, added, addP))
  }

  /** df integer adds: the store's (term, df) rows and one (term, 1) row
    * per `termRows` row (one per (doc, term) of the batch) summed per
    * term in one aggregate — shared by the logical merge
    * ([[bm25ApplyDelta]]) and the persisted one ([[mergeBm25StoreAt]]),
    * which hash-partitions the rows into its `files` output files first,
    * so the aggregate needs no exchange of its own. */
  private def mergedDfreq(storeDfreq: DataFrame, termRows: DataFrame,
                          files: Option[Int] = None): DataFrame = {
    val rows = storeDfreq.select(col("term"), col("df"))
      .unionByName(termRows.select(col("term"), lit(1L).as("df")))
    files.fold(rows)(n => rows.repartition(n, col("term")))
      .groupBy(col("term")).agg(coalesce(sum(col("df")), lit(0L)).as("df"))
  }

  /** Global stats integer adds (1-row × 1-row). */
  private def mergedStats(storeStats: DataFrame, added: DataFrame,
                          addP: DataFrame): DataFrame = {
    val addStats = corpusStats(added, addP)
      .withColumnRenamed("n_docs", "__an").withColumnRenamed("tot", "__at")
    storeStats.crossJoin(broadcast(addStats))
      .select((col("n_docs") + col("__an")).as("n_docs"),
        (col("tot") + col("__at")).as("tot"))
  }

  /** Fold a batch INTO a written store, or build the store when `path`
    * holds none — the one ingest of the stored BM25 family (behind the
    * `bm25-index` sink), plain or fielded. A store carrying the pending
    * marker refuses first: a crashed mutation may have destroyed the
    * `stats/_SUCCESS` commit signal the dispatch keys on, and the build
    * branch would then static-overwrite away all history. No commit
    * signal builds ([[writeBm25Store]], or [[writeBm25fStore]] when
    * `fielded`; static overwrites, no marker). An existing store merges
    * under the staged pending marker with the statistics step its
    * recorded layout calls for ([[isPlainBm25StoreAt]], as
    * [[forgetBm25StoreAt]] chooses), refusing a batch whose `fielded`
    * flag contradicts it. Returns the batch's document count.
    *
    * Both merges APPEND the batch's postings as new term-hashed files
    * (historical postings are never read or rewritten) and the id
    * sidecar rows, then replace the small tables whose values change for
    * existing keys by integer adds — the plain |V|-row df table and 1-row
    * stats, or the fielded 2-row stats (tot_f per field, ONE corpus-level
    * n_docs add; the fielded layout derives whole-doc df at score time)
    * — `stats` LAST, by temp-write + rename, as the commit signal. The
    * frozen bucket modulus wins over `buckets`: rows appended under
    * another modulus would be invisible to the pruned query join.
    *
    * Both merges read the batch ONCE: it is tokenized into one
    * checkpointed per-document frame ([[docTerms]], or [[fieldTerms]]
    * when fielded) — a single job with no exchange, which also counts
    * the batch ([[observedDocs]]) — and the postings append, the sidecar
    * rows (each doc's term buckets from its own terms) and the stats adds
    * all read that frame. Both PREPAREs read the `_graft_layout` record
    * and the `stats` rows on the driver ([[Layout.readRows]], no job) and
    * build the merged stats there from the checkpoint job's observed
    * totals. The plain PREPARE then
    * merges the df table in one aggregate over the store's rows and the
    * frame's terms; its MUTATE runs the postings append,
    * sidecar append and df replacement at the same time
    * ([[Layout.concurrently]], the caller's job group, all finished
    * before the phase ends), then `stats`. Everything that can fail for
    * data reasons (the tokenize, the df merge) runs in PREPARE; the
    * mutation phase only projects the materialized frame.
    *
    * Same arriving-batch (ids disjoint from the store) and SINGLE-WRITER
    * contract as every stored index gate. Merged-on-disk ≡ rebuild is
    * pinned in RetrievalSpec, both merges' job counts and the failure
    * behaviour in Bm25MergeSpec.
    */
  def mergeBm25StoreAt(spark: SparkSession, path: String, batch: DataFrame,
                       idCol: String, textCol: String, buckets: Int = 16,
                       fielded: Boolean = false,
                       titleTokens: Int = 8): Long = {
    Layout.refuseIfPending(spark, path)
    if (!Layout.indexExists(spark, s"$path/stats"))
      return if (fielded)
        writeBm25fStore(batch, idCol, textCol, path, titleTokens, buckets)
      else writeBm25Store(batch, idCol, textCol, path, buckets)
    requireErasableLayout(spark, path)
    // read after the marker refusal: a crash inside a dfreq replace would
    // otherwise read as the fielded layout
    val plain = isPlainBm25StoreAt(spark, path)
    def kind(p: Boolean) = if (p) "plain" else "fielded"
    require(plain != fielded,
      s"$path holds a ${kind(plain)} BM25 store but this batch is " +
        s"${kind(!fielded)} — merging one layout's statistics into the " +
        "other silently corrupts every score. Match the store's layout " +
        "or point the batch at a fresh path.")
    if (plain) mergePlainAt(spark, path, batch, idCol, textCol, buckets)
    else mergeFieldedAt(spark, path, batch, idCol, textCol, titleTokens,
      buckets)
  }

  /** The plain merge of [[mergeBm25StoreAt]]. */
  private def mergePlainAt(spark: SparkSession, path: String,
                           batch: DataFrame, idCol: String, textCol: String,
                           buckets: Int): Long =
    Layout.withPendingMarkerStaged(spark, path)({
      val b = readLayoutMeta(spark, path).getOrElse(buckets)
      val stored = Layout.readRecord(spark, s"$path/stats",
        StatsSchema.toDDL).getOrElse(
          throw new IllegalStateException(s"$path/stats holds no row"))
      val (docs, n, Seq(tot)) = observedDocs(docTerms(batch, idCol, textCol),
        sum(col("dl")))
      val newDfreq = mergedDfreq(
        spark.read.schema(DfreqSchema).parquet(s"$path/dfreq"),
        docs.select(explode(col("terms.term")).as("term")),
        Some(math.min(buckets, 4))).localCheckpoint()
      val newStats = spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(
          stored.getLong(0) + n, stored.getLong(1) + tot)),
        StatsSchema)
      (b, docs, newDfreq, newStats, n)
    }) { case (b, docs, newDfreq, newStats, n) =>
      Layout.concurrently3(spark)(
        writePostings(postingsOf(docs, idCol), b, path, "append"),
        writeSidecarRows(docsSidecarRows(docs, idCol, b, col("terms.term")),
          s"$path/docs", "append"),
        Layout.replaceDir(newDfreq, s"$path/dfreq"))
      // both replaced tables ride temp-write + rename ([[Layout.replaceDir]]):
      // stats is the store's COMMIT SIGNAL, so a crash inside a plain
      // overwrite would silently flip the next ingest onto the build branch
      Layout.replaceDir(newStats.coalesce(1), s"$path/stats")
      n
    }

  /** The fielded merge of [[mergeBm25StoreAt]]: the batch is tokenized
    * and field-split once, into its checkpointed [[fieldTerms]] frame;
    * the postings and the sidecar rows read it, and its checkpoint job
    * counts it and sums each field's tokens. The stored stats rows are
    * read on the driver and the merged rows built there
    * ([[mergedFieldedRows]]), so the stats step runs no job before the
    * write. */
  private def mergeFieldedAt(spark: SparkSession, path: String,
                             batch: DataFrame, idCol: String,
                             textCol: String, titleTokens: Int,
                             buckets: Int): Long =
    Layout.withPendingMarkerStaged(spark, path)({
      val b = readLayoutMeta(spark, path).getOrElse(buckets)
      val stored = Layout.readRows(spark, s"$path/stats",
        FieldedStatsSchema.toDDL)
      val (docs, n, tots) =
        observedDocs(fieldTerms(batch, idCol, textCol, titleTokens),
          FieldTags.indices.map(fieldTokens): _*)
      val newStats = spark.createDataFrame(java.util.List.of(
        mergedFieldedRows(stored, n, FieldTags.zip(tots)): _*),
        FieldedStatsSchema)
      (b, docs, bm25fComponentsOf(docs, idCol).postings, newStats, n)
    }) { case (b, docs, addP, newStats, n) =>
      writePostings(addP, b, path, "append")
      writeSidecarRows(docsSidecarRows(docs, idCol, b, fieldedTermsCol),
        s"$path/docs", "append")
      // stats last, by temp-write + rename: the store's commit signal
      Layout.replaceDir(newStats.coalesce(1), s"$path/stats")
      n
    }

  /** Checkpoint a batch's per-document frame, counting its rows and
    * taking each aggregate of `totals` over them (0 over no rows) on the
    * checkpoint job itself ([[org.apache.spark.sql.Observation]]):
    * (frame, rows, totals). */
  private def observedDocs(docs: DataFrame,
                           totals: Column*): (DataFrame, Long, Seq[Long]) = {
    val counts = org.apache.spark.sql.Observation()
    val frame = docs.observe(counts, count(lit(1)).as("n"),
      totals.zipWithIndex.map { case (t, i) =>
        coalesce(t, lit(0L)).as(s"t$i") }: _*).localCheckpoint()
    val r = counts.get
    (frame, r("n").asInstanceOf[Long],
      totals.indices.map(i => r(s"t$i").asInstanceOf[Long]))
  }

  /** Write postings into their term-hash bucket directories under
    * `path/postings` (a build overwrites, a merge appends), term-sorted
    * within each bucket file: parquet row-group min/max on term then lets
    * a term-restricted read skip row groups INSIDE the hit bucket too —
    * directory pruning picks the bucket, statistics prune within it. */
  private def writePostings(postings: DataFrame, buckets: Int, path: String,
                            mode: String): Unit =
    Layout.writer(postings.withColumn("bucket", termBucket(buckets))
        .repartition(buckets, col("bucket"))
        .sortWithinPartitions(col("bucket"), col("term")))
      .mode(mode).partitionBy("bucket").parquet(s"$path/postings")

  /** Reciprocal-rank fusion — hybrid retrieval's standard combiner: each
    * input ranking ((q_id, rnk, idCol) rows) contributes
    * round(10⁶/(k₀+rnk)) to its candidates, contributions integer-sum
    * per (query, doc), fused top-k by (score desc, id asc). Fixed-point
    * per-list terms make the fusion order-independent and
    * oracle-replayable; candidates missing from a list simply lack that
    * list's term (the standard RRF convention). Cost: a union of the
    * already-bounded top-k lists (|Q|·k rows per ranker) — the fusion
    * itself never touches the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val contribs = rankings.map(r => r.select(col("q_id"), col(idCol),
      round(lit(1e6) / (lit(k0) + col("rnk"))).cast("bigint").as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(col("q_id"), col(idCol))
      .agg(sum(col("c")).as("rrf_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("rrf_micro"), asc(idCol))
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col(idCol), col("rrf_micro"))
  }

  /** Convex (alpha-weighted) score fusion — the other standard hybrid
    * combiner: each leg's scores are min-max normalized to [0, 1] WITHIN
    * its own per-query top list (scores across legs aren't commensurable;
    * ranks-only fusion is [[rrfFuse]]), then fused as
    * alpha·dense + (1−alpha)·sparse, reported in integer micro-units.
    * Inputs are (q_id, idCol, score) frames — each leg's already-bounded
    * top-k list. Conventions: a leg whose per-query list has one distinct
    * score normalizes to 1.0 (every member is that leg's best); a
    * candidate missing from a leg contributes 0 from it (same as RRF's
    * missing-term rule). The per-(query, doc) sum has at most two
    * addends, so IEEE addition order cannot perturb it and the single
    * round-to-micro happens once at the end — bit-replayable by the SQL
    * twin. Cost: windows and a union over |Q|·k rows per leg; the corpus
    * is never touched.
    */
  def linearFuse(sparse: DataFrame, dense: DataFrame, idCol: String,
                 alpha: Double = 0.5, topK: Int = 10): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1]: $alpha")
    def norm(leg: DataFrame, weight: Double): DataFrame = {
      val w = Window.partitionBy(col("q_id"))
      leg.select(col("q_id"), col(idCol), col("score").cast("double").as("s"))
        .withColumn("__mn", min(col("s")).over(w))
        .withColumn("__mx", max(col("s")).over(w))
        .select(col("q_id"), col(idCol),
          (lit(weight) * when(col("__mx") === col("__mn"), lit(1.0))
            .otherwise((col("s") - col("__mn")) /
              (col("__mx") - col("__mn")))).as("c"))
    }
    val fused = norm(sparse, 1.0 - alpha).unionByName(norm(dense, alpha))
      .groupBy(col("q_id"), col(idCol))
      .agg(round(lit(1e6) * sum(col("c"))).cast("bigint").as("fused_micro"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(desc("fused_micro"), asc(idCol))
    fused.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= topK)
      .select(col("q_id"), col("rnk"), col(idCol), col("fused_micro"))
  }

  /** Retrieval-quality evaluation (MRR, nDCG@10) over a ranked top-10
    * list — the eval harness every retrieval deployment watches next to
    * its recall audit. Relevance is label-match: a hit is relevant iff
    * its `langCol` equals the query doc's language and it is not the
    * query doc itself (the standard leave-self-out qrels rule when the
    * corpus is its own query set).
    *
    * Bit-exactness contract: the rank-r discount 1/log2(r+1) is NOT
    * recomputed per engine (libm log2 is not correctly rounded, so two
    * engines could disagree in the last ulp) — the ten values are a
    * HARD-CODED micro-unit gain table shared verbatim with the oracle.
    * DCG/IDCG are then order-independent BIGINT sums, and the single
    * nDCG division happens once on those integers.
    *
    * Scale shape: the ranked list is |queries|·10 rows and broadcasts
    * everywhere; the only corpus-sized work is one scan of the (id,
    * lang) projection for the relevance totals — text never loads.
    */
  def retrievalEval(ranked: DataFrame, docs: DataFrame, idCol: String,
                    langCol: String): DataFrame = {
    // round(1e6 / log2(r+1)) for r = 1..10 — shared with the SQL twin
    val gains = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
      356207L, 333333L, 315465L, 301030L, 289065L)
    val gainArr = array(gains.map(lit): _*)
    val langs = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
    val ql = langs.join(broadcast(ranked.select(col("q_id")).distinct()),
        col("doc_id") === col("q_id"))
      .select(col("q_id"), col("lang").as("q_lang"))
    val j = langs
      .join(broadcast(ranked.select(col("q_id"), col("rnk"), col("doc_id"))),
        Seq("doc_id"))
      .join(broadcast(ql), Seq("q_id"))
      .withColumn("rel",
        (col("lang") === col("q_lang") && col("doc_id") =!= col("q_id"))
          .cast("int"))
      .withColumn("gain", element_at(gainArr, col("rnk").cast("int")))
    val per = j.groupBy(col("q_id"))
      .agg(sum(col("rel")).cast("bigint").as("n_rel_at10"),
        coalesce(min(when(col("rel") === 1, col("rnk"))), lit(0))
          .cast("bigint").as("first_rel"),
        sum(when(col("rel") === 1, col("gain")).otherwise(0L))
          .cast("bigint").as("dcg_micro"))
    // relevance totals from ONE per-lang aggregate (optimization round
    // 15): n_rel_total(q) = |{d : lang(d) = q_lang, d ≠ q}| is exactly
    // langCount(q_lang) − 1 — q's own doc always carries q_lang by
    // construction of ql — so the corpus-sized lang===q_lang join (a
    // second full pass over the (id, lang) projection per eval) becomes
    // a |langs|-row join against partial-aggregated counts. A query
    // whose language has no OTHER doc produced no rtot row under the
    // old inner join; the filter reproduces that drop exactly.
    val langCounts = langs.groupBy(col("lang")).agg(count(lit(1)).as("__n"))
    val rtot = ql.join(broadcast(langCounts), col("q_lang") === col("lang"))
      .select(col("q_id"), (col("__n") - lit(1L)).as("n_rel_total"))
      .filter(col("n_rel_total") >= 1)
    per.join(rtot, Seq("q_id"))
      .select(col("q_id"), col("n_rel_total"), col("n_rel_at10"),
        when(col("first_rel") === 0, 0L)
          .otherwise(round(lit(1e6) / col("first_rel").cast("double")))
          .cast("bigint").as("rr_micro"),
        col("dcg_micro"),
        aggregate(slice(gainArr, lit(1), least(col("n_rel_total"), lit(10L))
          .cast("int")), lit(0L), (acc, x) => acc + x).as("idcg_micro"))
      .withColumn("ndcg_ppm",
        when(col("idcg_micro") === 0, 0L)
          .otherwise(round(lit(1e6) * (col("dcg_micro").cast("double") /
            col("idcg_micro").cast("double")))).cast("bigint"))
  }

  /** Class-based TF-IDF topic terms (the BERTopic "c-TF-IDF" labeling
    * step, exact-integer spelling): for each class, the `topK` terms by
    * score_ppm = (class term count · 10^6) div document frequency — tf
    * rewards terms concentrated in the class, the df divisor punishes
    * corpus-wide boilerplate, and keeping the score an integer rational
    * of two exact counts makes every rank cross-engine checkable (no
    * log(), no float). Ties break on the term string.
    *
    * Scale shape: one token explode → (class, term) partial-agg counts;
    * df is a term-keyed groupBy over per-doc distinct terms (shares the
    * explode); the join back is term-keyed (vocabulary-sized, AQE
    * broadcasts when it fits) and the final per-class top-k plans as
    * WindowGroupLimit — no global sort, classes rank in parallel.
    */
  def classTopTerms(docs: DataFrame, classCol: String, textCol: String,
                    topK: Int = 3): DataFrame = {
    val toks = docs.select(col(classCol).as("cls"),
        explode(Dedup.portableTokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col("cls"), col("term"))
      .agg(count(lit(1)).as("tf_c"))
    val df = docs.select(col(classCol),
        explode(array_distinct(Dedup.portableTokens(col(textCol))))
          .as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df_t"))
    val w = Window.partitionBy(col("cls"))
      .orderBy(col("score_ppm").desc, col("term"))
    tf.join(df, Seq("term"))
      .withColumn("score_ppm",
        expr("tf_c * 1000000 div df_t"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("cls"), col("rank"), col("term"), col("tf_c"),
        col("df_t"), col("score_ppm"))
  }

  /** [[bm25TopK]] against a store: identical scoring expressions over the
    * stored integers, so results are row-identical to the inline build
    * (pinned in RetrievalSpec) — but the query plan scans only the store,
    * never corpus text. Only the QUERY TERMS' dfreq rows participate: the
    * df table is semi-joined down to the broadcast term set first, so at
    * corpus scale the |V|-row table contributes a handful of rows, not a
    * shuffle.
    */
  def bm25TopKStored(store: Bm25Store, queries: DataFrame, idCol: String,
                     qIdCol: String, qTextCol: String,
                     k1: Double = 1.2, b: Double = 0.75,
                     topK: Int = 10): DataFrame =
    topKOf(bm25ScoresStored(store, queries, idCol, qIdCol, qTextCol, k1, b),
      idCol, topK)

  /** [[bm25Scores]] against a store — the scored stream for filter-then-
    * rank consumers, with the store's only-query-terms'-postings scan
    * shape (the production spelling of hard-negative mining / diverse
    * retrieval: candidates score off the frozen index, predicates run on
    * the scored rows, then ONE bounded top-k window).
    */
  def bm25ScoresStored(store: Bm25Store, queries: DataFrame, idCol: String,
                       qIdCol: String, qTextCol: String,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame =
    scoresStoredOf(store, queryTerms(queries, qIdCol, qTextCol), idCol, k1, b)

  /** The stored scoring tail over an explicit (q_id, term) set — shared
    * by [[bm25ScoresStored]] (original query terms) and
    * [[bm25PrfTopKStored]] (both the feedback pass and the expanded
    * pass), so every stored spelling scores identical integers through
    * identical expressions regardless of where its term set came from.
    *
    * ONE fused broadcast (optimization round 15): the query side carries
    * everything the scorer needs per (q_id, term) — df joined in, the
    * 1-row stats cross-joined on — so the postings-sized stream takes a
    * SINGLE broadcast join instead of the previous three (bucketed term
    * set, then semi-restricted dfreq, then stats). The two dropped joins
    * move onto the |query-terms|-row broadcast BUILD, where they cost
    * |qt| rows instead of |postings-hits| rows — measured 1.24 s →
    * 1.03 s min-of-4 on d_bm25_topk_stored (same-JVM A/B, row-identical
    * hashes); at 100 TB it is two fewer joins applied to every hit
    * postings row. Same inner-join semantics: a query term absent from
    * dfreq cannot appear in postings either, and df/n_docs/tot are
    * per-term/global constants, so duplicating them onto the broadcast
    * changes no contribution. Directory pruning is unchanged — the
    * equi-join on the `bucket` partition column still drives DPP.
    */
  private def scoresStoredOf(store: Bm25Store, qt: DataFrame, idCol: String,
                             k1: Double, b: Double): DataFrame = {
    val qmeta = qt
      .join(store.dfreq, Seq("term"))
      .crossJoin(broadcast(store.stats))
    val contrib = ((store.bucketed, store.buckets) match {
      case (Some(bp), Some(nb)) =>
        bp.join(broadcast(qmeta.withColumn("bucket", termBucket(nb))),
          Seq("bucket", "term")).drop("bucket")
      case _ => store.postings.join(broadcast(qmeta), Seq("term"))
    }).withColumn("c", contribExpr(k1, b))
    scoredOf(contrib, idCol)
  }

  /** [[bm25PrfTopK]] against a written store — BOTH ranking passes and
    * the expansion mining lean on the store's postings/dfreq/stats
    * instead of rebuilding the corpus aggregates inside the query (the
    * shared-scoring-tail discipline that makes inline and stored BM25F
    * row-identical by construction). Row-identical to the inline PRF:
    * the store carries the same exact integers (tf, dl, df, N, total)
    * the inline aggregates compute, and every downstream expression is
    * shared — pinned in RetrievalSpec, graded by the same oracle.
    *
    * Scale shape: pass 1 is the stored-postings scan restricted to
    * broadcast query terms (the [[bm25TopKStored]] plan — corpus text
    * never loads); mining joins the |Q|·fbDocs feedback set (broadcast)
    * against ONE more postings scan to collect the feedback docs' term
    * frequencies — the only stage that reads non-query-term postings
    * rows, priced at one scan of an integers-only table; idf for
    * candidate terms comes from the stored |V|-row dfreq (never
    * recounted); pass 2 scans ONLY the ≤fbTerms expansion terms'
    * postings and integer-adds the pass-1 scores (the additive
    * decomposition below). The combine is a full-outer join on
    * (q_id, id): both sides are aggregates ALREADY hash-partitioned on
    * exactly those keys, so the join plans with zero added exchanges —
    * and the duplicated pass-1 subtree is one AQE-reused shuffle stage,
    * not a recompute. A same-JVM three-arm A/B at sf0.1 ×1/×30
    * replication (f5c0667:probes/ScratchAB.scala) ranked this spelling
    * first at BOTH
    * scales over (a) the same plan with an eager localCheckpoint on
    * pass 1 (the checkpoint's extra job + block writes cost more than
    * the stage reuse it replaces) and (b) scoring qt ∪ exp in one
    * aggregate (re-reads every original term's postings AND re-shuffles
    * the combined contribution stream).
    */
  def bm25PrfTopKStored(store: Bm25Store, queries: DataFrame, idCol: String,
                        qIdCol: String, qTextCol: String,
                        fbDocs: Int = 10, fbTerms: Int = 5,
                        k1: Double = 1.2, b: Double = 0.75,
                        topK: Int = 10): DataFrame = {
    val qt = queryTerms(queries, qIdCol, qTextCol)
    // pass-1 scores feed the feedback ranking AND return as the
    // query-term half of the pass-2 sum below. The subtree appears
    // twice in one action DAG with identical canonical form — AQE
    // shares the shuffle stage, so the original-term postings are
    // read once per query batch; no eager materialization needed
    val s1 = scoresStoredOf(store, qt, idCol, k1, b)
    val fb = topKOf(s1, idCol, fbDocs).select(col("q_id"), col(idCol))
    // expansion mining off the store: feedback tf from postings, idf from
    // the stored df table — same integer weight (fbtf × idf_micro) and
    // the same (w desc, term asc) tie rule as the inline spelling
    val idfMicro = store.dfreq
      .crossJoin(broadcast(store.stats.select(col("n_docs"))))
      .select(col("term"), round(lit(1e6) *
        log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0))).cast("bigint").as("idf_micro"))
    val cand = store.postings.join(broadcast(fb), Seq(idCol))
      .groupBy(col("q_id"), col("term")).agg(sum(col("tf")).as("fbtf"))
      .join(qt, Seq("q_id", "term"), "left_anti")
      .join(idfMicro, Seq("term"))
      .withColumn("w", col("fbtf") * col("idf_micro"))
    val wExp = Window.partitionBy(col("q_id"))
      .orderBy(desc("w"), asc("term"))
    val expansion = cand.withColumn("__rn", row_number().over(wExp))
      .filter(col("__rn") <= fbTerms)
      .select(col("q_id"), col("term"))
    // pass 2 by ADDITIVE DECOMPOSITION: a (query, doc) score is an
    // integer SUM of per-term contributions and the expansion terms are
    // DISJOINT from the originals (left_anti above), so
    // score(qt ∪ exp) = score(qt) + score(exp) exactly — pass 2 scores
    // ONLY the ≤fbTerms new terms' postings. The full-outer combine on
    // (q_id, id) adds NO exchange: both aggregates already partition on
    // those keys. Bit-identical to scoring qt ∪ exp directly (integer
    // addition is associative), which is what the inline spelling does
    // and the row-identity pin checks.
    val sExp = scoresStoredOf(store, expansion, idCol, k1, b)
    val s2 = s1.withColumnRenamed("score", "__s1")
      .join(sExp.withColumnRenamed("score", "__s2"),
        Seq("q_id", idCol), "full_outer")
      .select(col("q_id"), col(idCol),
        (coalesce(col("__s1"), lit(0L)) + coalesce(col("__s2"), lit(0L)))
          .as("score"))
    topKOf(s2, idCol, topK)
  }

  /** End-to-end dual-encoder training examples: each document's co-chunk
    * pairs ([[TextAnalysis.coChunkPairs]] — two non-overlapping token
    * windows, the SimCSE/Contriever positive) composed with BM25 hard
    * negatives mined from a FROZEN chunk-postings store, own parent doc
    * excluded — the actual (anchor, positive, negatives) record a
    * retrieval trainer consumes, built in one operator instead of three
    * ad-hoc joins.
    *
    * Chunk ids pack as id·2^chunkIdBits + chunk (the engine's cid
    * convention), so the parent-doc exclusion is a shift compare on the
    * SCORED stream before the ONE bounded top-negK window — never a
    * rank-all. Scale shape: positives are pure map-side (two slices of
    * one token array); negative mining is the [[bm25ScoresStored]] plan
    * (anchor term sets broadcast against stored postings, corpus text
    * never loads). Each doc's examples depend only on its own text and
    * the frozen store, so the construction is batch-split invariant —
    * the streaming spelling
    * ([[graft.streaming.EventStream.streamingContrastiveExamples]]) is
    * pinned row-identical in StreamingSpec.
    *
    * Returns (idCol, a_chunk, b_chunk, a_text, b_text, neg_rank,
    * neg_cid, score).
    */
  def contrastiveExamples(docs: DataFrame, store: Bm25Store, idCol: String,
                          textCol: String, size: Int = 16, stride: Int = 8,
                          negK: Int = 3, chunkIdBits: Int = 20,
                          storeIdCol: String = "cid",
                          k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val pairs = TextAnalysis.coChunkPairs(docs, idCol, textCol, size, stride)
    val anchors = pairs.select(
      (shiftleft(col(idCol).cast("long"), chunkIdBits) + col("a_chunk"))
        .as("aid"),
      col("a_text"))
    val scores = bm25ScoresStored(store, anchors, storeIdCol,
        "aid", "a_text", k1, b)
      .filter(shiftright(col(storeIdCol), chunkIdBits) =!=
        shiftright(col("q_id"), chunkIdBits))
    val negs = topKOf(scores, storeIdCol, negK, rankName = "neg_rank")
    pairs.select(
        (shiftleft(col(idCol).cast("long"), chunkIdBits) + col("a_chunk"))
          .as("q_id"),
        col(idCol), col("a_chunk"), col("b_chunk"),
        col("a_text"), col("b_text"))
      .join(negs, Seq("q_id"))
      .select(col(idCol), col("a_chunk"), col("b_chunk"),
        col("a_text"), col("b_text"),
        col("neg_rank"), col(storeIdCol).as("neg_cid"), col("score"))
  }

  /** Fold a batch of NEW documents into a FIELDED index — the
    * [[bm25ApplyDelta]] discipline for [[Bm25fStore]]: postings union
    * (disjoint ids ⇒ a pure multiset add) and per-field stats integer
    * adds; whole-doc df needs no merge step because the fielded layout
    * derives it from the (query-restricted) postings at score time, so
    * nothing here ever re-reads historical text or re-splits fields.
    * Associative and batch-split invariant like every incremental gate
    * in this engine; merged ≡ full rebuild is what the
    * d_bm25f_incremental oracle hash-checks.
    */
  def bm25fApplyDelta(store: Bm25fStore, added: DataFrame, idCol: String,
                      textCol: String, titleTokens: Int = 8): Bm25fStore = {
    val terms = maybeCkpt(fieldTerms(added, idCol, textCol, titleTokens))
    // the 2-row merged stats are built on the driver ([[mergedFieldedRows]],
    // the persisted merge's rule too): the scoring tail consumes stats in
    // two broadcast builds (avgdl_f, n_docs), and a lazy stats plan re-ran
    // the batch count and the tot_f aggregate in each of them
    val t = terms.agg(count(lit(1)), FieldTags.indices.map(i =>
      coalesce(fieldTokens(i), lit(0L))): _*).head()
    val stored = store.stats.select(col("f"), col("n_docs"), col("tot_f"))
      .collect().toSeq
    val stats = added.sparkSession.createDataFrame(java.util.List.of(
      mergedFieldedRows(stored, t.getLong(0),
        FieldTags.zipWithIndex.map { case (f, i) => f -> t.getLong(i + 1) }
      ): _*), FieldedStatsSchema)
    Bm25fStore(store.postings.unionByName(
      bm25fComponentsOf(terms, idCol).postings), stats)
  }

  /** The merged fielded stats rows, on the driver: the stored
    * (f, n_docs, tot_f) rows plus a batch of `n` documents whose fields
    * hold `tots` tokens. Per-field tot_f integer adds + ONE corpus-level
    * n_docs add: n_docs is a CORPUS-level constant duplicated onto every
    * field row (the avgdl_f denominator counts all docs) — merge it as
    * one, never per-field: a batch with no tokens in some field (or none
    * at all) adds no row for it, but its docs still count. */
  private def mergedFieldedRows(stored: Seq[Row], n: Long,
                                tots: Seq[(String, Long)]): Seq[Row] = {
    def long(r: Row, i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    val nDocs = stored.map(long(_, 1)).maxOption.getOrElse(0L) + n
    val storedTot = stored.map(r => r.getString(0) -> long(r, 2))
    val added = tots.filter(_._2 > 0)
    (storedTot ++ added).map(_._1).distinct.map { f =>
      Row(f, nDocs, storedTot.toMap.getOrElse(f, 0L) +
        added.toMap.getOrElse(f, 0L))
    }
  }

  /** Mutating a store that predates the erasable layout (no id sidecar,
    * unbucketed postings files) would mix physical layouts silently —
    * refuse with the rebuild instruction instead.
    */
  private def requireErasableLayout(spark: SparkSession,
                                    path: String): Unit = {
    require(Layout.exists(spark, s"$path/docs"),
      s"$path predates the erasable store layout (no id sidecar at " +
        s"$path/docs, postings not bucket-partitioned) — rebuild the " +
        "index from source before merging or erasing.")
  }

  /** Whether `path` holds the PLAIN layout (it carries a dfreq table;
    * the fielded layout derives df at score time and has none) — the
    * fact the store records about its layout, from which the forget
    * picks its statistics step and the search source its scorer.
    */
  def isPlainBm25StoreAt(spark: SparkSession, path: String): Boolean =
    Layout.exists(spark, s"$path/dfreq")

  /** The forget FINDER's hit-row scan, restricted to the tombstoned docs'
    * OWN postings buckets when the id sidecar carries them (`tbuckets`,
    * recorded at ingest): a doc's postings rows live only in its term
    * buckets by construction, so the semi-join that locates hit rows (for
    * df/stats decrements and the hit-directory list) reads ≤ |tombstoned
    * docs' buckets| directories instead of every one — the `_graft_ids`
    * sidecar discipline applied to the postings layout. The bucket list
    * comes OFF THE JOINED SIDECAR ROWS, never recomputed from the
    * tombstone frame (xxhash64 is type-sensitive; recomputing from an
    * id column delivered as a different numeric type would prune the
    * wrong directories). Pre-tbuckets stores fall back to the full scan.
    */
  private def prunedHitScan(postings: DataFrame,
                            present: DataFrame): DataFrame =
    if (present.columns.contains("tbuckets") &&
        // a MIXED sidecar (pre-tbuckets store later merged by the new
        // code) reads legacy rows as tbuckets = NULL under the merged
        // schema; explode would silently DROP those docs from the hit
        // scan — erasing their stats but leaving their postings behind.
        // Any null among the (tombstone-bounded) present rows ⇒ full
        // scan; pruning resumes once the store is rebuilt on v5.
        present.filter(col("tbuckets").isNull).isEmpty) {
      val tb = present.select(explode(col("tbuckets")).as("__b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      postings.filter(col("bucket").isInCollection(tb))
    } else postings

  /** Right-to-erasure for a written BM25 store, plain or fielded, IN
    * PLACE — the [[graft.operators.Similarity.forgetIvfStoreAt]]
    * discipline applied to the postings layout: after this call a
    * tombstoned doc is not retrievable by ANY stored-scoring row, and
    * every statistic the scorer reads is exactly what a rebuild on the
    * survivors would hold — forget ≡ rebuild is what the
    * d_bm25_forget_stored and d_bm25f_forget_stored oracles hash-check.
    *
    * Work done per erasure batch: the shared finder
    * ([[Layout.findTombstones]]) locates the tombstoned docs in the id
    * sidecar; ONE id-column scan of their own postings buckets
    * ([[prunedHitScan]]) yields the hit term-hash directories plus the
    * tombstoned rows' (term, tf) pairs; survivors of ONLY those
    * directories rewrite (dynamic partition overwrite; fully-emptied
    * directories removed), and the sidecar compacts by the same
    * per-directory rule. The statistics step follows the layout the
    * store records ([[isPlainBm25StoreAt]]):
    *  - plain: df decrements by the per-term hit-row counts via one
    *    outer join on the |V|-row table, terms whose df reaches zero
    *    LEAVE the vocabulary (a rebuilt store would not carry them), and
    *    the 1-row stats integer-subtracts n_docs and total tokens;
    *  - fielded: per-field tot_f decrements (Σ tf of the hit rows per
    *    field) and ONE corpus-level n_docs decrement; there is no df
    *    table — the fielded layout derives whole-doc df from
    *    query-restricted postings at score time, so erased rows simply
    *    stop being counted.
    * n_docs is counted against the id SIDECAR, so zero-token docs —
    * postings-invisible but avgdl-relevant — decrement exactly. Ids
    * never ingested are ignored; a re-run after completion finds no
    * members and no-ops (idempotent).
    *
    * Crash safety: the mutation runs under the staged
    * `_graft_merge_pending` marker ([[Layout.withPendingMarkerStaged]]) —
    * a forget that dies between its writes leaves the marker, and every
    * later mutation or sink ingest refuses with the rebuild instruction
    * instead of compounding a half-applied erasure. Single-writer like
    * every store mutation.
    */
  def forgetBm25StoreAt(spark: SparkSession, path: String,
                        tombstones: DataFrame, idCol: String): Unit = {
    requireErasableLayout(spark, path)
    Layout.findTombstones(spark, path, s"$path/docs", tombstones, idCol,
        "dbucket", readLayoutMeta(spark, path)).foreach { t =>
      // read after the finder's marker refusal: a crash inside a dfreq
      // replace would otherwise read as the fielded layout
      val plain = isPlainBm25StoreAt(spark, path)
      // staged: every read and survivor plan materializes BEFORE the
      // first write — a failure in that phase releases the marker
      // (nothing was mutated); a failure between the writes leaves it
      Layout.withPendingMarkerStaged(spark, path)({
        val postings = spark.read.parquet(s"$path/postings")
        val hitP = prunedHitScan(postings, t.present)
          .join(broadcast(t.ids), Seq(idCol), "left_semi")
          .localCheckpoint()
        val stats = spark.read.parquet(s"$path/stats")
        // (replacement, table) pairs, replaced in order after the
        // compactions — stats last, the store's commit signal
        val tables =
          if (plain) {
            val totDec = hitP.agg(coalesce(sum(col("tf")), lit(0L)).as("t"))
              .head().getLong(0)
            val dfDec = hitP.groupBy(col("term"))
              .agg(count(lit(1)).as("__dec"))
            val newDfreq = spark.read.parquet(s"$path/dfreq")
              .join(dfDec, Seq("term"), "left_outer")
              .select(col("term"),
                (col("df") - coalesce(col("__dec"), lit(0L))).as("df"))
              .filter(col("df") > 0).localCheckpoint()
            val newStats = stats
              .select((col("n_docs") - t.count).as("n_docs"),
                (col("tot") - totDec).as("tot")).localCheckpoint()
            Seq(newDfreq.repartition(4, col("term")) -> s"$path/dfreq",
              newStats.coalesce(1) -> s"$path/stats")
          } else {
            val fDec = hitP.groupBy(col("f")).agg(sum(col("tf")).as("__dec"))
            val newStats = stats
              .join(broadcast(fDec), Seq("f"), "left_outer")
              .select(col("f"), (col("n_docs") - t.count).as("n_docs"),
                (col("tot_f") - coalesce(col("__dec"), lit(0L))).as("tot_f"))
              .localCheckpoint()
            Seq(newStats.coalesce(1) -> s"$path/stats")
          }
        val postPlan = Layout.planCompaction(spark, s"$path/postings",
          "bucket", postings, t.ids, idCol,
          Layout.partitionHits(hitP, "bucket"), sortCols = Seq("term"))
        val docsPlan = Layout.planCompaction(spark, s"$path/docs",
          "dbucket", t.sidecar, t.ids, idCol,
          Layout.partitionHits(t.present, "dbucket"), sortCols = Seq(idCol))
        (postPlan, docsPlan, tables)
      }) { case (postPlan, docsPlan, tables) =>
        postPlan.foreach(Layout.execDirRewrite(spark, _))
        docsPlan.foreach(Layout.execDirRewrite(spark, _))
        tables.foreach { case (df, dir) => Layout.replaceDir(df, dir) }
      }
    }
  }

  /** Erase every CHUNK of the tombstoned parent docs from a chunk-grain
    * BM25 store (keys are cids packed as doc_id·2^chunkIdBits + chunk —
    * the engine's cid convention): the parent → cid expansion reads ONLY
    * the id sidecar (one integer per stored chunk), never the postings,
    * then delegates to [[forgetBm25StoreAt]] with the exact cid set. A
    * GDPR request arrives doc-grained; this is the one-call spelling
    * that makes the chunk index comply without the caller re-deriving
    * the chunking.
    */
  def forgetBm25ChunkStoreAt(spark: SparkSession, path: String,
                             docTombstones: DataFrame, docIdCol: String,
                             storeIdCol: String = "cid",
                             chunkIdBits: Int = 20): Unit = {
    requireErasableLayout(spark, path)
    val tomb = docTombstones
      .select(col(docIdCol).cast("long").as("__parent")).distinct()
    // checkpoint the expanded cid set: the delegate broadcasts it into
    // four separate consumers (membership count, hit-row scan, both
    // compactions), and the lazy plan would re-scan the sidecar each
    // time — including while the same call rewrites it
    val cids = spark.read.parquet(s"$path/docs")
      .select(col(storeIdCol))
      .join(broadcast(tomb),
        shiftright(col(storeIdCol), chunkIdBits) === col("__parent"),
        "left_semi")
      .localCheckpoint()
    forgetBm25StoreAt(spark, path, cids, storeIdCol)
  }
}
